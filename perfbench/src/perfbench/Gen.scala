package perfbench

import java.nio.charset.StandardCharsets.UTF_8

/** Seeded input generators. Everything a workload feeds the program comes
  * from here, on the calling thread, and the expected results the output
  * checks compare against are computed here in plain Scala. */
object Gen {
  val Sites = 8
  val Devices = 64
  val Regions = 5
  /** proto3 schema of the telemetry payloads */
  val ProtoSchema: String =
    """syntax = "proto3";
      |message Reading {
      |  int32 device = 1;
      |  sint64 milli = 2;
      |  int32 level = 3;
      |  string site = 4;
      |}
      |""".stripMargin
  val T0Micros = 1700000000000000L // 2023-11-14T22:13:20Z

  def site(device: Int): Int = device % Sites
  def region(device: Int): Int = device % Regions
  def subject(device: Int): String = s"telem.s${site(device)}.d$device"

  /** Zipf-like device popularity: weight of rank r is 1 / (r + 1)^1.1, with
    * the rank order itself shuffled by the seed. */
  final class DevicePicker(rng: java.util.SplittableRandom) {
    private val order = {
      val a = (0 until Devices).toArray
      for (i <- a.length - 1 to 1 by -1) {
        val j = rng.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
      }
      a
    }
    private val cdf = {
      val w = (0 until Devices).map(r => 1.0 / math.pow(r + 1, 1.1))
      w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
    }
    def next(): Int = {
      val u = rng.nextDouble()
      var i = java.util.Arrays.binarySearch(cdf, u)
      if (i < 0) i = -i - 1
      order(math.min(i, Devices - 1))
    }
  }

  /** A telemetry stream: message i has seq `i + 1`; `ts` strictly
    * increases (0.2–2 ms apart). Payloads are proto or JSON. */
  final class Telemetry(val n: Int, proto: Boolean, seed: Long) {
    private val rng = new java.util.SplittableRandom(seed)
    private val picker = new DevicePicker(rng)
    val device = new Array[Int](n)
    val milli = new Array[Long](n)
    val level = new Array[Int](n)
    val tsUs = new Array[Long](n)
    val payload = new Array[Array[Byte]](n)
    locally {
      var t = T0Micros
      var i = 0
      while (i < n) {
        val d = picker.next()
        device(i) = d
        milli(i) = rng.nextLong(-20000L, 60000L)
        level(i) = rng.nextInt(100)
        t += rng.nextLong(200L, 2000L)
        tsUs(i) = t
        payload(i) =
          if (proto) encodeReading(d, milli(i), level(i), s"s${site(d)}")
          else s"""{"device":$d,"site":"s${site(d)}","level":${level(i)},"milli":${milli(i)}}"""
            .getBytes(UTF_8)
        i += 1
      }
    }
    def seq(i: Int): Long = i + 1L
    def payloadBytes: Long = payload.iterator.map(_.length.toLong).sum
  }

  private def varint(out: java.io.ByteArrayOutputStream, v0: Long): Unit = {
    var v = v0
    while ((v & ~0x7FL) != 0L) { out.write(((v & 0x7F) | 0x80).toInt); v >>>= 7 }
    out.write(v.toInt)
  }

  /** proto3 wire encoding of `Reading`, written independently of the
    * program's codec */
  def encodeReading(device: Int, milli: Long, level: Int, site: String): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(24)
    if (device != 0) { varint(out, 1 << 3); varint(out, device.toLong) }
    if (milli != 0L) { varint(out, 2 << 3); varint(out, (milli << 1) ^ (milli >> 63)) }
    if (level != 0) { varint(out, 3 << 3); varint(out, level.toLong) }
    val s = site.getBytes(UTF_8)
    varint(out, (4 << 3) | 2); varint(out, s.length.toLong); out.write(s)
    out.toByteArray
  }

  /** A document stream for the dedup gate. Doc i is seq `i + 1`. Kinds:
    * 0 = unique (fresh random words), 1 = exact copy of an earlier unique,
    * 2 = near copy of an earlier unique (2 of its words replaced). */
  final class Docs(val n: Int, dupShare: Double, nearShare: Double, seed: Long) {
    private val rng = new java.util.SplittableRandom(seed)
    val kind = new Array[Byte](n)
    val text = new Array[String](n)
    val tsUs = new Array[Long](n)
    val payload = new Array[Array[Byte]](n)
    private val Vocab = 20000
    private val Words = 30
    locally {
      val uniques = new scala.collection.mutable.ArrayBuffer[Array[Int]]()
      var t = T0Micros
      var i = 0
      while (i < n) {
        val u = rng.nextDouble()
        val k = if (uniques.size < 8) 0 else if (u < dupShare) 1
                else if (u < dupShare + nearShare) 2 else 0
        // copies look back at most 3000 uniques: they land in the same or
        // a recent gate batch
        def recent(): Array[Int] =
          uniques(uniques.size - 1 - rng.nextInt(math.min(uniques.size, 3000)))
        val words = k match {
          case 0 =>
            val w = Array.fill(Words)(rng.nextInt(Vocab)); uniques += w; w
          case 1 => recent()
          case _ =>
            val w = recent().clone()
            w(rng.nextInt(Words)) = rng.nextInt(Vocab)
            w(rng.nextInt(Words)) = rng.nextInt(Vocab)
            w
        }
        kind(i) = k.toByte
        text(i) = words.map(x => s"w$x").mkString(" ")
        t += rng.nextLong(200L, 2000L)
        tsUs(i) = t
        payload(i) = s"""{"text":"${text(i)}"}""".getBytes(UTF_8)
        i += 1
      }
    }
    def seq(i: Int): Long = i + 1L
  }
}
