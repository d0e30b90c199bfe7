package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.nats.{NatsScan, NatsScanOptions}

/** What one measured pass of a workload produced. `latMs` are the
  * operation latencies behind latency_*; `peakHeapMb` is the heap peak of
  * the measured phase ([[PeakHeap]]); `layer` holds the traced pass's
  * workload-specific per-layer numbers. */
final case class Outcome(latMs: Seq[Double], msgsPerS: Double, appendMs: Seq[Double],
                         bytesPerInputByte: Double, peakHeapMb: Double, attempted: Long,
                         failed: Long, layer: Map[String, Double], report: Map[String, Any])

/** One workload: `generate` builds its inputs from the seed in memory,
  * `setup` ingests them into a fresh store directory through the program,
  * `measure` drives the program for `seconds` and checks every output. */
abstract class Workload(val spark: SparkSession, val seed: Long) {
  def setup(dir: File, tracer: Tracer): Unit
  def measure(dir: File, tracer: Tracer, seconds: Double): Outcome

  /** wall ms of every append made through [[append]] since the last reset */
  protected val appendLog = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
  def resetAppends(): Unit = appendLog.clear()

  /** Appends rows [from, until) of a generated stream to `stream` in `dir`
    * as one nats_scan batch write (one part file). */
  protected def append(tracer: Tracer, dir: File, stream: String, from: Int, until: Int,
                       subject: Int => String, seq: Int => Long, tsUs: Int => Long,
                       payload: Int => Array[Byte], record: Boolean = true): Double = {
    val rows = new java.util.ArrayList[Row](until - from)
    var i = from
    while (i < until) {
      rows.add(Row(stream, subject(i), seq(i), tsUs(i), payload(i))); i += 1
    }
    val (_, o) = tracer.op("append", "sources") {
      spark.createDataFrame(rows, Workload.RawSchema).coalesce(1)
        .select(col("stream"), col("subject"), col("seq"),
          timestamp_micros(col("ts_us")).as("ts_nats"), col("payload"))
        .write.format("nats_scan").option("dir", dir.getPath)
        .option("stream", stream).mode("append").save()
    }
    if (record) appendLog.add(o.ms)
    o.ms
  }

  protected def appendsMs: Seq[Double] = appendLog.asScala.toSeq

  protected def storeDir(dir: File, stream: String) = new File(dir, s"$stream.msgs")

  /** committed part files of a native store */
  protected def partFiles(d: File): Seq[File] =
    Option(d.listFiles()).toSeq.flatten.filter(f => f.isFile &&
      f.getName.endsWith(".parquet") && !f.getName.startsWith("_") && !f.getName.startsWith("."))

  protected def bytesUnder(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(bytesUnder).sum
    else if (f.getName.endsWith(".crc")) 0L else f.length()

  protected def rowGroups(files: Seq[File]): Long = files.map { f =>
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(f.getPath), new org.apache.hadoop.conf.Configuration())
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try r.getRowGroups.size.toLong finally r.close()
  }.sum

  /** per-layer numbers of the write path, common to every workload */
  protected def storeLayer(stores: Seq[File]): Map[String, Double] = Map(
    "sources.append_ms" -> Stats.median(appendsMs),
    "sources.store_files" -> stores.map(s => partFiles(s).size).sum.toDouble,
    "sources.store_bytes" -> stores.map(bytesUnder).sum.toDouble)

  /** sources.* scan numbers: `scans` are the scans of `ops` operations,
    * `total` the row groups their stores held when each was planned. */
  protected def scanLayer(scans: Seq[ScanRec], ops: Int, total: Double,
                          rowsReturned: Long): Map[String, Double] = {
    val planned = scans.map(_.partitions.toLong).sum
    val scanned = scans.map(_.rowsOut).sum
    val n = math.max(1, ops).toDouble
    Map("sources.rowgroups_total" -> total / n, "sources.rowgroups_planned" -> planned / n,
      "sources.prune_ratio" -> (if (total == 0) 0.0 else planned / total),
      "sources.rows_scanned" -> scanned / n,
      "sources.rows_useful_ratio" -> (if (scanned == 0) 0.0 else rowsReturned.toDouble / scanned))
  }

  /** Records the progress of every micro-batch that read data. */
  protected def progressListener(tracer: Tracer) =
    new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        if (e.progress.numInputRows > 0) tracer.batch(e.progress)
    }

  /** waits until a micro-batch has reached `seq`, or fails */
  protected def awaitOffset(tracer: Tracer, seq: Long, timeoutMs: Double,
                            q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    val until = tracer.nowMs + timeoutMs
    def head = tracer.batches.asScala.map(_.endOffset).maxOption.getOrElse(0L)
    while (head < seq && tracer.nowMs < until && q.isActive) Thread.sleep(2)
    q.exception.foreach(e => throw e)
    require(head >= seq, s"the tail did not reach seq $seq within ${timeoutMs / 1000} s")
  }

  /** streaming.* numbers over the micro-batches; `headAt` is the store's
    * head seq at a time */
  protected def streamingLayer(batches: Seq[Batch], headAt: Double => Long): Map[String, Double] = {
    def mean(f: Batch => Double) = Stats.mean(batches.map(f))
    def phase(n: String) = mean(_.durations.getOrElse(n, 0.0))
    Map("streaming.latest_offset_ms" -> phase("latestOffset"),
      "streaming.query_planning_ms" -> phase("queryPlanning"),
      "streaming.add_batch_ms" -> phase("addBatch"),
      "streaming.wal_commit_ms" -> phase("walCommit"),
      "streaming.commit_offsets_ms" -> phase("commitOffsets"),
      "streaming.batches" -> batches.size.toDouble,
      "streaming.rows_per_batch" -> mean(_.rows.toDouble),
      "streaming.backlog_msgs" -> mean(b => math.max(0L, headAt(b.t1) - b.endOffset).toDouble))
  }

  /** ProtoWire.decodeMessage timed directly on this thread over payloads */
  protected def decodeNsPerMsg(dir: File, payloads: Array[Array[Byte]]): Double = {
    val md = graft.proto.ProtoSchema.parseFile(new File(dir, "reading.proto").getPath, "Reading")
    var sink = 0L
    def pass(): Long = {
      val t0 = System.nanoTime()
      var i = 0
      while (i < payloads.length) {
        sink += graft.proto.ProtoWire.decodeMessage(payloads(i), md).getInt(0); i += 1
      }
      System.nanoTime() - t0
    }
    (1 to 3).foreach(_ => pass())
    val ns = Seq.fill(5)(pass().toDouble / payloads.length)
    if (sink == 42L) print("") // keeps the decode loop live
    Stats.median(ns)
  }

  protected def writeProto(dir: File): Unit = {
    dir.mkdirs()
    java.nio.file.Files.write(new File(dir, "reading.proto").toPath, Gen.ProtoSchema.getBytes("UTF-8"))
  }
}

object Workload {
  /** A closed loop runs past its seconds until it has this many operations,
    * so latency_tail_ms (ten samples beyond it) is at least the p75. */
  val MinOps = 41
  val RawSchema: StructType = StructType(Seq(
    StructField("stream", StringType), StructField("subject", StringType),
    StructField("seq", LongType), StructField("ts_us", LongType),
    StructField("payload", BinaryType)))

  def apply(name: String, spark: SparkSession, seed: Long): Workload = name match {
    case "scan_decode" => new ScanDecode(spark, seed)
    case "range_probe" => new RangeProbe(spark, seed)
    case "ingest_tail" => new IngestTail(spark, seed)
    case "dedup_gate" => new DedupGate(spark, seed)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** aggregate rows (key, count, sum) → map, keys rendered as strings */
  def agg(rows: Array[Row]): Map[String, (Long, Long)] =
    rows.map(r => String.valueOf(r.get(0)) -> (r.getLong(1), r.getLong(2))).toMap
}

/** Full-stream decode aggregates over a native store of proto and JSON
  * payloads; one client in a closed loop. */
final class ScanDecode(spark: SparkSession, seed: Long) extends Workload(spark, seed) {
  val NProto = 160000
  val NJson = 80000
  val AppendsPerStream = 4
  private val pb = new Gen.Telemetry(NProto, proto = true, seed * 31 + 1)
  private val js = new Gen.Telemetry(NJson, proto = false, seed * 31 + 2)

  private def sums(t: Gen.Telemetry, key: Int => String, v: Int => Long) = {
    val m = scala.collection.mutable.Map[String, (Long, Long)]()
    for (i <- 0 until t.n) {
      val k = key(i); val (c, s) = m.getOrElse(k, (0L, 0L)); m(k) = (c + 1, s + v(i))
    }
    m.toMap
  }
  private val expected: Seq[Map[String, (Long, Long)]] = Seq(
    sums(pb, i => pb.device(i).toString, pb.milli(_)),
    sums(js, i => s"s${Gen.site(js.device(i))}", js.level(_).toLong),
    sums(pb, i => ((pb.tsUs(i) / 60000000L) * 60000000L).toString, pb.milli(_)),
    sums(pb, i => s"r${Gen.region(pb.device(i))}", pb.milli(_)))
  private val scanned = Seq(NProto, NJson, NProto, NProto)

  override def setup(dir: File, tracer: Tracer): Unit = {
    writeProto(dir)
    for ((t, stream) <- Seq(pb -> "pb", js -> "js"); k <- 0 until AppendsPerStream) {
      val step = t.n / AppendsPerStream
      append(tracer, dir, stream, k * step, if (k == AppendsPerStream - 1) t.n else (k + 1) * step,
        i => Gen.subject(t.device(i)), t.seq, t.tsUs(_), t.payload(_))
    }
  }

  private def query(dir: File, q: Int): DataFrame = {
    val d = dir.getPath
    val proto = new File(dir, "reading.proto").getPath
    def pbScan(fields: String*) = NatsScan.applyExtractions(
      spark.read.format("nats_scan").option("dir", d).option("stream", "pb").load(),
      NatsScanOptions(protoFile = Some(proto), protoMessage = Some("Reading"), protoExtract = fields))
    def tvf(fields: String) =
      s"nats_scan('pb', 'dir', '$d', 'proto_file', '$proto', 'proto_message', 'Reading', " +
        s"'proto_extract', '$fields')"
    q match {
      case 0 => spark.sql(s"SELECT device, count(*), sum(milli) FROM ${tvf("device,milli")} GROUP BY device")
      case 1 => NatsScan.applyExtractions(
          spark.read.format("nats_scan").option("dir", d).option("stream", "js").load(),
          NatsScanOptions(jsonExtract = Seq("site", "level")))
        .groupBy("site").agg(count(lit(1)), sum(col("level").cast("long")))
      case 2 => pbScan("milli").groupBy(window(col("ts_nats"), "1 minute").as("w"))
        .agg(count(lit(1)).as("c"), sum(col("milli")).as("s"))
        .select(unix_micros(col("w.start")), col("c"), col("s"))
      case _ => spark.sql(s"SELECT d.region, count(*), sum(r.milli) FROM ${tvf("device,milli")} r " +
        "JOIN perfbench_devices d ON r.device = d.device GROUP BY d.region")
    }
  }

  override def measure(dir: File, tracer: Tracer, seconds: Double): Outcome = {
    spark.createDataFrame((0 until Gen.Devices)
        .map(d => Row(d, s"r${Gen.region(d)}")).asJava,
      StructType(Seq(StructField("device", IntegerType), StructField("region", StringType))))
      .createOrReplaceTempView("perfbench_devices")
    var attempted, failed = 0L
    def run(q: Int): Double = {
      attempted += 1
      val (rows, o) = tracer.op(s"query q$q", "driver")(query(dir, q).collect())
      if (Workload.agg(rows) != expected(q)) {
        failed += 1; System.err.println(s"scan_decode: q$q result differs from the generator's totals")
      }
      o.ms
    }
    (0 until 4).foreach(run) // warm-up round: codegen and JIT, checked but not timed
    tracer.ops.clear()
    PeakHeap.reset()
    val lat = scala.collection.mutable.ArrayBuffer[(Int, Double)]()
    val deadline = tracer.nowMs + seconds * 1000
    var q = 0
    while (tracer.nowMs < deadline || lat.size < Workload.MinOps) { lat += q -> run(q); q = (q + 1) % 4 }
    val heapMb = PeakHeap.mb()
    val keys = tracer.ops.asScala.toSeq.map(o => (o.key, o.t0, o.t1))
    val storeRg = Map("pb" -> rowGroups(partFiles(storeDir(dir, "pb"))),
      "js" -> rowGroups(partFiles(storeDir(dir, "js"))))
    val stores = Seq(storeDir(dir, "pb"), storeDir(dir, "js"))
    val layer = if (!tracer.on) Map.empty[String, Double] else {
      val scans = tracer.scansOf(keys.map(_._1).toSet)
      tracer.sparkLayer(keys) ++
        scanLayer(scans, keys.size,
          scans.map(s => storeRg(if (s.desc.contains("stream=js")) "js" else "pb")).sum.toDouble,
          rowsReturned = lat.map(x => expected(x._1).size.toLong).sum) ++
        storeLayer(stores) ++
        Map("proto.decode_ns_per_msg" -> decodeNsPerMsg(dir, pb.payload.take(100000)))
    }
    Outcome(lat.map(_._2).toSeq,
      msgsPerS = lat.map(x => scanned(x._1).toDouble).sum / (lat.map(_._2).sum / 1000),
      appendMs = appendsMs,
      bytesPerInputByte = stores.map(bytesUnder).sum.toDouble / (pb.payloadBytes + js.payloadBytes),
      heapMb, attempted, failed, layer,
      Map("store_bytes" -> stores.map(bytesUnder).sum, "queries" -> lat.size))
  }
}

/** Selective probes (≤ 0.1% of the stream each) over a store of many small
  * part files; one client in a closed loop, half DataFrame API, half SQL. */
final class RangeProbe(spark: SparkSession, seed: Long) extends Workload(spark, seed) {
  val Appends = 12
  val PerAppend = 12000
  val N: Int = Appends * PerAppend
  /** messages in each probed range: < 0.1% of the stream */
  val ProbeRows = 100
  private val t = new Gen.Telemetry(N, proto = true, seed * 31 + 3)

  override def setup(dir: File, tracer: Tracer): Unit = {
    writeProto(dir)
    for (k <- 0 until Appends)
      append(tracer, dir, "probe", k * PerAppend, (k + 1) * PerAppend,
        i => Gen.subject(t.device(i)), t.seq, t.tsUs(_), t.payload(_))
  }

  private def iso(us: Long) =
    java.time.Instant.EPOCH.plus(us, java.time.temporal.ChronoUnit.MICROS).toString

  /** probe k: (DataFrame, expected seqs in order) */
  private def probe(dir: File, k: Int, rng: java.util.SplittableRandom): (DataFrame, Seq[Long]) = {
    val d = dir.getPath
    val sql = k % 2 == 1
    val w = ProbeRows
    val i = rng.nextInt(0, N - w - 1)
    def base = spark.read.format("nats_scan").option("dir", d).option("stream", "probe").load()
    (k / 2) % 4 match {
      case 0 => // seq range
        val (lo, hi) = (t.seq(i), t.seq(i + w - 1))
        val df = if (sql) spark.sql(s"SELECT seq FROM nats_scan('probe', 'dir', '$d', " +
            s"'start_seq', '$lo', 'end_seq', '$hi')")
          else base.filter(col("seq").between(lo, hi)).select("seq")
        (df, lo to hi)
      case 1 => // ts range: timestamps strictly increase, so [ts(i), ts(j)] holds i..j
        val (lo, hi) = (t.tsUs(i), t.tsUs(i + w - 1))
        val df = if (sql) spark.sql(s"SELECT seq FROM nats_scan('probe', 'dir', '$d', " +
            s"'start_time', '${iso(lo)}', 'end_time', '${iso(hi)}')")
          else base.filter(col("ts_nats").between(timestamp_micros(lit(lo)), timestamp_micros(lit(hi))))
            .select("seq")
        (df, (i until i + w).map(t.seq))
      case 2 => // subject prefix with a seq range
        val site = rng.nextInt(Gen.Sites)
        val prefix = s"telem.s$site."
        val (lo, hi) = (t.seq(i), t.seq(i + w - 1))
        val df = if (sql) spark.sql(s"SELECT seq FROM nats_scan('probe', 'dir', '$d') " +
            s"WHERE subject LIKE '$prefix%' AND seq BETWEEN $lo AND $hi")
          else base.filter(col("subject").startsWith(prefix) && col("seq").between(lo, hi))
            .select("seq")
        (df, (i until i + w).filter(j => Gen.site(t.device(j)) == site).map(t.seq))
      case _ => // top-n from a seq
        val lo = t.seq(i)
        val df = if (sql) spark.sql(s"SELECT seq FROM nats_scan('probe', 'dir', '$d') " +
            s"WHERE seq >= $lo ORDER BY seq LIMIT $w")
          else base.filter(col("seq") >= lo).orderBy("seq").limit(w).select("seq")
        (df, lo until lo + w)
    }
  }

  override def measure(dir: File, tracer: Tracer, seconds: Double): Outcome = {
    val rng = new java.util.SplittableRandom(seed * 31 + 4)
    var attempted, failed, returned = 0L
    def run(k: Int): Double = {
      attempted += 1
      val (got, o) = tracer.op(s"probe ${(k / 2) % 4}", "driver") {
        val (df, want) = probe(dir, k, rng)
        (df.collect().map(_.getLong(0)).sorted.toSeq, want)
      }
      returned += got._1.size
      if (got._1 != got._2) {
        failed += 1
        System.err.println(s"range_probe: probe $k returned ${got._1.size} rows, expected ${got._2.size}")
      }
      o.ms
    }
    (0 until 8).foreach(run) // warm-up: every probe shape, checked but not timed
    tracer.ops.clear()
    returned = 0L
    PeakHeap.reset()
    val lat = scala.collection.mutable.ArrayBuffer[Double]()
    val deadline = tracer.nowMs + seconds * 1000
    var k = 0
    while (tracer.nowMs < deadline || lat.size < Workload.MinOps) { lat += run(k); k += 1 }
    val heapMb = PeakHeap.mb()
    val keys = tracer.ops.asScala.toSeq.map(o => (o.key, o.t0, o.t1))
    val store = storeDir(dir, "probe")
    val layer = if (!tracer.on) Map.empty[String, Double] else {
      val rg = rowGroups(partFiles(store))
      val scans = tracer.scansOf(keys.map(_._1).toSet)
      tracer.sparkLayer(keys) ++ scanLayer(scans, keys.size, rg.toDouble * scans.size, returned) ++
        storeLayer(Seq(store)) ++
        Map("proto.decode_ns_per_msg" -> decodeNsPerMsg(dir, t.payload.take(100000)))
    }
    Outcome(lat.toSeq, msgsPerS = ProbeRows * lat.size / (lat.sum / 1000), appendMs = appendsMs,
      bytesPerInputByte = bytesUnder(store).toDouble / t.payloadBytes,
      heapMb, attempted, failed, layer, Map("probes" -> lat.size))
  }
}


/** One append of a live phase: scheduled at `dueMs`, committed at `doneMs`,
  * carrying the live messages before `upto`. */
final case class Append(dueMs: Double, doneMs: Double, upto: Int)

/** What the open-loop generator of a live phase did, at `ratePerS`. */
final case class Live(ratePerS: Double, appends: Seq[Append], lateMs: Seq[Double], failed: Int,
                      capped: Boolean) {
  def count: Int = appends.lastOption.map(_.upto).getOrElse(0)
}

/** A Structured Streaming tail of a native store writing a light
  * projection into a second stream through the epoch sink: catch-up over a
  * pre-filled backlog, then a live phase in which an open-loop generator
  * appends what a fixed rate has produced so far on a fixed schedule that
  * does not slow when the system does. Both come from the catch-up measured
  * earlier in the same run: the rate is `LiveShare` of its drain rate and
  * the append period `PeriodBatches` times its median micro-batch. Latency
  * is per live message: from the scheduled time of the append that carried
  * it to the commit of the micro-batch that delivered it. */
final class IngestTail(spark: SparkSession, seed: Long) extends Workload(spark, seed) {
  val Backlog = 18000
  val BacklogAppends = 3
  val MaxPerBatch = 3000
  /** live rate as a share of the catch-up drain rate */
  val LiveShare = 0.25
  /** live append period in catch-up micro-batch durations: each append gets
    * its own micro-batch, and the tail is busy for about a third of the
    * live phase */
  val PeriodBatches = 3
  private val t = new Gen.Telemetry(Backlog + 60000, proto = true, seed * 31 + 5)

  /** Runs the live phase at `ratePerS` for `ms` (the run's `--seconds`),
    * appending every `periodMs`; `write(a, b)` appends live messages
    * [a, b) to the store; at most `max` of them. */
  private def liveLoop(tracer: Tracer, ms: Double, ratePerS: Double, periodMs: Double, max: Int,
                       write: (Int, Int) => Unit): Live = {
    val start = tracer.nowMs
    val late = scala.collection.mutable.ArrayBuffer[Double]()
    val appends = scala.collection.mutable.ArrayBuffer[Append]()
    var next, failed = 0
    var k = 1
    while (k * periodMs <= ms) {
      val due = start + k * periodMs
      while (tracer.nowMs < due) Thread.sleep(0, 200000)
      late += tracer.nowMs - due
      val upto = math.min(max, (k * periodMs * ratePerS / 1000).toInt)
      if (upto > next) {
        try {
          write(next, upto)
          appends += Append(due, tracer.nowMs, upto)
          next = upto
        } catch { case e: Exception =>
          failed += 1; System.err.println(s"live append $k failed: $e")
        }
      }
      k += 1
    }
    Live(ratePerS, appends.toSeq, late.toSeq, failed, capped = next >= max)
  }

  /** per live message: the commit of the first batch reaching its seq
    * minus the scheduled time of its append; `commits` are (end offset,
    * commit ms) */
  private def freshness(live: Live, firstSeq: Long, commits: Seq[(Long, Double)]): Seq[Double] = {
    val c = commits.sortBy(_._1)
    var b = 0
    var from = 0
    live.appends.flatMap { a =>
      val lat = (from until a.upto).map { j =>
        while (b < c.length && c(b)._1 < firstSeq + j) b += 1
        if (b < c.length) c(b)._2 - a.dueMs else Double.NaN
      }
      from = a.upto
      lat
    }
  }

  /** store head seq over time, from the live appends */
  private def headAt(live: Live)(ms: Double): Long =
    live.appends.takeWhile(_.doneMs <= ms).lastOption.map(Backlog.toLong + _.upto)
      .getOrElse(Backlog.toLong)

  private def write(dir: File, tracer: Tracer, record: Boolean = true)(from: Int, until: Int): Unit =
    append(tracer, dir, "tail_in", from, until,
      i => Gen.subject(t.device(i)), t.seq, t.tsUs(_), t.payload(_), record)

  private def writeBacklog(dir: File, tracer: Tracer, record: Boolean): Unit = {
    val step = Backlog / BacklogAppends
    for (k <- 0 until BacklogAppends) write(dir, tracer, record)(k * step, (k + 1) * step)
  }

  override def setup(dir: File, tracer: Tracer): Unit = {
    writeProto(dir)
    writeBacklog(dir, tracer, record = true)
  }

  private def tail(in: File, out: File) =
    spark.readStream.format("nats_scan").option("dir", in.getPath)
      .option("stream", "tail_in").option("max_msgs_per_batch", MaxPerBatch.toString).load()
      .select(col("stream"), col("subject"), col("seq"), col("ts_nats"),
        expr("substring(payload, 1, 8)").as("payload"))
      .writeStream.format("nats_scan").option("dir", out.getPath).option("stream", "tail_out")
      .option("checkpointLocation", new File(out, "ckpt").getPath)

  override def measure(dir: File, tracer: Tracer, seconds: Double): Outcome = {
    locally { // JIT and codegen warm-up: the backlog tailed to the sink from a scratch store; untimed
      val w = new File(dir, "warm")
      writeBacklog(w, new Tracer(false, spark), record = false)
      tail(w, new File(w, "out")).trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination()
    }
    PeakHeap.reset()
    val out = new File(dir, "out")
    val listener = progressListener(tracer)
    spark.streams.addListener(listener)
    val start = tracer.nowMs
    val q = tail(dir, out).start()
    try {
      awaitOffset(tracer, Backlog, 120000, q)
      val drainS = (tracer.batches.asScala.filter(_.endOffset >= Backlog).map(_.t1).min - start) / 1000
      val periodMs = PeriodBatches * Stats.median(tracer.batches.asScala.toSeq.map(_.ms))
      val liveStart = tracer.nowMs
      val live = liveLoop(tracer, seconds * 1000, LiveShare * Backlog / drainS, periodMs, t.n - Backlog,
        (a, b) => write(dir, tracer)(Backlog + a, Backlog + b))
      val last = Backlog.toLong + live.count
      awaitOffset(tracer, last, 60000, q)
      val liveEnd = tracer.nowMs
      val heapMb = PeakHeap.mb()
      q.stop()
      val batches = tracer.batches.asScala.toSeq.sortBy(_.batchId)
      var attempted = live.appends.size + live.failed + batches.size.toLong
      var failed = live.failed.toLong
      // every appended seq delivered exactly once, checked batch by batch
      val seqs = spark.read.format("nats_scan").option("dir", out.getPath)
        .option("stream", "tail_out").load().select("seq").collect().map(_.getLong(0)).sorted
      batches.foreach { b =>
        val lo = java.util.Arrays.binarySearch(seqs, b.startOffset + 1)
        val ok = b.rows == b.endOffset - b.startOffset && lo >= 0 &&
          (b.startOffset + 1 to b.endOffset).forall { s =>
            val j = lo + (s - b.startOffset - 1).toInt
            j < seqs.length && seqs(j) == s && (j + 1 >= seqs.length || seqs(j + 1) != s)
          }
        if (!ok) {
          failed += 1; System.err.println(s"ingest_tail: batch ${b.batchId} not delivered exactly once")
        }
      }
      if (seqs.length != last) {
        attempted += 1; failed += 1
        System.err.println(s"ingest_tail: sink holds ${seqs.length} rows for $last appended seqs")
      }
      val store = storeDir(dir, "tail_in")
      val layer = if (!tracer.on) Map.empty[String, Double] else {
        val keys = batches.map(b => (b.key, b.t0, b.t1))
        // one row group per appended part file
        val files = live.appends.map(_.doneMs)
        val total = batches.map(b => (BacklogAppends + files.count(_ <= b.t0)).toDouble).sum
        tracer.sparkLayer(keys) ++
          scanLayer(tracer.scansOf(keys.map(_._1).toSet), batches.size, total,
            batches.map(_.rows).sum) ++
          storeLayer(Seq(store, storeDir(out, "tail_out"))) ++
          streamingLayer(batches, headAt(live)) ++ Map(
          "proto.decode_ns_per_msg" -> decodeNsPerMsg(dir, t.payload.take(100000)),
          "streaming.generator_late_ms" -> Stats.mean(live.lateMs))
      }
      Outcome(freshness(live, Backlog + 1L, batches.map(b => (b.endOffset, b.t1))),
        msgsPerS = Backlog / drainS, appendMs = appendsMs,
        bytesPerInputByte = bytesUnder(store).toDouble /
          t.payload.iterator.take(last.toInt).map(_.length.toLong).sum,
        heapMb, attempted, failed, layer,
        Map("catchup_s" -> drainS, "batches" -> batches.size,
          "live_rate_per_s" -> live.ratePerS, "live_period_ms" -> periodMs,
          "live_appends" -> live.appends.size,
          "live_msgs" -> live.count, "live_capped" -> live.capped,
          // share of the live phase the tail spent inside micro-batches
          "tail_busy_share" -> batches.filter(_.t0 >= liveStart).map(_.ms).sum / (liveEnd - liveStart),
          "generator_late_ms_mean" -> Stats.mean(live.lateMs),
          "generator_late_ms_max" -> live.lateMs.maxOption.getOrElse(0.0)))
    } finally {
      if (q.isActive) q.stop()
      spark.streams.removeListener(listener)
    }
  }
}

/** The near-dup ingest gate: a tail of a JSON document stream feeds
  * StreamingDedup.ingest over the bucketed DedupIndex with deferred
  * maintenance. The benchmark is the maintainer: after each gate call it
  * compacts the index when due. The untimed catch-up drains the backlog in
  * full-size gate batches and warms the gate up; then one client in a
  * closed loop appends `OpDocs` documents, waits until the micro-batch that
  * gated them has committed, and appends the next. */
final class DedupGate(spark: SparkSession, seed: Long) extends Workload(spark, seed) {
  val Backlog = 1200
  val BacklogAppends = 3
  val MaxPerBatch = 400
  /** documents per closed-loop operation: one append, one gate batch */
  val OpDocs = 200
  /** operations per run at least, so latency_* rest on more than a few */
  val MinOps = 5
  val DupShare = 0.1
  val NearShare = 0.1
  /** survivors gated again as exact copies after the run */
  val RecheckDocs = 50
  private val docs = new Gen.Docs(Backlog + 12000, DupShare, NearShare, seed * 31 + 6)
  private val DocSchema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))

  private def write(dir: File, tracer: Tracer)(from: Int, until: Int): Unit =
    append(tracer, dir, "docs", from, until, _ => "docs.en", docs.seq, docs.tsUs(_), docs.payload(_))

  override def setup(dir: File, tracer: Tracer): Unit = {
    val step = Backlog / BacklogAppends
    for (k <- 0 until BacklogAppends) write(dir, tracer)(k * step, (k + 1) * step)
  }

  private def gateInput(batch: DataFrame) = batch.select(col("seq").as("doc_id"), col("text"))

  private def rowsIn(parquetDir: File): Long =
    if (partFiles(parquetDir).isEmpty) 0L else spark.read.parquet(parquetDir.getPath).count()

  override def measure(dir: File, tracer: Tracer, seconds: Double): Outcome = {
    import graft.operators.DedupIndex
    import graft.streaming.StreamingDedup
    val idx = new File(dir, "index").getPath
    val outDir = new File(dir, "survivors").getPath
    // every gate batch adds a file per bucket, so compaction is due after
    // every batch
    val cfg = StreamingDedup.Config(idx, outDir, bucketed = true, buckets = 8,
      compactThreshold = 1, deferMaintenance = true)
    val gates = new java.util.concurrent.ConcurrentHashMap[Long, Op]()
    val compacts = new java.util.concurrent.ConcurrentLinkedQueue[Op]()
    val maintainFailed = new java.util.concurrent.atomic.AtomicInteger()
    val filesPerBucket = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val gateScans = new java.util.concurrent.ConcurrentHashMap[Long, Seq[ScanRec]]()
    val handler = (batch: DataFrame, batchId: Long) => {
      val (_, g) = tracer.op("gate", "operators") {
        StreamingDedup.ingest(cfg)(gateInput(batch), batchId)
      }
      gates.put(batchId, g)
      if (tracer.on) {
        // foreachBatch hands the gate an RDD of the micro-batch, so the scan
        // is read from the micro-batch's own executed plan
        spark.streams.active.headOption.foreach { q =>
          gateScans.put(batchId, PlanScans(q.asInstanceOf[
            org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
            .streamingQuery.lastExecution.executedPlan))
        }
        // the index shape this gate call ran against, before any compaction
        filesPerBucket.add(DedupIndex.maxFilesPerBucket(spark, idx))
      }
      // the maintainer's step
      if (DedupIndex.maintenanceDue(spark, idx)) {
        compacts.add(tracer.op("compact", "operators")(DedupIndex.compact(spark, idx))._2)
        if (DedupIndex.maintenanceDue(spark, idx)) maintainFailed.incrementAndGet()
      }
      ()
    }
    val listener = progressListener(tracer)
    spark.streams.addListener(listener)
    val q = NatsScan.applyExtractions(
        spark.readStream.format("nats_scan").option("dir", dir.getPath).option("stream", "docs")
          .option("max_msgs_per_batch", MaxPerBatch.toString).load(),
        NatsScanOptions(jsonExtract = Seq("text")))
      .writeStream.option("checkpointLocation", new File(dir, "ckpt").getPath)
      .foreachBatch(handler).start()
    // closed-loop operations: (start ms, first doc, end doc)
    val ops = scala.collection.mutable.ArrayBuffer[(Double, Int, Int)]()
    var appendFailed = 0
    val (batches, loopStart, heapMb) = try {
      awaitOffset(tracer, Backlog, 120000, q)
      PeakHeap.reset()
      val loopStart = tracer.nowMs
      var next = Backlog
      while ((tracer.nowMs - loopStart < seconds * 1000 || ops.size < MinOps) &&
             next + OpDocs <= docs.n) {
        val t0 = tracer.nowMs
        try {
          write(dir, tracer)(next, next + OpDocs)
          ops += ((t0, next, next + OpDocs))
          next += OpDocs
          awaitOffset(tracer, next.toLong, 60000, q)
        } catch { case e: Exception =>
          appendFailed += 1; System.err.println(s"dedup_gate: operation at doc $next failed: $e")
          if (!q.isActive) throw e
        }
      }
      val heapMb = PeakHeap.mb()
      (tracer.batches.asScala.toSeq.sortBy(_.batchId), loopStart, heapMb)
    } finally {
      q.stop()
      spark.streams.removeListener(listener)
    }
    // an operation ends when the micro-batch that gated its last document
    // has committed: gate call, compaction and offset commit included
    val commits = batches.map(b => (b.endOffset, b.t1)).sortBy(_._1)
    val opMs = ops.toSeq.map { case (t0, _, until) => commits.find(_._1 >= until).get._2 - t0 }
    // each batch's decision: every unique kept, every exact copy dropped,
    // survivors a duplicate-free subset of the batch
    val surv = spark.read.parquet(outDir).select("doc_id").collect().map(_.getLong(0))
    val survSet = surv.toSet
    var failed = (appendFailed + maintainFailed.get).toLong
    if (surv.length != survSet.size) {
      failed += 1; System.err.println("dedup_gate: a document survived twice")
    }
    batches.foreach { b =>
      val ok = (b.startOffset + 1 to b.endOffset).forall { x =>
        docs.kind((x - 1).toInt) match {
          case 0 => survSet(x)
          case 1 => !survSet(x)
          case _ => true
        }
      }
      if (!ok) { failed += 1; System.err.println(s"dedup_gate: batch ${b.batchId} decision is wrong") }
    }
    // the index after every compaction still holds what survived: exact
    // copies of survivors spread over the whole run, gated once more under
    // new ids, must all drop
    val sorted = surv.sorted
    val picks = sorted.indices.by(math.max(1, sorted.length / RecheckDocs)).map(sorted(_))
    val recheckOut = new File(dir, "recheck")
    StreamingDedup.ingest(cfg.copy(outDir = recheckOut.getPath))(spark.createDataFrame(
      picks.zipWithIndex.map { case (id, i) => Row(docs.n + 1L + i, docs.text((id - 1).toInt)) }.asJava,
      DocSchema), batches.map(_.batchId).max + 1)
    val leaked = rowsIn(recheckOut)
    if (leaked != 0) {
      failed += 1
      System.err.println(s"dedup_gate: $leaked of ${picks.size} copies of survivors passed the index")
    }
    val last = ops.lastOption.map(_._3).getOrElse(Backlog)
    val nearKept = (1 to last).count(x => docs.kind(x - 1) == 2 && survSet(x.toLong))
    val idxBytes = bytesUnder(new File(idx))
    val gateOps = batches.map(b => gates.get(b.batchId))
    val compactOps = compacts.asScala.toSeq
    val layer = if (!tracer.on) Map.empty[String, Double] else {
      // traced numbers are over the closed loop's micro-batches
      val loopBatches = batches.filter(_.t0 >= loopStart)
      val loopGates = loopBatches.map(b => gates.get(b.batchId))
      val loopCompacts = compactOps.filter(_.t0 >= loopStart)
      val keys = loopGates.map(o => (o.key, o.t0, o.t1))
      val sparkNums = tracer.sparkLayer(keys)
      val appended = ops.toSeq.map { case (t0, _, until) => (t0, until.toLong) }
      def headAt(ms: Double): Long =
        appended.takeWhile(_._1 <= ms).lastOption.map(_._2).getOrElse(Backlog.toLong)
      sparkNums ++ storeLayer(Seq(storeDir(dir, "docs"))) ++
        streamingLayer(loopBatches, headAt) ++
        scanLayer(loopBatches.flatMap(b => gateScans.asScala.getOrElse(b.batchId, Nil)), loopBatches.size,
          loopBatches.map(b => (BacklogAppends + appended.count(_._1 <= b.t0)).toDouble).sum,
          loopBatches.map(_.rows).sum) ++ Map(
        "operators.gate_batch_ms" -> Stats.mean(loopGates.map(_.ms)),
        "operators.gate_jobs_per_batch" -> sparkNums.getOrElse("spark.jobs", 0.0),
        "operators.compact_ms" -> Stats.mean(loopCompacts.map(_.ms)),
        "operators.compactions" -> loopCompacts.size.toDouble,
        "operators.index_max_files_per_bucket" ->
          filesPerBucket.asScala.maxOption.getOrElse(0).toDouble,
        "operators.index_bytes" -> idxBytes.toDouble)
    }
    // every document of an operation waits for the whole operation
    Outcome(opMs.flatMap(ms => Seq.fill(OpDocs)(ms)),
      msgsPerS = OpDocs * ops.size / (opMs.sum / 1000), appendMs = appendsMs,
      bytesPerInputByte = idxBytes.toDouble / docs.payload.iterator.take(last).map(_.length.toLong).sum,
      heapMb, attempted = ops.size + appendFailed + batches.size + compactOps.size + 1,
      failed, layer,
      Map("ops" -> ops.size, "op_ms" -> opMs, "gate_batches" -> batches.size,
        "kept" -> survSet.size, "dropped" -> (last - survSet.size),
        "near_copies_kept" -> nearKept, "compactions" -> compactOps.size))
  }
}
