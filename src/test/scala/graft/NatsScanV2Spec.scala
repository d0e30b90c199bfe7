package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** DataSource V2 source behavior: pushdown actually reaches the scan, column
  * pruning shrinks the read schema, and results agree with the facade path. */
class NatsScanV2Spec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val dir = "/root/testdata/sf0.001"

  override def afterAll(): Unit = spark.stop()

  private def v2 = spark.read.format("nats_scan").option("dir", dir).load()

  // --- write path: native message store round trip ---

  test("streaming commit is replay-idempotent; batch commit refuses collisions") {
    import graft.sources.{NatsScanBatchWrite, NatsScanCommit, NatsScanStreamingWrite}
    val tmp = java.nio.file.Files.createTempDirectory("graft_commit_sem").toString
    val store = new java.io.File(s"$tmp/events.msgs"); store.mkdirs()
    val schema = graft.sources.NatsScanSource.envelopeSchema

    // epoch replay: same (epoch, partition) commits twice with different
    // attempt files — exactly one final file survives, from the last attempt
    val sw = new NatsScanStreamingWrite(tmp, "events", schema)
    val finalName = "epoch-000007-part-00000.parquet"
    java.nio.file.Files.write(new java.io.File(store, "_inprogress_a.parquet").toPath, Array[Byte](1))
    sw.commit(7L, Array(NatsScanCommit("_inprogress_a.parquet", finalName)))
    java.nio.file.Files.write(new java.io.File(store, "_inprogress_b.parquet").toPath, Array[Byte](2, 2))
    sw.commit(7L, Array(NatsScanCommit("_inprogress_b.parquet", finalName)))
    val finals = store.listFiles().filter(_.getName.startsWith("epoch-000007"))
    assert(finals.length == 1 && finals.head.length() == 2L)

    // batch append must never replace an existing committed file
    val bw = new NatsScanBatchWrite(tmp, "events", schema, truncate = false)
    bw.createBatchWriterFactory(null) // creates the staging dir
    val staging = store.listFiles().filter(_.getName.startsWith("_staging_")).head
    java.nio.file.Files.write(new java.io.File(staging, "x.parquet").toPath, Array[Byte](3))
    val e = intercept[IllegalArgumentException](
      bw.commit(Array(NatsScanCommit("x.parquet", finalName))))
    assert(e.getMessage.contains("collision"))
  }

  test("V2 write: truncate + append + read-back with pushdown") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_v2_write").toString
    val src = v2.filter(col("seq") <= 600L)
    src.write.format("nats_scan").option("dir", tmp).mode("overwrite").save()
    val back = spark.read.format("nats_scan").option("dir", tmp).load()
    assert(back.count() == 600L)
    // envelope values survive the round trip bit-for-bit
    val a = src.orderBy("seq").collect()
    val b = back.orderBy("seq").collect()
    assert(a.sameElements(b))
    // append adds on top of the existing store
    v2.filter(col("seq") > 600L && col("seq") <= 700L)
      .write.format("nats_scan").option("dir", tmp).mode("append").save()
    assert(spark.read.format("nats_scan").option("dir", tmp).load().count() == 700L)
    // overwrite truncates back down
    v2.filter(col("seq") <= 50L)
      .write.format("nats_scan").option("dir", tmp).mode("overwrite").save()
    val after = spark.read.format("nats_scan").option("dir", tmp).load()
    assert(after.count() == 50L)
    // pushdown works against the native layout (seq + subject + ts)
    val filtered = after.filter(col("seq") >= 10L && col("seq") <= 20L)
      .select("seq").collect().map(_.getLong(0))
    assert(filtered.min == 10L && filtered.max == 20L && filtered.length == 11)
    val bySubj = after.filter(col("subject").contains("purchase")).count()
    val expect = v2.filter(col("seq") <= 50L &&
      col("subject").contains("purchase")).count()
    assert(bySubj == expect)
    // no staging leftovers after commit (the layout marker is expected)
    val store = new java.io.File(s"$tmp/events.msgs")
    assert(store.listFiles().forall(f => f.getName.endsWith(".parquet") ||
      f.getName == graft.sources.StoreLayout.MarkerName))
    // in-progress / dot-prefixed files must be invisible to readers
    val junk = new java.io.File(store, "_inprogress_epoch-000009-part-00000-3.parquet")
    java.nio.file.Files.write(junk.toPath, Array[Byte](1, 2, 3))
    val junk2 = new java.io.File(store, "._something.parquet")
    java.nio.file.Files.write(junk2.toPath, Array[Byte](9))
    assert(spark.read.format("nats_scan").option("dir", tmp).load().count() == 50L)
    junk.delete(); junk2.delete()
  }

  test("V2 results match the facade envelope") {
    val a = v2.select("stream", "subject", "seq", "ts_nats")
      .orderBy("seq").collect()
    val b = graft.nats.NatsScan.scanDir(spark, dir)
      .select("stream", "subject", "seq", "ts_nats")
      .orderBy("seq").collect()
    assert(a.length == 1000)
    assert(a.sameElements(b))
  }

  test("seq filter is pushed into the scan (not just re-evaluated above)") {
    val df = v2.filter(col("seq") >= 100L && col("seq") <= 200L).select("seq")
    val plan = df.queryExecution.executedPlan.toString
    // our Scan.description() embeds the accumulated bounds
    assert(plan.contains("nats_scan"), plan)
    val rows = df.collect()
    assert(rows.length == 101)
    assert(rows.map(_.getLong(0)).min == 100L)
    assert(rows.map(_.getLong(0)).max == 200L)
  }

  test("time + subject filters push down with exact µs-truncation semantics") {
    val t0 = java.time.Instant.parse("2024-01-05T00:00:00Z")
    val t1 = java.time.Instant.parse("2024-01-06T00:00:00Z")
    val a = v2.filter(col("ts_nats") >= lit(t0) && col("ts_nats") <= lit(t1) &&
        col("subject").contains("view"))
      .select("seq").orderBy("seq").collect().map(_.getLong(0))
    val b = graft.nats.NatsScan.scanDir(spark, dir,
        opts = graft.nats.NatsScanOptions(
          startTime = Some(t0), endTime = Some(t1),
          subjectContains = Some("view")))
      .select("seq").orderBy("seq").collect().map(_.getLong(0))
    assert(a.nonEmpty && a.sameElements(b))
  }

  test("column pruning: selecting one column still works") {
    assert(v2.select("subject").limit(5).collect().length == 5)
    assert(v2.select("payload").limit(5).collect()
      .forall(_.getAs[Array[Byte]](0).nonEmpty))
  }

  test("unsupported predicate stays residual and still filters correctly") {
    // endsWith is not pushed — must be applied above the scan
    val rows = v2.filter(col("subject").endsWith(".7")).select("subject").collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getString(0).endsWith(".7")))
  }

  // --- footer statistics cache: each part-file footer is read once ---

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** appends messages [from, until) to the native store in `dir` as one
    * part file; message i has seq i + seqShift */
  private def appendStore(dir: String, from: Long, until: Long,
                          seqShift: Long = 0L): Unit =
    spark.range(from, until).select(lit("events").as("stream"),
        concat(lit("events.k"), (col("id") % 3).cast("string")).as("subject"),
        (col("id") + seqShift).as("seq"),
        timestamp_micros(col("id") * 1000000L).as("ts_nats"),
        lpad(col("id").cast("string"), 8, "0").cast("binary").as("payload"))
      .coalesce(1).write.format("nats_scan").option("dir", dir)
      .mode("append").save()

  private def committed(dir: String): Seq[java.io.File] =
    new java.io.File(s"$dir/events.msgs").listFiles().toSeq
      .filter(f => f.getName.endsWith(".parquet") &&
        !f.getName.startsWith("_") && !f.getName.startsWith("."))
      .sortBy(_.getName)

  /** runs `df` and returns the planning counters of its nats_scan node */
  private def planMetrics(df: DataFrame): Map[String, Long] = {
    df.collect()
    df.queryExecution.executedPlan.collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.getOrElse(fail("no BatchScanExec in plan"))
      .metrics.map { case (k, m) => k -> m.value }.toMap
  }

  private def seqs(df: DataFrame): Seq[Long] =
    df.select("seq").collect().map(_.getLong(0)).toSeq.sorted

  /** the part files' rows read straight from parquet, bypassing the scan
    * planner and its footer cache */
  private def direct(dir: String): Seq[Long] =
    seqs(spark.read.parquet(committed(dir).map(_.getPath): _*))

  test("planning an unchanged native store twice reads zero footers the " +
    "second time; row-group counters report the pruning") {
    val tmp = tmpDir("graft_footer_once")
    appendStore(tmp, 1L, 101L); appendStore(tmp, 101L, 201L)
    appendStore(tmp, 201L, 301L)
    assert(committed(tmp).size == 3)
    def q = spark.read.format("nats_scan").option("dir", tmp).load()
      .filter(col("seq") > 150L).select("seq")
    val first = planMetrics(q)
    assert(first("footer_reads") == 3L, first.toString)
    assert(first("row_groups_total") == 3L, first.toString)
    assert(first("row_groups_planned") == 2L, first.toString)
    val second = planMetrics(q)
    assert(second("footer_reads") == 0L, second.toString)
    assert(second("row_groups_total") == 3L && second("row_groups_planned") == 2L,
      second.toString)
    assert(seqs(q) == (151L to 300L))
    // one append: the next plan reads exactly the new file's footer
    appendStore(tmp, 301L, 351L)
    val third = planMetrics(q)
    assert(third("footer_reads") == 1L, third.toString)
    assert(third("row_groups_total") == 4L && third("row_groups_planned") == 3L,
      third.toString)
    assert(seqs(q) == (151L to 350L))
  }

  test("a part file replaced under its own name (epoch replay) is read " +
    "again: results equal a direct read of the new file") {
    import graft.sources.{NatsScanCommit, NatsScanStreamingWrite}
    // two attempts of one epoch whose files differ only in their seqs —
    // by 2^32, which leaves every encoded size unchanged
    val shift = 1L << 32
    val (a, b) = (tmpDir("graft_replay_a"), tmpDir("graft_replay_b"))
    appendStore(a, 1L, 51L); appendStore(b, 1L, 51L, seqShift = shift)
    val tmp = tmpDir("graft_replay")
    val store = new java.io.File(s"$tmp/events.msgs"); store.mkdirs()
    val sw = new NatsScanStreamingWrite(tmp, "events",
      graft.sources.NatsScanSource.envelopeSchema)
    val finalName = "epoch-000007-part-00000.parquet"
    def commitAttempt(from: String, staged: String): Unit = {
      java.nio.file.Files.copy(committed(from).head.toPath,
        new java.io.File(store, staged).toPath)
      sw.commit(7L, Array(NatsScanCommit(staged, finalName)))
    }
    def q = spark.read.format("nats_scan").option("dir", tmp).load().select("seq")
    commitAttempt(a, "_inprogress_a.parquet")
    assert(planMetrics(q)("footer_reads") == 1L)
    assert(seqs(q) == (1L to 50L))
    val before = new java.io.File(store, finalName)
    val (len, mtime) =
      (before.length(), java.nio.file.Files.getLastModifiedTime(before.toPath))
    commitAttempt(b, "_inprogress_b.parquet")
    val after = new java.io.File(store, finalName)
    // same name, length and mtime as the replaced file: only the file key
    // tells the two apart
    java.nio.file.Files.setLastModifiedTime(after.toPath, mtime)
    assert(after.length() == len &&
      java.nio.file.Files.getLastModifiedTime(after.toPath) == mtime)
    val m = planMetrics(q)
    assert(m("footer_reads") == 1L, m.toString)
    assert(seqs(q) == direct(tmp))
    assert(seqs(q) == (1L to 50L).map(_ + shift))
  }

  test("a compaction's directory swap is read again: results equal a " +
    "direct read of the compacted files") {
    val tmp = tmpDir("graft_footer_compact")
    (0 until 4).foreach(k => appendStore(tmp, 1L + 100L * k, 101L + 100L * k))
    def q = spark.read.format("nats_scan").option("dir", tmp).load()
      .filter(col("seq") > 50L).select("seq")
    assert(planMetrics(q)("footer_reads") == 4L)
    graft.sources.NatsStoreMaintenance.compact(spark, tmp, "events",
      numFiles = 2, layout = "seq")
    assert(committed(tmp).size == 2)
    val m = planMetrics(q)
    assert(m("footer_reads") == 2L, m.toString)
    assert(m("row_groups_total") == 2L, m.toString)
    assert(seqs(q) == direct(tmp).filter(_ > 50L))
    assert(seqs(q) == (51L to 400L))
  }
}
