package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Structured-streaming superset (the reference's roadmap "live tail"):
  * micro-batches paced by seq offsets, event-time windows with watermark,
  * custom session state. */
class StreamingSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val dir = "/root/testdata/sf0.001"

  override def afterAll(): Unit = spark.stop()

  private def stream(maxPerBatch: Int) =
    spark.readStream.format("nats_scan")
      .option("dir", dir)
      .option("max_msgs_per_batch", maxPerBatch.toString)
      .load()

  test("micro-batches replay the whole stream in seq-bounded chunks") {
    val q = stream(300).writeStream
      .format("memory").queryName("tail")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val n = spark.sql("SELECT count(*) FROM tail").head().getLong(0)
    assert(n == 1000L, s"expected all 1000 messages, got $n")
    val batches = q.recentProgress.map(_.numInputRows).filter(_ > 0)
    assert(batches.length >= 4, s"expected ≥4 rate-limited batches, got ${batches.mkString(",")}")
    assert(batches.forall(_ <= 300), s"batch exceeded admission limit: ${batches.mkString(",")}")
    val maxSeq = spark.sql("SELECT max(seq) FROM tail").head().getLong(0)
    assert(maxSeq == 1000L)
  }

  test("streaming write: stream → native store sink → batch read-back") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_stream_sink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_stream_ckpt").toString
    val q = stream(300)
      .writeStream.format("nats_scan")
      .option("dir", tmp)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val back = spark.read.format("nats_scan").option("dir", tmp).load()
    assert(back.count() == 1000L)
    // round trip preserves the envelope exactly
    val a = spark.read.format("nats_scan").option("dir", dir).load()
      .orderBy("seq").collect()
    val b = back.orderBy("seq").collect()
    assert(a.sameElements(b))
    // no in-progress leftovers after the query finishes
    val store = new java.io.File(s"$tmp/events.msgs")
    assert(store.listFiles().forall(f => f.getName.endsWith(".parquet") ||
      f.getName == graft.sources.StoreLayout.MarkerName))
    assert(!store.listFiles().exists(_.getName.startsWith("_inprogress_")))
  }

  test("crash mid-stream: restart from checkpoint is exactly-once in the sink") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_crash_sink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_crash_ckpt").toString
    // phase 1: slow processing-time trigger, then kill the query after the
    // first committed batch — mid-run, with most of the stream unprocessed
    // and possibly an epoch in flight
    val q1 = stream(150)
      .writeStream.format("nats_scan")
      .option("dir", tmp).option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime("2 seconds"))
      .start()
    val deadline = System.currentTimeMillis() + 60000
    while (q1.recentProgress.count(_.numInputRows > 0) < 1 &&
        System.currentTimeMillis() < deadline)
      Thread.sleep(100)
    q1.stop()
    q1.awaitTermination(60000)
    val partial = spark.read.format("nats_scan").option("dir", tmp).load().count()
    assert(partial > 0L && partial < 1000L,
      s"expected a partial sink after the crash, got $partial")
    // phase 2: restart with the SAME checkpoint and sink; drain to the end.
    // The restart replays the epoch the checkpoint didn't record; the sink's
    // deterministic epoch-partition final names make that re-commit
    // idempotent (rename over its own previous files, never duplicates).
    val q2 = stream(150)
      .writeStream.format("nats_scan")
      .option("dir", tmp).option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination(120000)
    val back = spark.read.format("nats_scan").option("dir", tmp).load()
    assert(back.count() == 1000L, "exactly-once: total row count")
    assert(back.select("seq").distinct().count() == 1000L,
      "exactly-once: no seq written twice")
    // envelope equality with the source, post-recovery
    val src = spark.read.format("nats_scan").option("dir", dir).load()
      .orderBy("seq").collect()
    assert(back.orderBy("seq").collect().sameElements(src))
  }

  test("full loop: stream → native sink → stream the native store back") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_loop_store").toString
    val ckpt1 = java.nio.file.Files.createTempDirectory("graft_loop_c1").toString
    val q1 = stream(400)
      .writeStream.format("nats_scan")
      .option("dir", tmp).option("checkpointLocation", ckpt1)
      .trigger(Trigger.AvailableNow()).start()
    q1.awaitTermination(120000)
    // now stream FROM the written native store, rate-limited
    val q2 = spark.readStream.format("nats_scan")
      .option("dir", tmp).option("max_msgs_per_batch", "250").load()
      .writeStream.format("memory").queryName("loop")
      .trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination(120000)
    assert(spark.sql("SELECT count(*) FROM loop").head().getLong(0) == 1000L)
    assert(spark.sql("SELECT count(DISTINCT seq) FROM loop").head().getLong(0) == 1000L)
    val batches = q2.recentProgress.map(_.numInputRows).filter(_ > 0)
    assert(batches.length >= 4 && batches.forall(_ <= 250),
      s"admission control over the native store: ${batches.mkString(",")}")
  }

  test("event-time window + watermark over the stream matches batch") {
    val q = stream(500)
      .withWatermark("ts_nats", "1 hour")
      .groupBy(window(col("ts_nats"), "1 day"))
      .agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName("win")
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val streamed = spark.sql("SELECT window.start, n FROM win ORDER BY 1")
      .collect().map(r => (r.getTimestamp(0), r.getLong(1)))
    val batch = graft.nats.NatsScan.scanDir(spark, dir)
      .groupBy(window(col("ts_nats"), "1 day"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start"), col("n")).orderBy("start")
      .collect().map(r => (r.getTimestamp(0), r.getLong(1)))
    assert(streamed.nonEmpty && streamed.sameElements(batch))
  }

  test("streaming dedup: union of two replays + dropDuplicates == one replay") {
    val doubled = stream(400).unionAll(stream(400))
      .withWatermark("ts_nats", "1 hour")
      .dropDuplicates("seq")
    val q = doubled.writeStream.format("memory").queryName("dedup")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val n = spark.sql("SELECT count(*), count(DISTINCT seq) FROM dedup").head()
    assert(n.getLong(0) == 1000L, s"dupes survived: $n")
    assert(n.getLong(1) == 1000L)
  }

  test("streaming content-hash dedup at ingest matches batch distinct payloads") {
    val q = stream(400)
      .withColumn("chash", md5(col("payload").cast("binary")))
      .withWatermark("ts_nats", "1 hour")
      .dropDuplicates("chash")
      .writeStream.format("memory").queryName("cdedup")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val streamed = spark.sql("SELECT count(*) FROM cdedup").head().getLong(0)
    val batch = spark.read.format("nats_scan").option("dir", dir).load()
      .select(md5(col("payload").cast("binary"))).distinct().count()
    assert(streamed == batch, s"stream $streamed vs batch $batch")
    assert(streamed > 0)
  }

  test("dropDuplicatesWithinWatermark bounds dedup state by event time") {
    // The plain dropDuplicates("seq") above keeps EVERY seen key in state
    // forever — fine for a replay test, fatal on an unbounded 100 TB/day
    // stream. dropDuplicatesWithinWatermark is the production shape: state
    // for a key is dropped once the watermark passes its event time, so
    // state size is bounded by (watermark horizon × arrival rate), not by
    // stream history. Duplicate pairs here arrive in the same micro-batch
    // (two lockstep replays), well inside the 1 h horizon, so the result
    // still matches the exact union-distinct count.
    val doubled = stream(400).unionAll(stream(400))
      .withWatermark("ts_nats", "1 hour")
      .dropDuplicatesWithinWatermark("seq")
    val q = doubled.writeStream.format("memory").queryName("dedupww")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val n = spark.sql("SELECT count(*), count(DISTINCT seq) FROM dedupww").head()
    assert(n.getLong(0) == 1000L, s"dupes survived: $n")
    assert(n.getLong(1) == 1000L)
  }

  test("native session_window aggregation matches the batch equivalent") {
    // session_window is the declarative sibling of the
    // flatMapGroupsWithState sessionizer below — Catalyst owns the state
    // store and session merge, so it gets watermark-driven eviction and
    // AQE-planned shuffles for free. Same 6 h gap as the custom operator.
    val uid = element_at(split(col("subject"), "\\."), 3).cast("long")
    val q = stream(400)
      .select(uid.as("user_id"), col("ts_nats"))
      .withWatermark("ts_nats", "1 hour")
      .groupBy(col("user_id"), session_window(col("ts_nats"), "6 hours"))
      .agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName("sesswin")
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val streamed = spark.sql(
      "SELECT user_id, session_window.start, n FROM sesswin ORDER BY 1, 2")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2)))
    val batch = graft.nats.NatsScan.scanDir(spark, dir)
      .select(uid.as("user_id"), col("ts_nats"))
      .groupBy(col("user_id"), session_window(col("ts_nats"), "6 hours"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"), col("session_window.start"), col("n"))
      .orderBy("user_id", "start")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2)))
    assert(streamed.nonEmpty && streamed.sameElements(batch))
  }

  test("stream-stream windowed join matches the batch equivalent") {
    import org.apache.spark.sql.functions.expr
    val purchases = stream(500)
      .filter(col("subject").contains("purchase"))
      .select(element_at(split(col("subject"), "\\."), 3).cast("long").as("p_uid"),
        col("seq").as("p_seq"), col("ts_nats").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val signups = stream(500)
      .filter(col("subject").contains("signup"))
      .select(element_at(split(col("subject"), "\\."), 3).cast("long").as("s_uid"),
        col("seq").as("s_seq"), col("ts_nats").as("s_ts"))
      .withWatermark("s_ts", "1 hour")
    val joined = purchases.join(signups,
      expr("p_uid = s_uid AND p_ts >= s_ts AND p_ts <= s_ts + INTERVAL 2 DAYS"))
    val q = joined.writeStream.format("memory").queryName("ssj")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(180000)
    val streamed = spark.sql("SELECT count(*) FROM ssj").head().getLong(0)

    val env = graft.nats.NatsScan.scanDir(spark, dir)
    val bp = env.filter(col("subject").contains("purchase"))
      .select(element_at(split(col("subject"), "\\."), 3).cast("long").as("p_uid"),
        col("ts_nats").as("p_ts"))
    val bs = env.filter(col("subject").contains("signup"))
      .select(element_at(split(col("subject"), "\\."), 3).cast("long").as("s_uid"),
        col("ts_nats").as("s_ts"))
    val batch = bp.join(bs,
      expr("p_uid = s_uid AND p_ts >= s_ts AND p_ts <= s_ts + INTERVAL 2 DAYS")).count()
    assert(streamed == batch, s"stream $streamed vs batch $batch")
    assert(streamed > 0)
  }

  test("flatMapGroupsWithState sessionization agrees with the batch operator") {
    import spark.implicits._
    val gap = 6L * 3600L * 1000000000L // 6 hours in ns
    val batch = graft.streaming.Sessionize
      .batchSessionCounts(Tables.load(spark, dir, "events"), gap)
      .orderBy("user_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))

    val evStream = stream(400)
      .select(
        element_at(split(col("subject"), "\\."), 3).cast("long").as("user_id"),
        col("seq"),
        (unix_micros(col("ts_nats")) * 1000L).as("tsNs"))
      .as[graft.streaming.Sessionize.Ev]
    val q = graft.streaming.Sessionize.streamSessionCounts(evStream, gap)
      .writeStream.format("memory").queryName("sess")
      .outputMode("update")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    // update mode emits running counts; the LAST emission per user is final
    val streamed = spark.sql(
      """SELECT user_id, n_events, n_sessions FROM (
        |  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY n_events DESC) AS rn
        |  FROM sess) WHERE rn = 1 ORDER BY user_id""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(streamed.map(_._1).sameElements(batch.map(_._1)))
    assert(streamed.map(_._2).sameElements(batch.map(_._2)), "event counts differ")
    assert(streamed.map(_._3).sameElements(batch.map(_._3)), "session counts differ")
  }

  test("as_of_epoch: time-travel reads reproduce each ingest snapshot exactly") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_timetravel").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_tt_ckpt").toString
    // multi-epoch ingest: 1000 fixture messages in 300-message admission
    // batches → ≥4 committed epochs, each a set of epoch-named part files
    val q = stream(300).writeStream.format("nats_scan")
      .option("dir", tmp).option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val store = new java.io.File(s"$tmp/events.msgs")
    val epochs = store.listFiles().map(_.getName)
      .flatMap("^epoch-(\\d{6})-".r.findFirstMatchIn(_).map(_.group(1).toLong))
      .distinct.sorted
    assert(epochs.length >= 3, s"expected a multi-epoch ledger, got $epochs")
    def readAsOf(e: Long) = spark.read.format("nats_scan").option("dir", tmp)
      .option("as_of_epoch", e.toString).load()
    // each snapshot is a seq-PREFIX of the stream (epochs commit in offset
    // order) and grows monotonically to the full 1000
    var prev = 0L
    epochs.foreach { e =>
      val seqs = readAsOf(e).select("seq").collect().map(_.getLong(0)).sorted
      assert(seqs.length > prev, s"epoch $e snapshot did not grow")
      assert(seqs.sameElements(1L to seqs.length),
        s"epoch $e snapshot is not a seq prefix")
      prev = seqs.length
    }
    assert(prev == 1000L)
    // aggregate pushdown must describe the SAME snapshot as the row scan
    assert(readAsOf(epochs.head).count() ==
      readAsOf(epochs.head).select("seq").collect().length.toLong)
    // the full read (no option) sees everything
    assert(spark.read.format("nats_scan").option("dir", tmp).load()
      .count() == 1000L)
    // epoch discovery: the ledger listing names exactly the pinnable
    // snapshots, no epoch-less (-1) bucket on a pure streaming store
    val ledger = graft.sources.NatsStoreMaintenance.epochs(tmp, "events")
    assert(ledger.map(_._1) == epochs.toSeq)
    assert(ledger.forall { case (_, nFiles, bytes) => nFiles > 0 && bytes > 0L })
    // a not-yet-committed epoch is refused — otherwise the "pinned"
    // snapshot would silently change as ingest advances
    val eFuture = intercept[Exception] {
      readAsOf(epochs.max + 100).collect()
    }
    assert(Iterator.iterate(eFuture: Throwable)(_.getCause)
      .takeWhile(_ != null).map(x => Option(x.getMessage).getOrElse(""))
      .mkString(" | ").contains("exceeds the newest committed"))
    // guards: streaming from a snapshot, epoch-less stores, transport mode
    val eStream = intercept[Exception] {
      spark.readStream.format("nats_scan").option("dir", tmp)
        .option("as_of_epoch", epochs.head.toString).load()
        .writeStream.format("memory").queryName("tt_tail")
        .trigger(Trigger.AvailableNow()).start()
        .awaitTermination(30000)
    }
    def chain(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).mkString(" | ")
    assert(chain(eStream).contains("point-in-time snapshot"))
    val eFixture = intercept[Exception] {
      spark.read.format("nats_scan").option("dir", dir)
        .option("as_of_epoch", "1").load().collect()
    }
    assert(chain(eFixture).contains("epoch"))
    val eUrl = intercept[Exception] {
      spark.read.format("nats_scan")
        .option("url", "nats://tt-guard:4222")
        .option("as_of_epoch", "1").load()
    }
    assert(chain(eUrl).contains("start_seq/end_seq"))
  }

  test("the native-store tail reads one footer per new part file and " +
    "reports its backlog through the source's progress metrics") {
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.SpanSugar._
    val tmp = java.nio.file.Files.createTempDirectory("graft_tail_footers").toString
    def append(from: Long, until: Long): Unit =
      spark.range(from, until).select(lit("events").as("stream"),
          lit("events.k").as("subject"), col("id").as("seq"),
          timestamp_micros(col("id") * 1000000L).as("ts_nats"),
          col("id").cast("string").cast("binary").as("payload"))
        .coalesce(1).write.format("nats_scan").option("dir", tmp)
        .mode("append").save()
    append(1L, 301L)
    // the default trigger polls the store back to back while idle
    val q = spark.readStream.format("nats_scan").option("dir", tmp)
      .option("max_msgs_per_batch", "100").load()
      .writeStream.format("memory").queryName("tail_footers").start()
    def progressTo(seq: Long) = q.recentProgress.find(p =>
      p.numInputRows > 0 && p.sources.head.endOffset == seq.toString)
    def metric(p: org.apache.spark.sql.streaming.StreamingQueryProgress,
               name: String): Long = p.sources.head.metrics.get(name).toLong
    try {
      eventually(timeout(60.seconds), interval(20.millis)) {
        assert(progressTo(300L).isDefined)
      }
      // three admission-capped batches against a head of 300
      val caughtUp = (1 to 3).map(k => progressTo(100L * k).get)
      assert(caughtUp.map(metric(_, "backlogMsgs")) == Seq(200L, 100L, 0L))
      // every poll of the unchanged store (batches and idle polls alike)
      // reused the one footer read of the first poll
      assert(caughtUp.map(metric(_, "footerReads")) == Seq(1L, 1L, 1L))
      append(301L, 351L)
      eventually(timeout(60.seconds), interval(20.millis)) {
        assert(progressTo(350L).isDefined)
      }
      val next = progressTo(350L).get
      assert(metric(next, "footerReads") == 2L, "one append, one new footer")
      assert(metric(next, "backlogMsgs") == 0L)
      assert(spark.table("tail_footers").select("seq").collect()
        .map(_.getLong(0)).sorted.toSeq == (1L to 350L))
    } finally q.stop()
  }

  test("every micro-batch holds exactly its seq range when a part file is " +
    "not seq-sorted and batch edges fall mid-file") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_unsorted_tail").toString
    val n = 1000L
    // one part file in shuffled seq order through a plain parquet write:
    // no layout marker vouches for its order
    val tsType = "spark.sql.parquet.outputTimestampType"
    val prevTsType = spark.conf.get(tsType)
    spark.conf.set(tsType, "TIMESTAMP_MICROS")
    try new scala.util.Random(7).shuffle((1L to n).toVector).toDF("seq")
      .coalesce(1)
      .select(lit("events.k").as("subject"), col("seq"),
        timestamp_micros(col("seq") * 1000000L).as("ts_nats"),
        col("seq").cast("string").cast("binary").as("payload"))
      .write.parquet(s"$tmp/events.msgs")
    finally spark.conf.set(tsType, prevTsType)
    val store = new java.io.File(s"$tmp/events.msgs")
    assert(!graft.sources.StoreLayout.seqSorted(store))
    val fileOrder = spark.read.parquet(store.getPath).select("seq").collect()
      .map(_.getLong(0)).toSeq
    assert(fileOrder.sorted == (1L to n) && fileOrder != fileOrder.sorted,
      "the part file must hold every seq once, out of order")
    val got = new java.util.concurrent.ConcurrentHashMap[Long, Seq[Long]]()
    val sink: (org.apache.spark.sql.DataFrame, Long) => Unit = (df, id) => {
      val _ = got.put(id, df.select("seq").collect().map(_.getLong(0)).toSeq)
    }
    val q = spark.readStream.format("nats_scan").option("dir", tmp)
      .option("max_msgs_per_batch", "150").load()
      .writeStream.foreachBatch(sink)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val batches = q.recentProgress.filter(_.numInputRows > 0).toSeq
    val sizes = batches.map(_.numInputRows)
    assert(sizes.length == 7, s"1000 msgs at 150 per batch: ${sizes.mkString(",")}")
    batches.foreach { p =>
      val src = p.sources.head
      val start = Option(src.startOffset).fold(0L)(_.toLong)
      val end = src.endOffset.toLong
      val seqs = got.get(p.batchId)
      assert(seqs.sorted == ((start + 1) to end),
        s"batch ${p.batchId} ($start, $end] held ${seqs.sorted.mkString(",")}")
      assert(p.numInputRows == end - start)
    }
    assert(got.values.asScala.flatten.toSeq.sorted == (1L to n))
  }
}
