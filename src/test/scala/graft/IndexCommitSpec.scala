package graft

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.operators.IndexCommit

/** The shared index commit protocol's own guarantees, driven through
  * deterministic seams (thread-based racing is flaky by construction):
  * single-winner stale-lock breaking (round 16 — the round-15 delete-based
  * break let two contenders recovering from one crashed holder BOTH
  * acquire), owner heartbeats (a live holder/appender never looks stale),
  * age-reaped append markers with the rewrite-horizon guard that keeps
  * reaping sound, the object-store atomicity refusal, and job-free footer
  * row counts. */
class IndexCommitSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = org.apache.spark.sql.SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def fsFor(dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def ancient: Long = System.currentTimeMillis() - 60L * 60 * 1000

  test("two concurrent breakers of one stale lock: single winner, strictly " +
    "sequential critical sections (the round-15 double-break is dead)") {
    val dir = tmp("graft_ic_break2")
    val f = fsFor(dir)
    val lock = new Path(s"$dir/_commit_lock")
    f.create(lock, true).close()
    f.setTimes(lock, ancient, -1)
    val events = scala.collection.mutable.ArrayBuffer.empty[String]
    // contender B observes the lock as stale; in the window between that
    // observation and B's break attempt, contender A runs its ENTIRE
    // acquire→work→release (A breaks the stale lock itself, wins the
    // create race, commits, releases). Round 15's delete-based break had
    // B's already-decided delete land on whatever sat at the lock path —
    // including A's fresh lock had A still held it.
    IndexCommit.testBeforeBreak = () => {
      IndexCommit.testBeforeBreak = () => ()
      IndexCommit.withCommitLock(f, dir, "contender A") {
        events += "A-in"; events += "A-out"
      }
    }
    try IndexCommit.withCommitLock(f, dir, "contender B") {
      events += "B-in"; events += "B-out"
    } finally IndexCommit.testBeforeBreak = () => ()
    assert(events.toSeq == Seq("A-in", "A-out", "B-in", "B-out"),
      s"critical sections must not interleave: $events")
    assert(!f.exists(lock), "final release must leave no lock")
    assert(!f.listStatus(new Path(dir)).exists(
      _.getPath.getName.startsWith("_commit_lock_broken_")),
      "a completed break must remove its own tombstone")
  }

  test("a breaker never touches a FRESH lock that replaced the stale one " +
    "(identity check): the live holder keeps the lock, the breaker aborts " +
    "loudly") {
    val dir = tmp("graft_ic_fresh")
    val f = fsFor(dir)
    val lock = new Path(s"$dir/_commit_lock")
    f.create(lock, true).close()
    f.setTimes(lock, ancient, -1)
    // between B's staleness observation and its break, another contender
    // breaks the stale lock and acquires a FRESH one (simulated directly:
    // replace the file) — exactly the round-15 hole, where B's delete
    // would now land on the live holder's lock
    IndexCommit.testBeforeBreak = () => {
      IndexCommit.testBeforeBreak = () => ()
      f.delete(lock, false)
      val out = f.create(lock, false)
      out.write("live holder A".getBytes("UTF-8")); out.close()
    }
    IndexCommit.testLockWaitMs = Some(600L)
    try {
      val e = intercept[java.util.ConcurrentModificationException] {
        IndexCommit.withCommitLock(f, dir, "contender B") { fail("B must not enter") }
      }
      assert(e.getMessage.contains("commit lock"), e.getMessage)
      // the live holder's lock survived B's whole acquire attempt
      assert(f.exists(lock), "the fresh lock must survive the stale breaker")
      val in = f.open(lock)
      val content =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      assert(content == "live holder A",
        s"the fresh lock must be untouched, got: $content")
    } finally {
      IndexCommit.testBeforeBreak = () => ()
      IndexCommit.testLockWaitMs = None
      f.delete(lock, false)
    }
  }

  test("a crashed breaker's tombstone is swept by the stale sweep; a " +
    "fresh tombstone is left alone") {
    val dir = tmp("graft_ic_tomb")
    val f = fsFor(dir)
    val stale = new Path(s"$dir/_commit_lock_broken_deadbeef")
    val fresh = new Path(s"$dir/_commit_lock_broken_0abc0abc")
    f.create(stale, true).close()
    f.setTimes(stale, ancient, -1)
    f.create(fresh, true).close()
    val doomed = IndexCommit.staleStagingDirs(f, dir, Seq("bands", "sigs"))
    assert(doomed.exists(_.endsWith("_commit_lock_broken_deadbeef")), doomed)
    assert(!doomed.exists(_.endsWith("_commit_lock_broken_0abc0abc")), doomed)
    doomed.foreach(IndexCommit.tryReclaim(f, _))
    assert(!f.exists(stale) && f.exists(fresh))
  }

  test("a held commit lock is HEARTBEATEN: its mtime recovers even if " +
    "something backdates it mid-hold (a live holder never looks stale)") {
    val dir = tmp("graft_ic_beat")
    val f = fsFor(dir)
    val lock = new Path(s"$dir/_commit_lock")
    IndexCommit.testHeartbeatIntervalMs = Some(100L)
    try IndexCommit.withCommitLock(f, dir, "beating holder") {
      f.setTimes(lock, ancient, -1) // simulate drift toward staleness
      Thread.sleep(800L)
      val m = f.getFileStatus(lock).getModificationTime
      assert(System.currentTimeMillis() - m < 10_000L,
        s"heartbeat must refresh the held lock's mtime, got age ${System.currentTimeMillis() - m} ms")
    } finally IndexCommit.testHeartbeatIntervalMs = None
  }

  test("a live append's intent is heartbeaten until finishAppend, then " +
    "the beats stop — a long batch append is never reaped while its JVM " +
    "lives") {
    val dir = tmp("graft_ic_intentbeat")
    val f = fsFor(dir)
    IndexCommit.testHeartbeatIntervalMs = Some(100L)
    try {
      val token = IndexCommit.beginAppend(f, dir)
      val intent = new Path(s"$dir/_append_intent_$token")
      f.setTimes(intent, ancient, -1) // pretend it drifted stale mid-write
      Thread.sleep(800L)
      val m = f.getFileStatus(intent).getModificationTime
      assert(System.currentTimeMillis() - m < 10_000L,
        "heartbeat must refresh a live intent's mtime")
      // and the reaper therefore leaves it alone
      assert(IndexCommit.liveIntents(f, dir) == Seq(s"_append_intent_$token"))
      IndexCommit.finishAppend(f, dir, token)
      assert(!f.exists(intent))
      // beats stopped: a backdated marker file stays backdated
      val marker = new Path(s"$dir/_append_commit_$token")
      f.setTimes(marker, ancient, -1)
      Thread.sleep(400L)
      assert(math.abs(f.getFileStatus(marker).getModificationTime - ancient)
        <= 5000L, "a finished append's heartbeat must stop")
    } finally IndexCommit.testHeartbeatIntervalMs = None
  }

  test("finishAppend fails LOUDLY (and drops no marker) when the intent " +
    "was reaped out from under a stalled appender — never a marker that " +
    "falsely certifies rows a rewrite may not have seen") {
    val dir = tmp("graft_ic_reaped")
    val f = fsFor(dir)
    val token = IndexCommit.beginAppend(f, dir)
    // a reaper (another session's liveIntents over a >TTL-stale intent)
    // removed the intent while this appender's JVM was paused
    f.delete(new Path(s"$dir/_append_intent_$token"), false)
    val e = intercept[IllegalStateException] {
      IndexCommit.finishAppend(f, dir, token)
    }
    assert(e.getMessage.contains("remove(theseIds)"), e.getMessage)
    assert(!f.exists(new Path(s"$dir/_append_commit_$token")),
      "no marker may land for an uncertifiable append")
  }

  test("append markers age out on listing (bounded root in an append-only " +
    "deployment) and requireMarkerHorizon keeps the reaping sound") {
    val dir = tmp("graft_ic_markers")
    val f = fsFor(dir)
    // three appends, no rewrite ever — round 15 accumulated these forever
    val tokens = (1 to 3).map { _ =>
      val t = IndexCommit.beginAppend(f, dir)
      IndexCommit.finishAppend(f, dir, t); t
    }
    assert(IndexCommit.commitMarkers(f, dir).size == 3)
    tokens.take(2).foreach { t =>
      f.setTimes(new Path(s"$dir/_append_commit_$t"), ancient, -1)
    }
    // the APPEND PATH itself sweeps aged markers on the way in — in an
    // append-only deployment nothing else ever lists them
    val t4 = IndexCommit.beginAppend(f, dir)
    IndexCommit.finishAppend(f, dir, t4)
    assert(f.listStatus(new Path(dir))
      .count(_.getPath.getName.startsWith("_append_commit_")) == 2,
      "aged markers must be physically deleted by the next append's sweep")
    assert(IndexCommit.commitMarkers(f, dir) ==
      Set(s"_append_commit_${tokens(2)}", s"_append_commit_$t4"))
    // soundness guard: a rewrite whose snapshot-to-commit span reaches the
    // horizon must abort — beyond it an unseen marker may have been reaped
    IndexCommit.requireMarkerHorizon(dir,
      System.currentTimeMillis() - 1000L,
      IndexCommit.DefaultStaleMs) // young rewrite: fine
    val e = intercept[java.util.ConcurrentModificationException] {
      IndexCommit.requireMarkerHorizon(dir,
        System.currentTimeMillis() - IndexCommit.DefaultStaleMs,
        IndexCommit.DefaultStaleMs)
    }
    assert(e.getMessage.contains("marker horizon"), e.getMessage)
  }

  test("commit fence: a holder whose lease was stolen mid-hold aborts at " +
    "assertLockHeld, and its release leaves the THIEF's lock untouched") {
    val dir = tmp("graft_ic_fence")
    val f = fsFor(dir)
    val lock = new Path(s"$dir/_commit_lock")
    IndexCommit.withCommitLock(f, dir, "victim") {
      IndexCommit.assertLockHeld(f, dir) // ours: passes
      // lease theft: a breaker reaped this (presumed-dead) holder's lock
      // and a new writer acquired — simulate directly
      f.delete(lock, false)
      val out = f.create(lock, false)
      out.write("thief token=feedface ts=0".getBytes("UTF-8")); out.close()
      val e = intercept[java.util.ConcurrentModificationException] {
        IndexCommit.assertLockHeld(f, dir)
      }
      assert(e.getMessage.contains("commit fence"), e.getMessage)
    }
    // the victim's release must NOT have deleted the thief's lock (that
    // would admit a third writer alongside the thief)
    assert(f.exists(lock), "release deleted a lock it no longer owned")
    val in = f.open(lock)
    val content =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    assert(content.contains("feedface"), content)
    f.delete(lock, false)
    // outside any lock the fence is a no-op (fresh-build writes)
    IndexCommit.assertLockHeld(f, dir)
  }

  test("requireAtomicCommitStore refuses s3a-style schemes at build time " +
    "and downgrades to a warning under the explicit override") {
    class FakeS3 extends org.apache.hadoop.fs.RawLocalFileSystem {
      override def getScheme: String = "s3a"
    }
    val conf = new org.apache.hadoop.conf.Configuration(false)
    val f = new FakeS3; f.setConf(conf)
    val e = intercept[IllegalArgumentException] {
      IndexCommit.requireAtomicCommitStore(f, "s3a://bucket/idx")
    }
    assert(e.getMessage.contains("allowNonAtomicStore"), e.getMessage)
    conf.setBoolean("graft.index.allowNonAtomicStore", true)
    IndexCommit.requireAtomicCommitStore(f, "s3a://bucket/idx") // warns only
    // and the local filesystem is always fine
    IndexCommit.requireAtomicCommitStore(fsFor("/tmp"), "/tmp/idx")
  }

  test("a lock-create failure that is NOT contention (missing parent " +
    "dir) aborts with the REAL error, not a misleading 'held by another " +
    "writer' after a silent busy-spin") {
    val dir = tmp("graft_ic_badparent") + "/does/not/exist"
    val f = fsFor("/tmp")
    IndexCommit.testLockWaitMs = Some(400L)
    try {
      val e = intercept[java.util.ConcurrentModificationException] {
        IndexCommit.withCommitLock(f, dir, "doomed writer") {
          fail("must never enter")
        }
      }
      assert(e.getMessage.contains("non-contention"), e.getMessage)
      assert(!e.getMessage.contains("held by another writer"), e.getMessage)
    } finally IndexCommit.testLockWaitMs = None
  }

  test("the stale horizon is PERSISTED: conf-driven at init, read fresh " +
    "per operation, raise-only via the lock-guarded setter, floored") {
    val dir = tmp("graft_ic_horizon")
    val f = fsFor(dir)
    // bare dir (legacy pre-round-17 index): the old default
    assert(IndexCommit.horizonMs(f, dir) == IndexCommit.DefaultStaleMs)
    // build-time init honors the Hadoop conf knob (passed explicitly —
    // a cached FileSystem's own conf can be a stale copy)
    val conf = new org.apache.hadoop.conf.Configuration(false)
    conf.setLong(IndexCommit.HorizonConfKey, 120000L)
    assert(IndexCommit.initHorizon(f, dir, conf) == 120000L)
    assert(IndexCommit.horizonMs(f, dir) == 120000L)
    // a raise persists and is visible to any fresh read (another session
    // reads the same file — one source of truth)
    IndexCommit.setStaleHorizon(f, dir, 240000L)
    assert(IndexCommit.horizonMs(f, dir) == 240000L)
    // LOWERING is refused: reapers at the smaller horizon could delete a
    // marker an in-flight rewrite (trusting the larger one) never saw
    val e = intercept[IllegalArgumentException] {
      IndexCommit.setStaleHorizon(f, dir, 120000L)
    }
    assert(e.getMessage.contains("LOWER"), e.getMessage)
    assert(IndexCommit.horizonMs(f, dir) == 240000L)
    // the floor (heartbeats at horizon/3 can't certify liveness below it)
    intercept[IllegalArgumentException] {
      IndexCommit.setStaleHorizon(f, dir, 10L)
    }
    // same-value raise is an idempotent no-op and leaves no lock behind
    IndexCommit.setStaleHorizon(f, dir, 240000L)
    assert(IndexCommit.horizonMs(f, dir) == 240000L)
    assert(!f.exists(new Path(s"$dir/_commit_lock")))
  }

  test("a crashed horizon swap is LOUD — never a silent fallback to the " +
    "default (which could be LOWER than the agreed horizon)") {
    val dir = tmp("graft_ic_horizcrash")
    val f = fsFor(dir)
    // mid-swap crash evidence: canonical gone, _old present
    val out = f.create(new Path(s"$dir/_horizon_ms_old"), true)
    out.write("240000".getBytes("UTF-8")); out.close()
    val e = intercept[IllegalStateException] {
      IndexCommit.horizonMs(f, dir)
    }
    assert(e.getMessage.contains("_horizon_ms_old"), e.getMessage)
  }

  test("persistent heartbeat failures WARN after the threshold (liveness " +
    "certification not landing is visible BEFORE a fence abort wastes a " +
    "staged rewrite) and a recovery resets the count") {
    val dir = tmp("graft_ic_beatfail")
    val f = fsFor(dir)
    val warns = scala.collection.mutable.ArrayBuffer.empty[(String, Int)]
    val failing = new java.util.concurrent.atomic.AtomicBoolean(true)
    IndexCommit.testHeartbeatIntervalMs = Some(40L)
    IndexCommit.testHeartbeatSetTimes = Some((fs, p) =>
      if (failing.get) throw new java.io.IOException("injected setTimes failure")
      else fs.setTimes(p, System.currentTimeMillis(), -1))
    IndexCommit.testOnHeartbeatWarn = (p, n) => warns.synchronized {
      warns += ((p.getName, n)); ()
    }
    try IndexCommit.withCommitLock(f, dir, "beat-dead holder") {
      val deadline = System.currentTimeMillis() + 5000L
      while (warns.synchronized(warns.isEmpty) &&
        System.currentTimeMillis() < deadline) Thread.sleep(20L)
      assert(warns.synchronized(warns.exists { case (n, c) =>
        n == "_commit_lock" && c == IndexCommit.HeartbeatWarnAfter }),
        warns.synchronized(warns.toString))
      // recovery: successful beats reset the consecutive count, so a NEW
      // failure streak warns at the threshold again (not at threshold+k)
      failing.set(false)
      Thread.sleep(300L)
      val before = warns.synchronized(warns.size)
      failing.set(true)
      val deadline2 = System.currentTimeMillis() + 5000L
      while (warns.synchronized(warns.size) == before &&
        System.currentTimeMillis() < deadline2) Thread.sleep(20L)
      assert(warns.synchronized(
        warns.drop(before).exists(_._2 == IndexCommit.HeartbeatWarnAfter)),
        warns.synchronized(warns.toString))
    } finally {
      IndexCommit.testHeartbeatIntervalMs = None
      IndexCommit.testHeartbeatSetTimes = None
      IndexCommit.testOnHeartbeatWarn = (_, _) => ()
    }
  }

  test("lock acquisition WARNs on filesystem-vs-local clock skew past " +
    "horizon/10 (skew eats the staleness margin in both directions)") {
    val dir = tmp("graft_ic_skew")
    val raw = new org.apache.hadoop.fs.RawLocalFileSystem
    raw.initialize(new java.net.URI("file:///"),
      new org.apache.hadoop.conf.Configuration())
    val shift = 10L * 60 * 1000 // fs clock 10 min ahead of local
    val skewed = new org.apache.hadoop.fs.FilterFileSystem(raw) {
      override def getFileStatus(p: Path): org.apache.hadoop.fs.FileStatus = {
        val s = super.getFileStatus(p)
        new org.apache.hadoop.fs.FileStatus(s.getLen, s.isDirectory,
          s.getReplication, s.getBlockSize, s.getModificationTime + shift,
          s.getAccessTime, s.getPermission, s.getOwner, s.getGroup,
          s.getPath)
      }
    }
    var seen = List.empty[Long]
    IndexCommit.testOnClockSkew = s => seen ::= s
    try IndexCommit.withCommitLock(skewed, dir, "skewed writer") { () }
    finally IndexCommit.testOnClockSkew = _ => ()
    assert(seen.exists(s => s > 9L * 60 * 1000), s"skew warn must fire: $seen")
    // appenders ride the same mtimes: beginAppend probes its fresh intent
    var seenAppend = List.empty[Long]
    IndexCommit.testOnClockSkew = s => seenAppend ::= s
    val tok =
      try IndexCommit.beginAppend(skewed, dir)
      finally IndexCommit.testOnClockSkew = _ => ()
    IndexCommit.abortAppend(skewed, dir, tok)
    assert(seenAppend.exists(s => s > 9L * 60 * 1000),
      s"append skew warn must fire: $seenAppend")
    // an unskewed acquisition stays quiet
    var quiet = List.empty[Long]
    IndexCommit.testOnClockSkew = s => quiet ::= s
    try IndexCommit.withCommitLock(fsFor(dir), dir, "honest writer") { () }
    finally IndexCommit.testOnClockSkew = _ => ()
    assert(quiet.isEmpty, quiet.toString)
  }

  test("the fence compares tokens by EXACT field parse, not substring: a " +
    "thief lock that happens to QUOTE our token in its text still fences " +
    "us out (round-16 advisory)") {
    val dir = tmp("graft_ic_exacttoken")
    val f = fsFor(dir)
    val lock = new Path(s"$dir/_commit_lock")
    IndexCommit.withCommitLock(f, dir, "victim") {
      val in = f.open(lock)
      val ours =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      val ourToken = IndexCommit.parseLockToken(ours).get
      f.delete(lock, false)
      val out = f.create(lock, false)
      // the thief's content CONTAINS our token as a substring (in its
      // what-text) — the round-16 `contains` check would falsely pass
      out.write((s"token=${java.util.UUID.randomUUID()} ts=0 " +
        s"what=recovered-after-$ourToken").getBytes("UTF-8"))
      out.close()
      val e = intercept[java.util.ConcurrentModificationException] {
        IndexCommit.assertLockHeld(f, dir)
      }
      assert(e.getMessage.contains("commit fence"), e.getMessage)
    }
    // and the release left the thief's lock untouched
    assert(f.exists(lock), "release deleted a lock it no longer owned")
    f.delete(lock, false)
  }

  test("the lock file is born WITH its content (no empty-lock crash " +
    "window) and crashed create/swap temps age out via the stale sweep") {
    val dir = tmp("graft_ic_atomiclock")
    val f = fsFor(dir)
    IndexCommit.withCommitLock(f, dir, "writer") {
      val in = f.open(new Path(s"$dir/_commit_lock"))
      val content =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      assert(IndexCommit.parseLockToken(content).nonEmpty,
        s"lock must carry its token from birth, got: '$content'")
      assert(!f.listStatus(new Path(dir)).exists(
        _.getPath.getName.contains(".hl")),
        "the content temp must be gone once the lock is linked in")
    }
    // crashed-writer debris: local hardlink temps, HDFS rename temps,
    // horizon-swap temps — all swept once stale; the canonical horizon
    // file itself is NEVER debris
    Seq("_commit_lock.hl0badcafe", "_commit_lock_tmp_0badcafe",
      "_horizon_ms_tmp").foreach { n =>
      f.create(new Path(s"$dir/$n"), true).close()
      f.setTimes(new Path(s"$dir/$n"), ancient, -1)
    }
    val out = f.create(new Path(s"$dir/_horizon_ms"), true)
    out.write("900000".getBytes("UTF-8")); out.close()
    f.setTimes(new Path(s"$dir/_horizon_ms"), ancient, -1)
    // _horizon_ms_old is crashed-swap RECOVERY EVIDENCE, never debris:
    // sweeping it would turn horizonMs' loud crashed-swap failure into a
    // silent fallback to the (possibly lower) default
    f.create(new Path(s"$dir/_horizon_ms_old"), true).close()
    f.setTimes(new Path(s"$dir/_horizon_ms_old"), ancient, -1)
    val doomed = IndexCommit.staleStagingDirs(f, dir, Seq("bands"))
    Seq(".hl0badcafe", "_tmp_0badcafe", "_horizon_ms_tmp").foreach { sfx =>
      assert(doomed.exists(_.contains(sfx)), s"$sfx missing from $doomed")
    }
    assert(!doomed.exists(_.endsWith("/_horizon_ms")),
      s"the canonical horizon file is not debris: $doomed")
    assert(!doomed.exists(_.endsWith("/_horizon_ms_old")),
      s"crashed-swap recovery evidence must never be swept: $doomed")
    f.delete(new Path(s"$dir/_horizon_ms_old"), false)
  }

  test("describeLocks is a NON-MUTATING observer: it reports a held " +
    "lock's age and holder, counts intents/markers without reaping, and " +
    "goes quiet when the lock releases") {
    val dir = tmp("graft_ic_desclocks")
    val f = fsFor(dir)
    val token = IndexCommit.beginAppend(f, dir)
    // an ANCIENT marker a reaping listing would delete — describe must not
    val m = new Path(s"$dir/_append_commit_deadbeef")
    f.create(m, true).close()
    f.setTimes(m, ancient, -1)
    IndexCommit.withCommitLock(f, dir, "held for describe") {
      val row = IndexCommit.describeLocks(spark, dir).collect().head
      assert(row.getAs[Long]("horizon_ms") == IndexCommit.DefaultStaleMs)
      assert(row.getAs[Boolean]("lock_present"))
      assert(row.getAs[Long]("lock_age_ms") >= 0L)
      assert(row.getAs[String]("lock_holder").contains("held for describe"))
      assert(row.getAs[Long]("live_intents") == 1L)
      assert(row.getAs[Long]("commit_markers") == 1L)
      assert(!row.getAs[Boolean]("maintenance_due"))
    }
    assert(f.exists(m), "describeLocks must NOT reap what it observes")
    val after = IndexCommit.describeLocks(spark, dir).collect().head
    assert(!after.getAs[Boolean]("lock_present"))
    assert(after.isNullAt(after.fieldIndex("lock_age_ms")))
    assert(after.isNullAt(after.fieldIndex("lock_holder")))
    IndexCommit.abortAppend(f, dir, token)
    f.delete(m, false)
  }

  test("footerRowCount over a 5000-file listing is PARALLEL and CACHED: " +
    "exact counts, each footer opened once on the pool with opens in " +
    "flight together, zero opens on the repeat (describe on a fragmented " +
    "index is no longer a serial driver loop)") {
    import spark.implicits._
    val root = tmp("graft_ic_manyfooters")
    val seedDir = s"$root/seed"
    Seq(1, 2, 3).toDF("v").coalesce(1).write.parquet(seedDir)
    val f = fsFor(root)
    val seed = f.listStatus(new Path(seedDir))
      .filter(_.getPath.getName.endsWith(".parquet")).head.getPath
    val many = new java.io.File(s"$root/many"); many.mkdirs()
    val src = java.nio.file.Paths.get(seed.toUri.getPath)
    (1 to 5000).foreach { i =>
      java.nio.file.Files.copy(src,
        java.nio.file.Paths.get(s"$root/many/part_$i.parquet"))
    }
    // the same files seen through the counting filesystem
    val conf = new org.apache.hadoop.conf.Configuration(
      spark.sparkContext.hadoopConfiguration)
    conf.set("fs.countfs.impl", classOf[CountingFs].getName)
    val counted = new Path(s"countfs://$root/many")
    val files = counted.getFileSystem(conf).listStatus(counted).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    assert(files.size == 5000)
    CountingFs.reset()
    val n1 = IndexCommit.footerRowCount(conf, files)
    assert(n1 == 15000L, s"expected 5000 files x 3 rows, got $n1")
    val cold = CountingFs.snapshot()
    assert(cold.opens.size == 5000 && cold.opens.values.forall(_ == 1),
      s"cold pass must open each footer exactly once: ${cold.opens.size} " +
        s"files, ${cold.opens.values.sum} opens")
    assert(cold.threads.forall(_.startsWith("graft-footer-read")),
      s"footers must be opened on the footer pool: ${cold.threads}")
    assert(cold.maxInFlight > 1,
      "the footer pool never had two opens in flight: the cold pass is serial")
    CountingFs.reset()
    val n2 = IndexCommit.footerRowCount(conf, files)
    assert(n2 == 15000L)
    assert(CountingFs.snapshot().opens.isEmpty,
      "cached pass must skip every footer read")
  }

  test("footerRowCount returns exact parquet row counts with zero Spark " +
    "jobs (the integers a scan's count() would produce)") {
    import spark.implicits._
    val dir = tmp("graft_ic_footer") + "/t"
    (1 to 1234).toDF("v").repartition(3).write.parquet(dir)
    val f = fsFor(dir)
    val files = f.listStatus(new Path(dir)).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    var jobs = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs += 1
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val n = IndexCommit.footerRowCount(
        spark.sparkContext.hadoopConfiguration, files)
      // footerRowCount is synchronous: any job it submitted has hit the
      // listener bus by its return; give the async bus time to drain
      Thread.sleep(500)
      assert(n == 1234L)
      assert(jobs == 0, s"footerRowCount must launch no Spark job, saw $jobs")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("stale sweep reclaims BoundedParquet _w/_wold debris (bare, staged) " +
    "but never fresh temps or live generation dirs") {
    val dir = tmp("graft_ic_wtmp")
    val f = fsFor(dir)
    def mkdir(n: String, old: Boolean): Path = {
      val p = new Path(s"$dir/$n")
      f.mkdirs(p)
      if (old) f.setTimes(p, ancient, -1)
      p
    }
    val staleBare = mkdir("meta_wdeadbeef", old = true)
    val staleOld = mkdir("centroids_wold0abc0abc", old = true)
    val staleStaged = mkdir("meta_g2_s1a2b3c4d_w5e6f7a8b", old = true)
    val freshTmp = mkdir("meta_w00fresh0", old = false)
    val liveGen = mkdir("meta_g2", old = true) // a REAL rebuild codebook
    val livePostings = mkdir("postings_g2", old = true) // a REAL generation
    val doomed = IndexCommit.staleStagingDirs(f, dir,
      Seq("postings", "meta", "centroids"))
    assert(doomed.exists(_.endsWith("meta_wdeadbeef")), doomed)
    assert(doomed.exists(_.endsWith("centroids_wold0abc0abc")), doomed)
    assert(doomed.exists(_.endsWith("meta_g2_s1a2b3c4d_w5e6f7a8b")), doomed)
    assert(!doomed.exists(_.endsWith("meta_w00fresh0")),
      s"a FRESH write temp may belong to a live writer: $doomed")
    assert(!doomed.exists(_.endsWith("meta_g2")),
      s"a live rebuild codebook must never be swept: $doomed")
    assert(!doomed.exists(_.endsWith("postings_g2")),
      s"a live generation must never be swept: $doomed")
    doomed.foreach(IndexCommit.tryReclaim(f, _))
    assert(!f.exists(staleBare) && !f.exists(staleOld) && !f.exists(staleStaged))
    assert(f.exists(freshTmp) && f.exists(liveGen) && f.exists(livePostings))
  }

  test("BoundedParquet.overwrite crash window: a crash between the " +
    "rename-aside and the install leaves BOTH complete copies on disk, " +
    "and a re-run heals") {
    import graft.operators.BoundedParquet
    val dir = tmp("graft_bp_swap")
    val f = fsFor(dir)
    val target = s"$dir/model"
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message m { required int64 v; }")
    def write(v: Long): Unit =
      BoundedParquet.overwrite(f, schema, target) { (fac, sink) =>
        val g = fac.newGroup(); g.append("v", v); sink(g)
      }
    def read(path: String): Seq[Long] =
      BoundedParquet.readGroups(f, spark.sparkContext.hadoopConfiguration,
        path).map(_.getLong("v", 0))
    write(1L)
    assert(read(target) == Seq(1L))
    // crash INSIDE the swap of the second write
    BoundedParquet.testBeforeSwapInstall =
      () => throw new RuntimeException("injected crash inside swap")
    try intercept[RuntimeException](write(2L))
    finally BoundedParquet.testBeforeSwapInstall = () => ()
    val leftovers = f.listStatus(new Path(dir)).toSeq.map(_.getPath.getName)
    assert(!f.exists(new Path(target)),
      s"mid-swap crash state: target gone, got $leftovers")
    val oldCopy = leftovers.filter(_.startsWith("model_wold"))
    val newCopy = leftovers.filter(n => n.startsWith("model_w") &&
      !n.startsWith("model_wold"))
    assert(oldCopy.size == 1 && read(s"$dir/${oldCopy.head}") == Seq(1L),
      s"the previous content must survive the crash: $leftovers")
    assert(newCopy.size == 1 && read(s"$dir/${newCopy.head}") == Seq(2L),
      s"the fully-written new content must survive the crash: $leftovers")
    // a re-run heals (missing target skips the rename-aside) …
    write(3L)
    assert(read(target) == Seq(3L))
    // … and the crash debris ages out via the stale sweep
    leftovers.foreach { n =>
      f.setTimes(new Path(s"$dir/$n"), ancient, -1)
    }
    val doomed = IndexCommit.staleStagingDirs(f, dir, Seq("model"))
    assert(oldCopy.forall(n => doomed.exists(_.endsWith(n))) &&
      newCopy.forall(n => doomed.exists(_.endsWith(n))), doomed)
    doomed.foreach(IndexCommit.tryReclaim(f, _))
    assert(read(target) == Seq(3L), "the sweep must never touch the target")
  }
}

/** The local filesystem under the `countfs` scheme, counting `open` calls
  * per path. The first open after [[CountingFs.reset]] stays in flight
  * until a second open arrives (or 60 s pass), so `maxInFlight > 1` holds
  * exactly when two opens overlapped — a serial reader cannot reach it. */
final class CountingFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("countfs:///")
  override def getScheme: String = "countfs"
  override def open(p: Path, bufferSize: Int)
      : org.apache.hadoop.fs.FSDataInputStream = {
    CountingFs.opened(p)
    super.open(p, bufferSize)
  }
}

object CountingFs {
  final case class Snapshot(opens: Map[String, Int], threads: Set[String],
                            maxInFlight: Int)
  private val opens =
    new java.util.concurrent.ConcurrentHashMap[String, Integer]()
  private val threads = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private val inFlight = new java.util.concurrent.atomic.AtomicInteger()
  private val maxInFlight = new java.util.concurrent.atomic.AtomicInteger()
  private val first = new java.util.concurrent.atomic.AtomicBoolean()
  @volatile private var second = new java.util.concurrent.CountDownLatch(1)

  def reset(): Unit = {
    opens.clear(); threads.clear(); maxInFlight.set(0); first.set(false)
    second = new java.util.concurrent.CountDownLatch(1)
  }

  def snapshot(): Snapshot = {
    import scala.jdk.CollectionConverters._
    Snapshot(opens.asScala.map { case (k, v) => k -> v.intValue }.toMap,
      threads.asScala.toSet, maxInFlight.get)
  }

  private[graft] def opened(p: Path): Unit = {
    opens.merge(p.toString, 1, (a: Integer, b: Integer) => a + b)
    threads.add(Thread.currentThread.getName)
    maxInFlight.accumulateAndGet(inFlight.incrementAndGet(),
      (a: Int, b: Int) => math.max(a, b))
    try {
      if (first.compareAndSet(false, true))
        second.await(60, java.util.concurrent.TimeUnit.SECONDS): Unit
      else second.countDown()
    } finally inFlight.decrementAndGet(): Unit
  }
}
