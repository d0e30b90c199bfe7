package graft

import org.apache.spark.sql.SparkSession
import graft.operators.{DedupIndex, VectorIndex}

/** Out-of-band index maintainer — the runnable form of the
  * `deferMaintenance` recipe in docs/DEPLOYMENT.md: the streaming gates
  * ([[graft.streaming.StreamingDedup]], [[graft.streaming
  * .StreamingVectorIngest]]) only SIGNAL compaction-due from inside a
  * micro-batch (one idempotent flag file — batch latency stays O(batch));
  * this process, from any session or host, polls the flag and runs the
  * rewrite. Safety is entirely the indexes' own commit protocol
  * ([[graft.operators.IndexCommit]]): `compact` takes the commit lock,
  * observes live append intents / new commit markers, and aborts loudly
  * rather than drop a concurrent batch's rows — so the maintainer needs
  * no coordination with the gates beyond the index directory itself.
  *
  * Usage: `runMain graft.IndexMaintainer [--interval-s N] [--once]
  * [--retain N] dir...` — sweeps the listed index dirs; with
  * `--interval-s` it polls forever (the deployment shape), with `--once`
  * (default) it sweeps once and exits (the cron shape; exit code 0 =
  * healthy or benign lost races, nonzero = an index needs operator
  * attention), and `--retain N` sets how many superseded generations
  * each compact keeps for time-travel audits and in-flight readers
  * (default 1). Index kind is detected from the on-disk layout:
  * `bands[_gN]` dirs = dedup, `postings[_gN]` dirs = vector. */
object IndexMaintainer {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  sealed trait Kind
  case object DedupKind extends Kind
  case object VectorKind extends Kind
  case object UnknownKind extends Kind

  /** What one sweep did for one index dir. `benign` distinguishes a
    * lost race the commit protocol already rolled back safely (the flag
    * stays set, the next sweep retries — NOT an alerting condition) from
    * a sick index that needs operator attention (crashed-commit state,
    * permissions): the maintainer's exit code and its JSON summary both
    * key off it, because the cron `--once` shape is the deployment shape
    * and cron alerts on exit codes (round-16 verdict #4 — the old
    * always-0 exit meant a fleet where every index was sick looked
    * healthy to its scheduler). */
  final case class Sweep(dir: String, kind: String, due: Boolean,
                         compacted: Boolean, benign: Boolean,
                         error: Option[String]) {
    /** one machine-readable summary line per sweep (the bench artifacts'
      * style) — a wrapper greps stdout instead of parsing logs */
    def json: String = {
      def q(s: String) =
        "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"")
          .replace("\n", " ") + "\""
      s"""{"dir":${q(dir)},"kind":${q(kind)},"due":$due,""" +
        s""""compacted":$compacted,"benign":$benign,""" +
        s""""error":${error.map(q).getOrElse("null")}}"""
    }
  }

  private[graft] def kindOf(spark: SparkSession, dir: String): Kind = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!f.exists(p)) UnknownKind
    else {
      val names = f.listStatus(p).map(_.getPath.getName).toSet
      if (names.exists(n => n == "bands" || n.matches("bands_g\\d+")))
        DedupKind
      else if (names.exists(n => n == "postings" || n.matches("postings_g\\d+")))
        VectorKind
      else UnknownKind
    }
  }

  /** One polling sweep over `dirs`: for each index whose maintenance-due
    * flag is set, run `compact` (lock-guarded, append-aware — a loud
    * abort on concurrent activity is returned as the error, not thrown:
    * the flag stays set and the next sweep retries) and log the GC
    * outcome so storage that stops shrinking is visible. */
  def runOnce(spark: SparkSession, dirs: Seq[String],
              retainGenerations: Int = 1): Seq[Sweep] =
    dirs.map { dir =>
      val kind = kindOf(spark, dir)
      try kind match {
        case DedupKind =>
          val due = DedupIndex.maintenanceDue(spark, dir)
          if (due) {
            DedupIndex.compact(spark, dir, retainGenerations)
            val gc = DedupIndex.expireGenerations(spark, dir,
              retainGenerations)
            log.info(s"compacted dedup index $dir -> generation " +
              s"${DedupIndex.liveGeneration(spark, dir)}; gc reclaimed=" +
              s"${gc.reclaimed.size} failed=${gc.failed.size}" +
              (if (gc.failed.nonEmpty)
                 s" (failed: ${gc.failed.mkString(", ")})" else ""))
          }
          Sweep(dir, "dedup", due, compacted = due, benign = true, None)
        case VectorKind =>
          val due = VectorIndex.maintenanceDue(spark, dir)
          if (due) {
            VectorIndex.compact(spark, dir, retainGenerations)
            val gc = VectorIndex.expireGenerations(spark, dir,
              retainGenerations)
            log.info(s"compacted vector index $dir -> generation " +
              s"${VectorIndex.liveGeneration(spark, dir)}; gc reclaimed=" +
              s"${gc.reclaimed.size} failed=${gc.failed.size}" +
              (if (gc.failed.nonEmpty)
                 s" (failed: ${gc.failed.mkString(", ")})" else ""))
          }
          Sweep(dir, "vector", due, compacted = due, benign = true, None)
        case UnknownKind =>
          Sweep(dir, "unknown", due = false, compacted = false,
            benign = false, Some(s"no index layout recognized at $dir"))
      } catch {
        // a concurrent gate's append or another maintainer won the race —
        // the commit protocol already rolled this attempt back and the
        // maintenance-due flag is still set; the next sweep retries
        case e: java.util.ConcurrentModificationException =>
          log.warn(s"maintenance on $dir lost a benign race, will retry: " +
            e.getMessage)
          Sweep(dir, kind.toString.stripSuffix("Kind").toLowerCase,
            due = true, compacted = false, benign = true, Some(e.getMessage))
        // one sick index (crashed-commit state, permission failure, …)
        // must not starve the rest of the sweep list — a fleet maintainer
        // that dies on the first bad dir maintains nothing
        case scala.util.control.NonFatal(e) =>
          log.error(s"maintenance on $dir failed (needs operator " +
            s"attention, continuing the sweep): $e")
          Sweep(dir, kind.toString.stripSuffix("Kind").toLowerCase,
            due = false, compacted = false, benign = false, Some(e.toString))
      }
    }

  /** The maintainer loop, factored from [[main]] so specs can assert the
    * exit semantics without forking a JVM. Returns the process exit code:
    * 0 when every sweep of the LAST pass was healthy or a benign lost
    * race (the retry path — the flag stays set and the next run picks it
    * up), nonzero when any index needs operator attention. Each sweep
    * also prints one JSON line to stdout for wrappers that want more
    * than the exit bit. */
  def run(spark: SparkSession, dirs: Seq[String], intervalS: Long,
          retainGenerations: Int = 1): Int = {
    var code = 0
    var go = true
    while (go) {
      val sweeps = runOnce(spark, dirs, retainGenerations)
      sweeps.foreach { s => log.info(s.toString); println(s.json) }
      code = if (sweeps.forall(_.benign)) 0 else 1
      if (intervalS > 0) Thread.sleep(intervalS * 1000L) else go = false
    }
    code
  }

  def main(args: Array[String]): Unit = {
    var intervalS = 0L
    var retain = 1
    var dirs = Vector.empty[String]
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--interval-s" => intervalS = args(i + 1).toLong; i += 2
        case "--once" => intervalS = 0L; i += 1
        // how many superseded generations each compact retains (the
        // time-travel / in-flight-reader grace window — deployments that
        // audit gate decisions need more than the default 1)
        case "--retain" => retain = args(i + 1).toInt; i += 2
        case d => dirs :+= d; i += 1
      }
    }
    require(dirs.nonEmpty,
      "usage: IndexMaintainer [--interval-s N | --once] [--retain N] " +
        "indexDir...")
    val spark = sessionBuilder().getOrCreate()
    val code = try run(spark, dirs, intervalS, retain) finally spark.stop()
    if (code != 0) sys.exit(code)
  }

  /** the maintainer JVM's session, built through the deployment profile so
    * its compactions write part files, `.crc` files and markers without
    * forking a process per file */
  private[graft] def sessionBuilder(): SparkSession.Builder =
    DeploymentProfile.configure(SparkSession.builder()
      .appName("graft-index-maintainer")
      .master(sys.env.getOrElse("SPARK_MASTER", "local[8]"))
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.ui.enabled", false))
}
