package graft

import graft.fs.{NioLocalFileSystem, NioLocalFs}
import org.apache.spark.sql.SparkSession

/** The MEASURED deployment profile — single source of truth for the
  * session- and JVM-level settings this engine needs to perform as
  * benchmarked (docs/DEPLOYMENT.md carries the full rationale; each value
  * cites the round that measured it):
  *
  *   - `spark.sql.codegen.cache.maxEntries = 5000` (session config): a
  *     200+-query session cycles ~3k codegen fragments through Spark's
  *     default 100-entry compile cache, recompiling shared subtrees on
  *     nearly every query — measured 25-30 % on the warm text/LM family
  *     (round 10). Entries are small compiled classes; thousands are
  *     cheap on a long-lived driver.
  *   - `-XX:ReservedCodeCacheSize=512m` (JVM flag): the suite's
  *     whole-stage codegen overflows the 240 MB default JIT code cache;
  *     once full, compilation STOPS and later queries run interpreted —
  *     the 0.5 s ↔ 5 s same-code bimodality documented in BASELINE.md
  *     (round 8 judge's root cause).
  *   - NO `-Xms` preallocation: measured neutral-to-negative for this
  *     workload (round 10) — let the heap grow.
  *   - `fs.file.impl` / `fs.AbstractFileSystem.file.impl` (Hadoop conf,
  *     set as `spark.hadoop.*`): the `graft.fs` local filesystem, which
  *     sets permissions and resolves links through java.nio instead of
  *     forking `chmod`/`readlink` per file — about 9 ms per file create
  *     and 27 ms per FileContext rename on the stock class.
  *
  * The session half applies through [[configure]]; the JVM half cannot be
  * set at runtime, so [[jvmWarnings]] audits the running JVM and returns
  * human-readable deviations for the entrypoints to print. Every main
  * builds its session through this object — `Measure.session` for Bench,
  * Verify, CrossScaleBench, Measure and the sweeps, and IndexMaintainer's
  * own builder — so a cluster deployment copying any of them inherits the
  * profile deliberately.
  */
object DeploymentProfile {

  /** measured round 10: 25-30 % on the warm text/LM query family */
  val CodegenCacheMaxEntries: Int = 5000

  /** measured round 8-10: below this the JIT cache fills mid-suite and
    * compilation stops (bimodal per-query times) */
  val ReservedCodeCacheSizeMb: Int = 512

  /** the session-level half of the profile (composable — callers add
    * their own master/shuffle-partition/extension settings) */
  def configure(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.sql.codegen.cache.maxEntries",
      CodegenCacheMaxEntries.toString)
      .config("spark.hadoop.fs.file.impl", classOf[NioLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[NioLocalFs].getName)

  /** audit the RUNNING JVM against the flag half of the profile; returns
    * one line per deviation (empty = compliant) */
  def jvmWarnings(): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val args = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getInputArguments.asScala.toSeq
    val out = Seq.newBuilder[String]
    val ccs = args.collectFirst {
      case a if a.startsWith("-XX:ReservedCodeCacheSize=") =>
        a.stripPrefix("-XX:ReservedCodeCacheSize=")
    }
    val ccsMb = ccs.flatMap(parseMb)
    if (ccsMb.forall(_ < ReservedCodeCacheSizeMb))
      out += s"ReservedCodeCacheSize is ${ccs.getOrElse("the 240m default")}" +
        s" — below the measured ${ReservedCodeCacheSizeMb}m floor; " +
        "long query suites will go bimodal once the JIT cache fills " +
        "(BASELINE.md, docs/DEPLOYMENT.md)"
    if (args.exists(_.startsWith("-Xms")))
      out += "-Xms preallocation is set — measured neutral-to-negative " +
        "for this workload (docs/DEPLOYMENT.md); drop it"
    out.result()
  }

  private def parseMb(v: String): Option[Int] = {
    val m = "(?i)^(\\d+)([kmg]?)$".r
    v match {
      case m(n, unit) => unit.toLowerCase match {
        case "g" => Some(n.toInt * 1024)
        case "m" => Some(n.toInt)
        case "k" => Some(n.toInt / 1024)
        case _ => Some((n.toLong / (1024 * 1024)).toInt)
      }
      case _ => None
    }
  }
}
