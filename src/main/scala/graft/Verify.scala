package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** a failure's whole cause chain, one class and message per cause, then
    * the root cause's top frames: an INTERNAL_ERROR's message alone names
    * only the phase that failed, not what failed in it */
  def causeChain(e: Throwable): String = {
    val chain = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .take(32).toSeq
    chain.map(c => s"${c.getClass.getName}: ${c.getMessage}")
      .mkString("\n  caused by: ") +
      chain.last.getStackTrace.take(12).map(f => s"\n    at $f").mkString
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // the measured deployment session (DeploymentProfile, GraftExtensions
    // for `FROM nats_scan(...)` and the SQL functions, UTC)
    val spark = Measure.session()
    new java.io.File(outDir).mkdirs()
    def rmrf(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rmrf)
      f.delete()
    }
    // local-iteration filter: SPARK_GRAFT_ONLY=q1,q2 restricts the dump
    // (and the dumped oracle set) to the named queries. The driver never
    // sets it, so the gate always grades the full surface.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def selected(name: String): Boolean = only.forall(_.contains(name))
    SparkEntry.queries.filter(kv => selected(kv._1)).foreach { case (name, fn) =>
      // drop any previous dump FIRST: a failed query must leave no output,
      // or the compare would silently grade a stale result as current
      rmrf(new java.io.File(s"$outDir/$name"))
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${causeChain(e)}")
        rmrf(new java.io.File(s"$outDir/$name"))
      }
      // release the query's intermediate caches/checkpoints before the next
      // one — 80+ queries back to back must not accumulate storage blocks
      Caches.drain()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => selected(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // surface manifest: EVERY SparkEntry.queries name (graded or not) plus
    // whether this dump was filtered — check.py compares it against both
    // the oracle map and the pinned expected count, so a query silently
    // dropped from either surface fails the gate instead of shrinking it
    val manifest = s"""{"filtered": ${only.isDefined}, "queries": """ +
      SparkEntry.queries.keys.filter(selected).toSeq.sorted
        .map(q).mkString("[", ",", "]") + "}"
    Files.writeString(Paths.get(s"$outDir/queries_manifest.json"), manifest)
    spark.stop()
  }
}
