package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scan-throughput probe for the V2 `nats_scan` readers: a full-stream
  * aggregate touching every envelope column (no filters, no shuffle beyond
  * the final partial-agg merge), repeated so JIT/caches settle — the number
  * that moves when the decode path changes (row-materializing vs
  * vectorized), uncontaminated by the tiny fixed costs the filtered bench
  * queries are dominated by. Runs the fixture layout and a freshly written
  * native store. */
object ScanProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "5").toInt
    val spark = DeploymentProfile.configure(SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def v2(dir: String) =
      spark.read.format("nats_scan").option("dir", dir).load()
    def full(dir: String) = v2(dir).agg(
      sum("seq"), count("subject"), sum(expr("octet_length(payload)")),
      max("ts_nats"))
    def time(label: String, mk: => org.apache.spark.sql.DataFrame): Unit =
      (1 to reps).foreach { i =>
        val t0 = System.nanoTime()
        Bench.materialize(mk)
        println(s"[scanprobe] $label run$i ${(System.nanoTime() - t0) / 1e9}")
      }

    time("fixture_full", full(sfDir))

    val tmp = graft.Scratch.dir("graft_scanprobe")
    v2(sfDir).write.format("nats_scan").option("dir", tmp)
      .mode("overwrite").save()
    time("native_full", full(tmp))

    spark.stop()
  }
}
