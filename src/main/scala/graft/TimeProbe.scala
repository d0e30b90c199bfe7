package graft
import org.apache.spark.sql.SparkSession
object TimeProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = DeploymentProfile.configure(SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try Bench.materialize(SparkEntry.entry(spark)) catch { case _: Throwable => () }
    args.foreach { name =>
      (1 to 2).foreach { i =>
        val t0 = System.nanoTime()
        Bench.materialize(SparkEntry.queries(name)(spark, sfDir))
        println(s"[probe] $name run$i ${(System.nanoTime()-t0)/1e9}")
        Caches.drain()
      }
    }
    spark.stop()
  }
}
