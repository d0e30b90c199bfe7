package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.queries.RetrievalQueries

/** Job-count hygiene of the BPE queries: each one — training included,
  * since the trainer runs its rounds while the query is built — runs at
  * most the Spark jobs it ran before the two training loops were merged
  * into [[graft.operators.Bpe]]. Jobs are counted by [[Measure.run]]
  * after the listener bus drains: no sleeps, no wall-clock bounds. The bounds are the pre-merge counts at sf0.001 on
  * this session shape. */
class BpeJobsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val dir = "/root/testdata/sf0.001"

  private lazy val measure = new Measure(spark)

  /** Spark jobs one build + collect of query `name` runs. */
  private def jobsOf(name: String): Int = {
    val (_, rec) = measure.run(name)(
      RetrievalQueries.queries(name)(spark, dir).collect())
    Caches.drain()
    rec.jobs
  }

  Seq("pipe_bpe_train" -> 18, "pipe_bpe_apply" -> 23,
    "pipe_bpe_train_deep" -> 39).foreach { case (name, bound) =>
    test(s"$name runs at most $bound Spark jobs") {
      val jobs = jobsOf(name)
      info(s"$name: $jobs jobs")
      assert(jobs <= bound, s"$name ran $jobs Spark jobs")
    }
  }
}
