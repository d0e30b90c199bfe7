package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** [[Measure.run]] attributes jobs to a run by a local property the
  * calling thread sets and its child threads inherit. Each check compares
  * the record with Spark's status tracker after the listener bus drains:
  * no sleeps, no wall-clock bounds. */
class MeasureSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = Measure.session()
  private lazy val measure = new Measure(spark)

  override def afterAll(): Unit = spark.stop()

  private val dir = "/root/testdata/sf0.001"

  test("a plain query's record counts exactly the jobs of a job group " +
    "around the same body") {
    val sc = spark.sparkContext
    sc.setJobGroup("measure-plain", "plain query")
    val (_, rec) =
      try measure.run("q_rollup")(
        Bench.materialize(SparkEntry.queries("q_rollup")(spark, dir)))
      finally sc.clearJobGroup()
    Caches.drain()
    val group = sc.statusTracker.getJobIdsForGroup("measure-plain").toSet
    assert(group.nonEmpty)
    assert(rec.jobs == group.size, rec)
    assert(rec.jobList.map(_.id).toSet == group)
    assert(rec.tasks >= rec.jobs && rec.stages >= 1, rec)
  }

  test("the jobs of an AvailableNow stream started inside the body are " +
    "counted (its micro-batches run under the stream's own job group)") {
    val sc = spark.sparkContext
    val root = java.nio.file.Files.createTempDirectory("graft_measure").toString
    (0 until 3).foreach { i =>
      spark.range(i * 10L, i * 10L + 10L).toDF("id").coalesce(1)
        .write.mode("append").parquet(s"$root/in")
    }
    val schema = spark.read.parquet(s"$root/in").schema
    val countBatch: (DataFrame, Long) => Unit = (df, _) => { df.count(); () }
    sc.setJobGroup("measure-caller", "caller")
    val (q, rec) =
      try measure.run("available-now") {
        val q = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(s"$root/in")
          .writeStream.option("checkpointLocation", s"$root/ckpt")
          .trigger(Trigger.AvailableNow())
          .foreachBatch(countBatch)
          .start()
        q.awaitTermination()
        q
      } finally sc.clearJobGroup()
    val caller = sc.statusTracker.getJobIdsForGroup("measure-caller").length
    val stream = sc.statusTracker.getJobIdsForGroup(q.runId.toString).length
    assert(q.recentProgress.count(_.numInputRows > 0) == 3)
    assert(stream >= 3, s"stream ran $stream jobs")
    assert(rec.jobs == caller + stream,
      s"record ${rec.jobs} jobs; caller group $caller, stream group $stream")
  }

  test("a throwing body rethrows and leaves the calling thread's local " +
    "property as it was") {
    val sc = spark.sparkContext
    def boom(label: String) = intercept[IllegalStateException](
      measure.run(label) {
        spark.range(10).count()
        throw new IllegalStateException(label)
      })
    assert(sc.getLocalProperty(Measure.RunProperty) == null)
    assert(boom("outermost").getMessage == "outermost")
    assert(sc.getLocalProperty(Measure.RunProperty) == null)
    // a run inside a run: the inner failure restores the outer run's name,
    // and the inner run's job is the inner run's, not the outer's
    val ((before, after), outer) = measure.run("outer") {
      val before = sc.getLocalProperty(Measure.RunProperty)
      boom("inner")
      (before, sc.getLocalProperty(Measure.RunProperty))
    }
    assert(before != null && after == before)
    assert(outer.jobs == 0, outer)
    assert(sc.getLocalProperty(Measure.RunProperty) == null)
  }
}
