package graft

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.graftshim.ListenerBus

/** The one measurement harness: every main that times or counts builds its
  * session through [[Measure.session]] and measures through [[run]].
  *
  * A run is named by a local property set on the calling thread for the
  * duration of the body. Threads created inside the body inherit it, and
  * so do Spark's own broadcast and subquery threads, so every job the body
  * causes carries it, including a streaming query's micro-batches (the
  * job group cannot do this: `StreamExecution` sets its own group on its
  * thread). One SparkListener folds those jobs' stages and tasks into the
  * run's [[Measure.Record]]; the record is read after the listener bus has
  * delivered every event, never after a sleep.
  *
  * Run: `sbt "runMain graft.Measure [--plans <dir>] <query>..."` (env
  * SPARK_GRAFT_SF_DIR for the corpus, default sf0.1). After one warm-up
  * query, each named query is built and materialized twice in one session;
  * each run prints one JSON line (its record) and one line per Spark job
  * (id, ms, description or else call site). `--plans <dir>` also writes the
  * first run's formatted physical plan to `<dir>/<query>.txt`. Building a
  * lifecycle query runs its fixture, as the bench does, and those jobs are
  * counted; the dumped plan is the returned query's. */
final class Measure(spark: SparkSession) {
  import Measure._

  private val listener = new RunListener
  spark.sparkContext.addSparkListener(listener)

  /** Runs `body` as one measured run; returns its result and record. A
    * throwing body rethrows, and the calling thread's local property is
    * restored either way. */
  def run[T](label: String)(body: => T): (T, Record) = {
    val sc = spark.sparkContext
    val id = s"$label#${runIds.incrementAndGet()}"
    val prev = sc.getLocalProperty(RunProperty)
    listener.open(id)
    sc.setLocalProperty(RunProperty, id)
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    var rec: Record = null
    val out =
      try body
      finally {
        val wallMs = (System.nanoTime() - n0) / 1e6
        sc.setLocalProperty(RunProperty, prev)
        ListenerBus.drain(sc)
        rec = listener.close(id).record(wallMs, t0, t0 + wallMs.toLong)
      }
    (out, rec)
  }
}

object Measure {

  /** the local property naming the run a job belongs to */
  val RunProperty = "graft.measure.run"

  private val runIds = new AtomicLong()

  /** One finished Spark job of a run. */
  final case class Job(id: Int, ms: Long, description: String)

  /** What one run cost, layer by layer: its wall time; the scheduler's
    * jobs, stages and tasks, Σ job time and the driver gap (wall time no
    * job covered); the data its tasks moved; and the analysis,
    * optimization and planning time of the run's final SQL action (the
    * last of its SQL executions that ran a job to end). */
  final case class Record(wallMs: Double, jobs: Int, stages: Int,
                          tasks: Long, jobMs: Long, driverGapMs: Double,
                          shuffleReadBytes: Long, shuffleWriteBytes: Long,
                          spillBytes: Long, inputBytes: Long,
                          analysisMs: Long, optimizationMs: Long,
                          planningMs: Long, jobList: Seq[Job]) {
    def json: String = {
      def d(v: Double) =
        String.format(java.util.Locale.ROOT, "%.1f", Double.box(v))
      s"""{"wall_ms":${d(wallMs)},"jobs":$jobs,"stages":$stages,""" +
        s""""tasks":$tasks,"job_ms":$jobMs,"driver_gap_ms":${d(driverGapMs)},""" +
        s""""shuffle_read_bytes":$shuffleReadBytes,""" +
        s""""shuffle_write_bytes":$shuffleWriteBytes,""" +
        s""""spill_bytes":$spillBytes,"input_bytes":$inputBytes,""" +
        s""""analysis_ms":$analysisMs,"optimization_ms":$optimizationMs,""" +
        s""""planning_ms":$planningMs}"""
    }
  }

  /** The measured deployment session: the deployment profile,
    * `local[$SPARK_GRAFT_CPUS]` (default 4) with as many shuffle
    * partitions, UTC, no UI, and the graft SQL extensions. */
  def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = DeploymentProfile.configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private final class JobRec(val start: Long, val description: String) {
    var end: Long = -1L
  }

  /** one run's events, folded as the listener receives them */
  private final class Acc {
    val jobs = mutable.TreeMap[Int, JobRec]()
    val stages = mutable.HashSet[Int]()
    var tasks, shuffleRead, shuffleWrite, spill, input = 0L
    var phases = Map.empty[String, Long]

    def record(wallMs: Double, t0: Long, t1: Long): Record = {
      val done = jobs.toSeq.filter(_._2.end >= 0)
      // wall time inside the run covered by at least one job
      var covered, reach = 0L
      done.map { case (_, j) => (math.max(j.start, t0), math.min(j.end, t1)) }
        .sortBy(_._1).foreach { case (s, e) =>
          val from = math.max(s, reach)
          if (e > from) covered += e - from
          reach = math.max(reach, e)
        }
      Record(wallMs, jobs.size, stages.size, tasks,
        done.map { case (_, j) => j.end - j.start }.sum,
        math.max(0.0, wallMs - covered), shuffleRead, shuffleWrite, spill,
        input, phases.getOrElse("analysis", 0L),
        phases.getOrElse("optimization", 0L), phases.getOrElse("planning", 0L),
        done.map { case (id, j) => Job(id, j.end - j.start, j.description) })
    }
  }

  /** Assigns jobs, and through them stages, tasks and SQL executions, to
    * the open run named by the job's local property. Events arrive on the
    * listener bus thread; runs open and close on callers' threads. */
  private final class RunListener extends SparkListener {
    private val runs = mutable.HashMap[String, Acc]()
    private val byJob = mutable.HashMap[Int, Acc]()
    private val byStage = mutable.HashMap[Int, Acc]()
    private val byExecution = mutable.HashMap[Long, Acc]()

    def open(id: String): Unit = synchronized { runs(id) = new Acc }

    def close(id: String): Acc = synchronized {
      val a = runs.remove(id).get
      byJob.filterInPlace((_, v) => v ne a)
      byStage.filterInPlace((_, v) => v ne a)
      byExecution.filterInPlace((_, v) => v ne a)
      a
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      for (p <- Option(e.properties); id <- Option(p.getProperty(RunProperty));
           a <- runs.get(id)) {
        // the job's description, else its call site (its result stage's name)
        val desc = Option(p.getProperty("spark.job.description"))
          .orElse(e.stageInfos.maxByOption(_.stageId).map(_.name)).getOrElse("")
        a.jobs(e.jobId) = new JobRec(e.time, desc)
        byJob(e.jobId) = a
        e.stageIds.foreach(byStage(_) = a)
        Option(p.getProperty("spark.sql.execution.id"))
          .foreach(x => byExecution(x.toLong) = a)
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      byJob.get(e.jobId).foreach(_.jobs(e.jobId).end = e.time)
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        byStage.get(e.stageInfo.stageId).foreach(_.stages += e.stageInfo.stageId)
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      for (a <- byStage.get(e.stageId); m <- Option(e.taskMetrics)) {
        a.tasks += 1
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.input += m.inputMetrics.bytesRead
      }
    }

    /** the last SQL execution of a run to end is its final action */
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: SparkListenerSQLExecutionEnd => synchronized {
        for (a <- byExecution.get(end.executionId);
             qe <- ListenerBus.queryExecution(end))
          a.phases = qe.tracker.phases.map { case (k, v) => k -> v.durationMs }
      }
      case _ => ()
    }
  }

  def main(args: Array[String]): Unit = {
    val (plans, names) = args.toList match {
      case "--plans" :: dir :: rest => (Some(java.nio.file.Paths.get(dir)), rest)
      case rest => (None, rest)
    }
    require(names.nonEmpty, "usage: Measure [--plans <dir>] <query>...")
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    plans.foreach(java.nio.file.Files.createDirectories(_))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = session()
    val measure = new Measure(spark)
    try Bench.materialize(SparkEntry.entry(spark)) catch { case _: Throwable => () }
    spark.catalog.clearCache()
    for (name <- names; run <- 1 to 2) {
      val (df, rec) = measure.run(name) {
        val df = SparkEntry.queries(name)(spark, sfDir)
        Bench.materialize(df)
        df
      }
      if (run == 1) plans.foreach { dir =>
        java.nio.file.Files.writeString(dir.resolve(s"$name.txt"),
          df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode))
      }
      Caches.drain()
      println(s"""{"query":"$name","run":$run,"record":${rec.json}}""")
      rec.jobList.foreach { j =>
        println(f"  job ${j.id}%5d ${j.ms}%8d ms  ${j.description.take(90)}")
      }
    }
    spark.stop()
  }
}
