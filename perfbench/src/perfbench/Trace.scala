package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec, DataSourceV2ScanExecBase, MicroBatchScanExec}
import org.apache.spark.sql.execution.streaming.runtime.IncrementalExecution
import org.apache.spark.sql.streaming.StreamingQueryProgress
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of the traced run. `parent` 0 = root. */
final case class Span(id: Long, parent: Long, name: String, layer: String,
                      startMs: Double, endMs: Double) {
  def ms: Double = endMs - startMs
}

/** One benchmark operation: a query, probe, append, gate call or
  * compaction. Micro-batches are recorded from their progress events. */
final case class Op(id: Long, kind: String, layer: String, t0: Double, t1: Double,
                    onStreamThread: Boolean) {
  def key: String = s"op:$id"
  def ms: Double = t1 - t0
}

/** A finished micro-batch, from its StreamingQueryProgress. `t0` is the
  * trigger start; `durations` are Spark's per-phase milliseconds. */
final case class Batch(queryId: String, batchId: Long, t0: Double,
                       durations: Map[String, Double], rows: Long, startOffset: Long,
                       endOffset: Long) {
  def key: String = s"batch:$queryId:$batchId"
  def ms: Double = durations.getOrElse("triggerExecution", 0.0)
  def t1: Double = t0 + ms
}

final case class ScanRec(desc: String, partitions: Int, rowsOut: Long)
final case class QeRec(incremental: Boolean, phases: Map[String, (Double, Double)],
                       scans: Seq[ScanRec]) {
  def startMs: Double = phases.values.map(_._1).minOption.getOrElse(0.0)
}

/** Operation timing (always) and, when `on`, the recorder of the traced
  * run: spans are kept in memory and written out at the end. Layer
  * numbers are measured from outside the program: Spark listeners, the
  * QueryExecution planning tracker, executed-plan scan metrics and
  * streaming progress. */
final class Tracer(val on: Boolean, spark: SparkSession) {
  import Tracer._
  private val ids = new AtomicLong(1)
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  val ops = new ConcurrentLinkedQueue[Op]()
  val batches = new ConcurrentLinkedQueue[Batch]()

  /** Runs `body` as one operation; returns its result and record. */
  def op[T](kind: String, layer: String)(body: => T): (T, Op) = {
    val id = ids.getAndIncrement()
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(OpProperty)
    if (on) sc.setLocalProperty(OpProperty, s"op:$id")
    val t0 = nowMs
    try {
      val r = body
      val o = Op(id, kind, layer, t0, nowMs,
        Thread.currentThread.getName.startsWith("stream execution thread"))
      ops.add(o)
      (r, o)
    } finally if (on) sc.setLocalProperty(OpProperty, prev)
  }

  def batch(p: StreamingQueryProgress): Unit = {
    def offset(json: String): Long =
      Option(json).map(_.trim).filter(_.nonEmpty).map(_.toLong).getOrElse(0L)
    val src = p.sources.head
    val b = Batch(p.id.toString, p.batchId,
      java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
      p.durationMs.asScala.map { case (k, v) => k -> v.doubleValue() }.toMap,
      p.numInputRows, offset(src.startOffset), offset(src.endOffset))
    batches.add(b)
  }

  // ---- traced-run records (filled only when on) ----
  private final case class JobRec(key: String, start: Long, stageIds: Seq[Int]) {
    @volatile var end: Long = -1L
  }
  private final class StageRec(val submitted: Long, val completed: Long) {
    var cpuNs, gcMs, shuffleW, shuffleR, spill, inBytes, tasks = 0L
  }
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stages = new ConcurrentHashMap[Int, StageRec]()
  private val pendingTasks = new ConcurrentHashMap[Int, Array[Long]]()
  val qes = new ConcurrentLinkedQueue[QeRec]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val key = props.flatMap(p => Option(p.getProperty(OpProperty)))
        .orElse(for (p <- props; q <- Option(p.getProperty(QueryProperty));
                     b <- Option(p.getProperty(BatchProperty))) yield s"batch:$q:$b")
        .getOrElse("")
      jobs.put(e.jobId, JobRec(key, e.time, e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val a = pendingTasks.computeIfAbsent(e.stageId, _ => new Array[Long](7))
        a.synchronized {
          a(0) += m.executorCpuTime; a(1) += m.jvmGCTime
          a(2) += m.shuffleWriteMetrics.bytesWritten
          a(3) += m.shuffleReadMetrics.totalBytesRead
          a(4) += m.memoryBytesSpilled + m.diskBytesSpilled
          a(5) += m.inputMetrics.bytesRead; a(6) += 1
        }
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      for (s <- i.submissionTime; c <- i.completionTime)
        stages.put(i.stageId, new StageRec(s, c))
    }
  }
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases.collect {
        case (k, v) if PhaseNames(k) => k -> (v.startTimeMs.toDouble, v.endTimeMs.toDouble)
      }
      qes.add(QeRec(qe.isInstanceOf[IncrementalExecution], phases, PlanScans(qe.executedPlan)))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }
  if (on) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Waits for every posted listener event and folds task metrics into
    * their stages; called before any traced number is read. */
  private def settle(): Unit = if (on) {
    org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
    pendingTasks.asScala.foreach { case (sid, a) =>
      Option(stages.get(sid)).foreach { s =>
        s.cpuNs = a(0); s.gcMs = a(1); s.shuffleW = a(2); s.shuffleR = a(3)
        s.spill = a(4); s.inBytes = a(5); s.tasks = a(6)
      }
    }
  }

  def finish(): Unit = if (on) {
    settle()
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  /** The operation (key) a query execution belongs to: micro-batch plans
    * to the batch whose trigger interval holds them, others to the
    * shortest operation holding their first planning phase. */
  private def qeOwner(q: QeRec): Option[String] = {
    val t = q.startMs
    if (q.incremental)
      batches.asScala.find(b => b.t0 - 1 <= t && t <= b.t1 + 1).map(_.key)
    else ops.asScala.filter(o => o.t0 <= t && t <= o.t1).minByOption(_.ms).map(_.key)
  }

  /** Per-operation Spark numbers for the operations with the given keys:
    * planning phases, scheduler counts, job time, driver gap, executor
    * time and data movement, as means per operation. */
  def sparkLayer(keys: Seq[(String, Double, Double)]): Map[String, Double] = {
    if (keys.isEmpty) return Map.empty
    settle()
    val byKey = jobs.asScala.values.groupBy(_.key)
    val qeByKey = qes.asScala.toSeq.flatMap(q => qeOwner(q).map(_ -> q)).groupBy(_._1)
    val per = keys.map { case (key, t0, t1) =>
      val js = byKey.getOrElse(key, Nil).toSeq.filter(_.end >= 0)
      val ss = js.flatMap(_.stageIds).distinct.flatMap(s => Option(stages.get(s)))
      val phase = qeByKey.getOrElse(key, Nil).map(_._2)
      def ph(n: String) = phase.flatMap(_.phases.get(n)).map(p => p._2 - p._1).sum
      val union = unionMs(js.map(j => (j.start.toDouble, j.end.toDouble)), t0, t1)
      Map(
        "spark.analysis_ms" -> ph("analysis"),
        "spark.optimization_ms" -> ph("optimization"),
        "spark.planning_ms" -> ph("planning"),
        "spark.jobs" -> js.size.toDouble,
        "spark.stages" -> ss.size.toDouble,
        "spark.tasks" -> ss.map(_.tasks).sum.toDouble,
        "spark.job_ms" -> js.map(j => (j.end - j.start).toDouble).sum,
        "spark.driver_gap_ms" -> math.max(0.0, (t1 - t0) - union),
        "spark.task_cpu_ms" -> ss.map(_.cpuNs).sum / 1e6,
        "spark.gc_ms" -> ss.map(_.gcMs).sum.toDouble,
        "spark.shuffle_write_bytes" -> ss.map(_.shuffleW).sum.toDouble,
        "spark.shuffle_read_bytes" -> ss.map(_.shuffleR).sum.toDouble,
        "spark.spill_bytes" -> ss.map(_.spill).sum.toDouble,
        "sources.input_bytes" -> ss.map(_.inBytes).sum.toDouble)
    }
    per.head.keys.map(k => k -> Stats.mean(per.map(_(k)))).toMap
  }

  /** Scan records of the query executions owned by the given keys. */
  def scansOf(keys: Set[String]): Seq[ScanRec] = {
    settle()
    qes.asScala.toSeq.filter(q => qeOwner(q).exists(keys)).flatMap(_.scans)
  }

  /** Builds the span tree, writes it as JSON lines, and returns each
    * layer's share of the root spans' time, counted as self time (a span's
    * duration minus the part its children cover). */
  def writeSpans(file: java.io.File): Map[String, Double] = {
    val spans = scala.collection.mutable.ArrayBuffer[Span]()
    def add(parent: Long, name: String, layer: String, s: Double, e: Double): Long = {
      val id = ids.getAndIncrement()
      spans += Span(id, parent, name, layer, s, e)
      id
    }
    val parentOfKey = scala.collection.mutable.Map[String, Long]()
    // micro-batches: Spark's phases laid out in execution order
    batches.asScala.toSeq.sortBy(_.t0).foreach { b =>
      val root = add(0, s"micro-batch ${b.batchId}", "streaming", b.t0, b.t1)
      var t = b.t0
      BatchPhases.foreach { case (phase, layer) =>
        val d = b.durations.getOrElse(phase, 0.0)
        if (d > 0) {
          val id = add(root, phase, layer, t, t + d)
          if (phase == "addBatch") parentOfKey(b.key) = id
          t += d
        }
      }
      parentOfKey.getOrElseUpdate(b.key, root)
    }
    val opSpans = ops.asScala.toSeq.sortBy(_.t0)
    opSpans.foreach { o =>
      val host = batches.asScala.find(b => o.onStreamThread && b.t0 <= o.t0 && o.t1 <= b.t1)
      val parent = host.map(b => parentOfKey(b.key)).getOrElse(0L)
      parentOfKey(o.key) = add(parent, o.kind, o.layer, o.t0, o.t1)
    }
    qes.asScala.foreach { q =>
      qeOwner(q).flatMap(parentOfKey.get).foreach { p =>
        q.phases.foreach { case (n, (s, e)) => add(p, n, "spark", s, e) }
      }
    }
    jobs.asScala.toSeq.sortBy(_._1).foreach { case (jid, j) =>
      if (j.end >= 0) parentOfKey.get(j.key).foreach { p =>
        val js = add(p, s"job $jid", "spark", j.start, j.end)
        j.stageIds.flatMap(s => Option(stages.get(s)).map(s -> _)).foreach { case (sid, s) =>
          add(js, s"stage $sid", "spark", s.submitted, s.completed)
        }
      }
    }
    val children = spans.groupBy(_.parent)
    val self = spans.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(c => (c.startMs, c.endMs)).toSeq
      s -> math.max(0.0, s.ms - unionMs(kids, s.startMs, s.endMs))
    }
    file.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(file, "UTF-8")
    try self.foreach { case (s, sm) =>
      w.println(f"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","layer":"${s.layer}",""" +
        f""""start_ms":${s.startMs}%.3f,"end_ms":${s.endMs}%.3f,"self_ms":$sm%.3f}""")
    } finally w.close()
    val rootMs = spans.filter(_.parent == 0).map(_.ms).sum
    Layers.map(l => s"$l.self_share" ->
      (if (rootMs <= 0) 0.0 else self.collect { case (s, sm) if s.layer == l => sm }.sum / rootMs)).toMap
  }
}

/** The nats_scan scans of an executed plan, with their planned partitions
  * and output rows. */
object PlanScans extends AdaptiveSparkPlanHelper {
  def apply(plan: SparkPlan): Seq[ScanRec] = collect(plan) {
    case s: BatchScanExec => rec(s, s.inputPartitions.size)
    case s: MicroBatchScanExec => rec(s, s.inputPartitions.size)
  }
  private def rec(s: DataSourceV2ScanExecBase, partitions: Int) =
    ScanRec(s.scan.description(), partitions,
      s.metrics.get("numOutputRows").map(_.value).getOrElse(0L))
}

object Tracer {
  val OpProperty = "perfbench.op"
  val BatchProperty = "streaming.sql.batchId"
  val QueryProperty = "sql.streaming.queryId"
  val PhaseNames = Set("analysis", "optimization", "planning")
  val Layers = Seq("driver", "spark", "sources", "streaming", "operators")
  /** MicroBatchExecution's reported phases in the order it runs them, with
    * the layer each belongs to: offset discovery and batch construction are
    * the source's, the offset log and commit log are Spark's checkpoint,
    * addBatch is the sink write. */
  val BatchPhases = Seq("latestOffset" -> "streaming", "walCommit" -> "spark",
    "getBatch" -> "streaming", "queryPlanning" -> "spark",
    "addBatch" -> "sources", "commitOffsets" -> "spark")

  /** length of the union of `iv` clipped to [lo, hi] */
  def unionMs(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val c = iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0.0
    var cs = Double.NaN
    var ce = Double.NaN
    c.foreach { case (s, e) =>
      if (cs.isNaN || s > ce) { if (!cs.isNaN) total += ce - cs; cs = s; ce = e }
      else ce = math.max(ce, e)
    }
    if (!cs.isNaN) total += ce - cs
    total
  }
}
