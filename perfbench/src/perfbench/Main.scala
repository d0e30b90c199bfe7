package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** Benchmark entry point; see perfbench/run.py for the command line. */
object Main {
  /** ingests per run; setup_s is their median */
  val SetupReps = 3

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        work: File, traces: File)

  final case class Pass(setupS: Seq[Double], out: Outcome, selfShares: Map[String, Double]) {
    /** the end-to-end metrics: name -> (value, unit) */
    def endToEnd: Seq[(String, Double, String)] = Seq(
      ("setup_s", Stats.median(setupS), "s"),
      ("latency_p50_ms", Stats.median(out.latMs), "ms"),
      ("latency_tail_ms", Stats.tail(out.latMs)._1, "ms"),
      ("msgs_per_s", out.msgsPerS, "msg/s"),
      ("bytes_per_input_byte", out.bytesPerInputByte, "B/B"))
  }

  /** Per-layer metric names and units, emitted by every traced run (0
    * where a workload does not use the layer). */
  val PerLayer: Seq[(String, String)] = Seq(
    "spark.analysis_ms" -> "ms", "spark.optimization_ms" -> "ms", "spark.planning_ms" -> "ms",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.job_ms" -> "ms", "spark.driver_gap_ms" -> "ms", "spark.task_cpu_ms" -> "ms",
    "spark.gc_ms" -> "ms", "spark.shuffle_write_bytes" -> "B", "spark.shuffle_read_bytes" -> "B",
    "spark.spill_bytes" -> "B",
    "sources.rowgroups_total" -> "count", "sources.rowgroups_planned" -> "count",
    "sources.prune_ratio" -> "ratio", "sources.rows_scanned" -> "count",
    "sources.rows_useful_ratio" -> "ratio", "sources.input_bytes" -> "B",
    "sources.append_ms" -> "ms", "sources.store_files" -> "count", "sources.store_bytes" -> "B",
    "proto.decode_ns_per_msg" -> "ns",
    "streaming.latest_offset_ms" -> "ms", "streaming.query_planning_ms" -> "ms",
    "streaming.add_batch_ms" -> "ms", "streaming.wal_commit_ms" -> "ms",
    "streaming.commit_offsets_ms" -> "ms", "streaming.batches" -> "count",
    "streaming.rows_per_batch" -> "count", "streaming.backlog_msgs" -> "count",
    "streaming.generator_late_ms" -> "ms",
    "operators.gate_batch_ms" -> "ms", "operators.gate_jobs_per_batch" -> "count",
    "operators.compact_ms" -> "ms", "operators.compactions" -> "count",
    "operators.index_max_files_per_bucket" -> "count", "operators.index_bytes" -> "B",
    "jvm.peak_heap_mb" -> "MB") ++
    Tracer.Layers.map(l => s"$l.self_share" -> "ratio") ++
    Seq("setup_s" -> "s", "latency_p50_ms" -> "ms", "latency_tail_ms" -> "ms",
      "msgs_per_s" -> "msg/s", "bytes_per_input_byte" -> "B/B").map { case (n, u) => s"trace.overhead_$n" -> u }

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      new File(need("work")), new File(need("traces")))
  }

  def session(work: File): SparkSession = {
    val cpus = math.min(4, Runtime.getRuntime.availableProcessors())
    val spark = graft.DeploymentProfile.configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def rm(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(rm)
    f.delete()
  }

  /** One pass: `reps` fresh ingests (the last is measured), then the
    * workload for `seconds`. */
  def pass(w: Workload, spark: SparkSession, root: File, reps: Int, traced: Boolean,
           seconds: Int, traceFile: File): Pass = {
    w.resetAppends()
    val setup = (1 to reps).map { r =>
      val dir = new File(root, s"store$r")
      val tracer = new Tracer(false, spark)
      val t0 = System.nanoTime()
      w.setup(dir, tracer)
      val s = (System.nanoTime() - t0) / 1e9
      if (r < reps) rm(dir)
      // sources.append_ms is over warm appends: the cold first setup's are dropped
      if (r == 1 && reps > 1) w.resetAppends()
      s
    }
    val dir = new File(root, s"store$reps")
    val tracer = new Tracer(traced, spark)
    val out = w.measure(dir, tracer, seconds.toDouble)
    tracer.finish()
    val shares = if (traced) tracer.writeSpans(traceFile) else Map.empty[String, Double]
    Pass(setup, out, shares)
  }

  private def json(v: Any): String = v match {
    case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case m: Map[_, _] => m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case s: Seq[_] => s.map(json).mkString("[", ",", "]")
    case other => other.toString
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val telemetry = new Displacement
    val t0 = System.nanoTime()
    def since() = (System.nanoTime() - t0) / 1e9
    a.work.mkdirs()
    val spark = session(a.work)
    val code = try {
      val tSession = since()
      val w = Workload(a.workload, spark, a.seed)
      val tGenerated = since()
      val first = pass(w, spark, new File(a.work, "pass1"), SetupReps, traced = false,
        a.seconds, null)
      val heapBaselineMb = PeakHeap.baselineMb
      // traced: a traced pass, then an untraced one at the same point of
      // the JVM's warm-up (one setup each); the overhead is their difference
      val passes = if (!a.trace) Seq(first) else {
        rm(new File(a.work, "pass1"))
        val tf = new File(a.traces, s"${a.workload}-seed${a.seed}.jsonl")
        val traced = pass(w, spark, new File(a.work, "pass2"), 1, traced = true, a.seconds, tf)
        rm(new File(a.work, "pass2"))
        Seq(first, traced, pass(w, spark, new File(a.work, "pass3"), 1, traced = false, a.seconds, null))
      }
      val attempted = passes.map(_.out.attempted).sum
      val failed = passes.map(_.out.failed).sum
      val metrics: Seq[(String, Double, String)] =
        if (!a.trace) first.endToEnd
        else {
          val t = passes(1)
          val layer = t.out.layer ++ t.selfShares ++ Map("jvm.peak_heap_mb" -> t.out.peakHeapMb) ++ t.endToEnd.zip(passes(2).endToEnd).map {
            case ((n, traced, _), (_, untraced, _)) => s"trace.overhead_$n" -> (traced - untraced)
          }
          PerLayer.map { case (n, u) => (n, layer.getOrElse(n, 0.0), u) }
        }
      val (_, tailPct, tailN) = Stats.tail(first.out.latMs)
      println("perfbench report: " + json(Map(
        "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds, "trace" -> a.trace,
        "latency_tail_percentile" -> tailPct, "latency_samples" -> tailN,
        "setup_runs_s" -> first.setupS,
        "peak_heap_mb" -> first.out.peakHeapMb, "heap_baseline_mb" -> heapBaselineMb, "append_samples" -> first.out.appendMs.size,
        "run_phases_s" -> Map("session" -> tSession, "generated" -> tGenerated, "done" -> since()),
        "workload_report" -> first.out.report) ++ telemetry.report()))
      val bad = metrics.filter(m => m._2.isNaN || m._2.isInfinite)
      require(bad.isEmpty, s"unmeasured metrics: ${bad.map(_._1).mkString(", ")}")
      println(json(Map(
        "correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
        "metrics" -> metrics.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }.toMap)))
      0
    } catch {
      case e: Throwable =>
        System.err.println("perfbench: run failed")
        e.printStackTrace()
        1
    } finally spark.stop()
    System.exit(code)
  }
}
