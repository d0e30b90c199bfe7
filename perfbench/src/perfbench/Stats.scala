package perfbench

import scala.jdk.CollectionConverters._

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** linear-interpolated quantile, q in [0, 1] */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The highest percentile with at least ten samples beyond it: the 11th
    * largest sample. Returns (value, percentile, sample count). */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    require(xs.length >= 11, s"a tail needs at least 11 samples, got ${xs.length}")
    val s = xs.sorted
    val i = s.length - 11
    (s(i), 100.0 * i / (s.length - 1), s.length)
  }

  def mean(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** Displacement telemetry: hypervisor steal ticks and load average over a
  * run. Reported beside the metrics so a noisy run can be identified; it
  * changes no metric. */
final class Displacement {
  private def steal(): Long = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().find(_.startsWith("cpu ")).map(_.trim.split("\\s+"))
      .filter(_.length > 8).map(_(8).toLong).getOrElse(-1L)
    finally src.close()
  }
  private def load(): Double = {
    val src = scala.io.Source.fromFile("/proc/loadavg")
    try src.mkString.trim.split("\\s+")(0).toDouble finally src.close()
  }
  private val steal0 = steal()
  private val load0 = load()
  def report(): Map[String, Any] = Map(
    "steal_ticks" -> (if (steal0 < 0) -1L else steal() - steal0),
    "loadavg_start" -> load0, "loadavg_end" -> load())
}

/** Peak heap of a measured phase: the largest heap in use right after a
  * garbage collection, over every collection from `reset` on. That is the
  * working set of the phase's queries, micro-batches and gate calls at the
  * moments the collector measured it, plus old garbage not yet collected.
  * `reset` collects first, so the phase starts from its baseline: Spark's
  * own state and the generator's inputs (`baselineMb`). */
object PeakHeap {
  import java.lang.management.{ManagementFactory, MemoryType}
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import com.sun.management.GarbageCollectionNotificationInfo
  import javax.management.openmbean.CompositeData

  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  @volatile private var sinceMs = Long.MaxValue
  @volatile private var peak = 0L
  @volatile var baselineMb = 0.0

  locally {
    val listener = new NotificationListener {
      override def handleNotification(n: Notification, handback: Any): Unit =
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val gc = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData]).getGcInfo
          if (gc.getStartTime >= sinceMs) {
            val used = gc.getMemoryUsageAfterGc.asScala.collect {
              case (pool, u) if heapPools(pool) => u.getUsed
            }.sum
            PeakHeap.synchronized { peak = math.max(peak, used) }
          }
        }
    }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _ =>
    }
  }

  def reset(): Unit = {
    System.gc()
    val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    PeakHeap.synchronized {
      sinceMs = ManagementFactory.getRuntimeMXBean.getUptime
      peak = used
    }
    baselineMb = used / (1024.0 * 1024.0)
  }

  def mb(): Double = {
    val p: Long = PeakHeap.synchronized(peak)
    p / (1024.0 * 1024.0)
  }
}
