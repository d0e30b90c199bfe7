package graft.sources

import org.apache.spark.sql.connector.metric.{CustomMetric, CustomSumMetric, CustomTaskMetric}

/** DSv2 custom scan metrics for the transport path — the observability a
  * 1000-executor deployment actually operates on: every `nats_scan` over a
  * live server reports its wire work into the Spark UI / listener bus,
  * aggregated across tasks by the engine (sum semantics).
  *
  *   - `fetch_rpcs`     — batched wire round-trips (DIRECT.GET batches,
  *                        consumer MSG.NEXT pulls, KV index pages, group
  *                        claims). THE number to watch: it should track
  *                        ceil(msgs/2048), and a regression here (e.g. a
  *                        filter that stopped being pushed) multiplies
  *                        server load long before wall time shows it.
  *   - `msgs_emitted`   — rows delivered to Spark after residual filters.
  *   - `msgs_filtered`  — rows fetched but dropped by residual ts/subject
  *                        re-checks; a high ratio vs emitted means the
  *                        server-side predicate (seq window, filter
  *                        subject) is not carrying its weight.
  *
  * Wired through the standard DSv2 seam: [[NatsTransportScan
  * .supportedCustomMetrics]] declares them, each reader reports via
  * `currentMetricsValues()`, Spark's accumulator plumbing does the rest —
  * no listener, no side channel.
  *
  * The native-store scan ([[NatsScanScan]]) plans on the driver and
  * reports its planning through `reportDriverMetrics`:
  *
  *   - `row_groups_total`   — row groups in the committed files it planned
  *                            over.
  *   - `row_groups_planned` — row groups left after seq/ts/subject-prefix
  *                            statistics pruning (one partition each).
  *   - `footer_reads`       — part-file footers opened while planning; zero
  *                            when every footer was already cached
  *                            ([[PartFooters]]). */
object ScanMetrics {
  final val FetchRpcs = "fetch_rpcs"
  final val MsgsEmitted = "msgs_emitted"
  final val MsgsFiltered = "msgs_filtered"
  final val RowGroupsTotal = "row_groups_total"
  final val RowGroupsPlanned = "row_groups_planned"
  final val FooterReads = "footer_reads"

  final class FetchRpcsMetric extends CustomSumMetric {
    override def name(): String = FetchRpcs
    override def description(): String = "wire fetch round-trips"
  }
  final class MsgsEmittedMetric extends CustomSumMetric {
    override def name(): String = MsgsEmitted
    override def description(): String = "messages emitted to Spark"
  }
  final class MsgsFilteredMetric extends CustomSumMetric {
    override def name(): String = MsgsFiltered
    override def description(): String = "messages dropped by residual filters"
  }

  final class RowGroupsTotalMetric extends CustomSumMetric {
    override def name(): String = RowGroupsTotal
    override def description(): String = "row groups in the planned files"
  }
  final class RowGroupsPlannedMetric extends CustomSumMetric {
    override def name(): String = RowGroupsPlanned
    override def description(): String = "row groups left after statistics pruning"
  }
  final class FooterReadsMetric extends CustomSumMetric {
    override def name(): String = FooterReads
    override def description(): String = "part-file footers read while planning"
  }

  def plannerMetrics: Array[CustomMetric] = Array(
    new RowGroupsTotalMetric, new RowGroupsPlannedMetric, new FooterReadsMetric)

  /** one native-store plan's counters, in the shape `reportDriverMetrics`
    * wants */
  def plannerValues(total: Long, planned: Long,
                    footerReads: Long): Array[CustomTaskMetric] = Array(
    new CustomTaskMetric { def name = RowGroupsTotal; def value = total },
    new CustomTaskMetric { def name = RowGroupsPlanned; def value = planned },
    new CustomTaskMetric { def name = FooterReads; def value = footerReads })

  /** one task's current counters, in the shape `currentMetricsValues`
    * wants */
  def taskValues(rpcs: Long, emitted: Long,
                 filtered: Long): Array[CustomTaskMetric] = Array(
    new CustomTaskMetric { def name = FetchRpcs; def value = rpcs },
    new CustomTaskMetric { def name = MsgsEmitted; def value = emitted },
    new CustomTaskMetric { def name = MsgsFiltered; def value = filtered })
}
