package graft.sources

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types._

/** Complete aggregate pushdown for the `nats_scan` source: an UNFILTERED
  * `COUNT(*)` / `MIN(seq)` / `MAX(seq)` / `MIN(ts_nats)` / `MAX(ts_nats)`
  * is answered without reading a single data page —
  *
  *   - parquet-backed layouts: one footer read per part file (row counts +
  *     column min/max statistics), O(files) at any corpus size;
  *   - transport mode: ONE `streamInfo` RPC (messages / FirstSeq /
  *     LastSeq) — the JetStream server already maintains exactly these
  *     totals, so a 10¹¹-message stream answers in constant time.
  *
  * Only attempted on a bare scan (no pushed predicates, no bind-time
  * bounds): with any restriction the residual Filter prunes rows after the
  * scan, and footer totals would overcount. Values are computed at PLAN
  * time on the driver (footers / one RPC are driver-scale work) and
  * shipped in the single result partition.
  */
object NatsStatsScan {

  sealed trait StatAgg { def field: StructField }
  case object CountStarAgg extends StatAgg {
    def field: StructField = StructField("count(*)", LongType, nullable = false)
  }
  final case class MinSeq(max: Boolean) extends StatAgg {
    def field: StructField =
      StructField(if (max) "max(seq)" else "min(seq)", LongType)
  }
  final case class MinTs(max: Boolean) extends StatAgg {
    def field: StructField =
      StructField(if (max) "max(ts_nats)" else "min(ts_nats)", TimestampType)
  }

  /** footer totals across `files` ([[PartFooters]]): (rows, min/max seq,
    * min/max ts µs). Returns None when any non-empty row group lacks the
    * needed statistics — the caller then declines the pushdown and the
    * normal scan runs. */
  def fromFooters(files: Seq[java.io.File], native: Boolean,
                  aggs: Seq[StatAgg]): Option[Seq[Any]] = {
    val rgs = files.flatMap(f => PartFooters.rowGroups(f.getPath, native))
    def bounds(col: RowGroupStats => Option[(Long, Long)]): Option[(Long, Long)] =
      if (rgs.exists(rg => rg.rows > 0 && col(rg).isEmpty)) None
      else Some(rgs.flatMap(col).foldLeft((Long.MaxValue, Long.MinValue)) {
        case ((lo, hi), (mn, mx)) => (math.min(lo, mn), math.max(hi, mx))
      })
    val rows = rgs.map(_.rows).sum
    val seq = if (aggs.exists(_.isInstanceOf[MinSeq])) bounds(_.seq) else Some((0L, 0L))
    val ts = if (aggs.exists(_.isInstanceOf[MinTs])) bounds(_.tsUs) else Some((0L, 0L))
    for ((seqMin, seqMax) <- seq; (tsMin, tsMax) <- ts) yield aggs.map {
      case CountStarAgg => rows
      case MinSeq(max) => if (rows == 0L) null else if (max) seqMax else seqMin
      case MinTs(max) => if (rows == 0L) null else if (max) tsMax else tsMin
    }
  }

  /** transport totals from one streamInfo RPC (count + seq bounds only;
    * time aggregates are declined at translation) */
  def fromStreamInfo(url: String, stream: String, connectTimeoutMs: Long,
                     aggs: Seq[StatAgg],
                     auth: graft.transport.TransportAuth =
                       graft.transport.TransportAuth.anonymous): Option[Seq[Any]] = {
    val info = graft.transport.TransportPool.get(url, connectTimeoutMs, auth)
      .streamInfo(stream) // pooled driver connection, not closed here
    Some(aggs.map {
      case CountStarAgg => info.messages
      case MinSeq(max) =>
        if (info.messages == 0L) null
        else if (max) info.lastSeq else info.firstSeq
      case MinTs(_) => return None // unreachable (declined earlier)
    })
  }
}

/** one-partition scan emitting the precomputed aggregate row */
final class NatsStatsScan(aggs: Seq[NatsStatsScan.StatAgg],
                          values: Seq[Any], sourceDesc: String)
    extends Scan with Batch {

  override def readSchema(): StructType =
    StructType(aggs.map(_.field))

  override def toBatch: Batch = this

  override def description(): String =
    s"nats_scan STATS-ONLY $sourceDesc PushedAggregation: " +
      aggs.map(_.field.name).mkString("[", ", ", "]")

  override def planInputPartitions(): Array[InputPartition] =
    Array(NatsStatsPartition(values))

  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(p: InputPartition): PartitionReader[InternalRow] =
        new PartitionReader[InternalRow] {
          private var emitted = false
          private val row = InternalRow.fromSeq(
            p.asInstanceOf[NatsStatsPartition].values.toIndexedSeq)
          override def next(): Boolean =
            if (emitted) false else { emitted = true; true }
          override def get(): InternalRow = row
          override def close(): Unit = ()
        }
    }
}

final case class NatsStatsPartition(values: Seq[Any]) extends InputPartition

/** GROUP BY subject aggregate pushdown (transport mode): `SELECT subject,
  * count(*), max(seq) … GROUP BY subject` answered from the server's
  * per-subject index ([[graft.transport.JetStreamTransport.subjectStats]])
  * — zero message fetches, O(distinct subjects) wire volume, sharded over
  * `kvBuckets` partitions exactly like the last_by_subject read. The
  * subject-count/last-seq pair is state JetStream already maintains
  * (StreamInfo `subjects` map; last_by_subj index), so a 10¹¹-message
  * stream answers its per-subject profile in seconds. COMPLETE pushdown:
  * buckets partition the subject space disjointly, so every group exists in
  * exactly one partition and no re-aggregation is needed. */
object NatsSubjectStatsScan {
  sealed trait GroupAgg { def field: StructField }
  case object GroupCount extends GroupAgg {
    def field: StructField = StructField("count(*)", LongType, nullable = false)
  }
  case object GroupLastSeq extends GroupAgg {
    def field: StructField = StructField("max(seq)", LongType)
  }
}

final class NatsSubjectStatsScan(url: String, stream: String, kvBuckets: Int,
                                 filter: Option[String],
                                 aggs: Seq[NatsSubjectStatsScan.GroupAgg],
                                 connectTimeoutMs: Long,
                                 auth: graft.transport.TransportAuth)
    extends Scan with Batch {

  override def readSchema(): StructType = StructType(
    StructField("subject", StringType) +: aggs.map(_.field))

  override def toBatch: Batch = this

  override def description(): String =
    s"nats_scan SUBJECT-STATS url=$url stream=$stream buckets=$kvBuckets " +
      s"filter=$filter PushedAggregation: " +
      aggs.map(_.field.name).mkString("[subject, ", ", ", "]")

  override def planInputPartitions(): Array[InputPartition] = {
    // stream-existence check (1 pooled RPC): a missing stream must surface
    // the stream-not-found error here like every other scan shape, not an
    // empty result. Transient faults retry like every other transport call
    // (stream-not-found is NOT a NatsIOException and passes through).
    graft.transport.TransportRetry.withRetry(
      graft.transport.TransportPool.get(url, connectTimeoutMs, auth)
        .streamInfo(stream))
    (0 until kvBuckets).map(b =>
      NatsSubjectStatsPartition(url, stream, b, kvBuckets,
        filter): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new NatsSubjectStatsReaderFactory(aggs, connectTimeoutMs, auth)
}

final case class NatsSubjectStatsPartition(url: String, stream: String,
                                           bucket: Int, nBuckets: Int,
                                           filter: Option[String])
    extends InputPartition

final class NatsSubjectStatsReaderFactory(
    aggs: Seq[NatsSubjectStatsScan.GroupAgg], connectTimeoutMs: Long,
    auth: graft.transport.TransportAuth) extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new NatsSubjectStatsReader(p.asInstanceOf[NatsSubjectStatsPartition],
      aggs, connectTimeoutMs, auth)
}

/** Pages its shard of the subject index — the KV reader's paging contract
  * ((cursor = last subject, short page = shard end), pooled connection). */
final class NatsSubjectStatsReader(p: NatsSubjectStatsPartition,
                                   aggs: Seq[NatsSubjectStatsScan.GroupAgg],
                                   connectTimeoutMs: Long,
                                   auth: graft.transport.TransportAuth)
    extends PartitionReader[InternalRow] {
  private val BatchSize = 2048
  private val transport =
    graft.transport.TransportPool.get(p.url, connectTimeoutMs, auth)

  private var after: Option[String] = None
  private var done = false
  private var batch: Array[graft.transport.SubjectStat] = Array.empty
  private var i = 0
  private var current: InternalRow = _

  override def next(): Boolean = {
    if (i >= batch.length) {
      if (done) return false
      // same transient-fault retry as every other reader shape (the page
      // cursor only advances after a successful call, so a retry re-asks
      // the same page)
      batch = graft.transport.TransportRetry.withRetry(
        transport.subjectStats(p.stream, p.filter, p.bucket, p.nBuckets,
          after, BatchSize))
      if (batch.length < BatchSize) done = true
      if (batch.isEmpty) return false
      after = Some(batch.last.subject)
      i = 0
    }
    val s = batch(i)
    i += 1
    current = InternalRow.fromSeq(
      org.apache.spark.unsafe.types.UTF8String.fromString(s.subject) +:
        aggs.map {
          case NatsSubjectStatsScan.GroupCount => s.count
          case NatsSubjectStatsScan.GroupLastSeq => s.lastSeq
        })
    true
  }

  override def get(): InternalRow = current
  override def close(): Unit = () // pooled transport outlives the reader
}
