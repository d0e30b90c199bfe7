package graft.sources

import java.util.concurrent.atomic.LongAdder

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.FilterApi
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Physical scan: one InputPartition per parquet row group, each reader a
  * bounded pull over its byte range (the distributed analog of the
  * reference's bounded Direct Get cursor, /root/reference/src/nats_scan.cpp:713-723).
  *
  * Plan-time pruning: row groups whose event_id / ts statistics fall outside
  * the pushed seq/ts bounds are never planned at all; record-level residue is
  * re-checked per message in the reader (gap-skip analog :725-729 is a no-op
  * on columnar storage).
  */
final class NatsScanScan(file: String, dir: String, stream: String,
                         required: StructType,
                         seqLo: Long, seqHi: Long, tsLoNs: Long, tsHiNs: Long,
                         subjectContains: List[String],
                         subjectPrefixes: List[String], maxPerBatch: Long,
                         pushedLimit: Option[Int] = None,
                         assertSeqOrder: Boolean = false,
                         asOfEpoch: Option[Long] = None)
    extends Scan with Batch with SupportsReportStatistics {

  override def readSchema(): StructType = required

  override def toBatch: Batch = this

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    asOfEpoch.foreach(_ => throw new UnsupportedOperationException(
      "nats_scan: as_of_epoch is a point-in-time snapshot read; a stream " +
        "tails the LIVE store (bound the replay with seq predicates instead)"))
    new graft.streaming.NatsMicroBatchStream(dir, stream, maxPerBatch)
  }

  override def toContinuousStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.ContinuousStream =
    throw new UnsupportedOperationException(
      "nats_scan: continuous (push-based) mode requires transport mode — " +
        "set option(\"url\", ...); the parquet-backed store serves " +
        "micro-batch streaming")

  override def description(): String =
    s"nats_scan stream=$stream seq=[$seqLo,$seqHi] tsNs=[$tsLoNs,$tsHiNs] " +
      s"subjectContains=$subjectContains subjectPrefixes=$subjectPrefixes " +
      s"cols=${required.fieldNames.mkString(",")}" +
      pushedLimit.map(l => s" PushedLimit=$l").getOrElse("")

  private def tsLoUs: Long = TsBounds.loUs(tsLoNs)
  private def tsHiUs: Long = TsBounds.hiUs(tsHiNs)

  /** this scan's planning counts ([[ScanMetrics]]), set by [[planned]] —
    * so a streaming scan, which never plans here, reports nothing */
  @volatile private var plannerMetrics: Array[CustomTaskMetric] = Array.empty

  /** planned once, shared by partition planning and [[estimateStatistics]]
    * (both run on the driver; footer statistics come from [[PartFooters]]) */
  private lazy val planned: Array[NatsScanPartition] = {
    val nativeDir = new java.io.File(s"$dir/$stream.msgs")
    val files =
      if (nativeDir.isDirectory)
        // native message store written by NatsScanBatchWrite: prune row
        // groups across part files directly on seq / ts_nats statistics.
        // Only committed files count — '_'/'.'-prefixed names are staged
        // epochs, checksum siblings, or aborted attempts and may be partial.
        StoreEpochs.committedFiles(nativeDir, asOfEpoch).toSeq
          .map(f => (f.getPath, true))
      else {
        asOfEpoch.foreach(_ => sys.error(
          "nats_scan: as_of_epoch requires a native message store (the " +
            "fixture file has no epoch ledger)"))
        Seq((file, false))
      }
    val reads = new LongAdder
    val groups = files.map { case (p, native) =>
      (p, native, PartFooters.rowGroups(p, native, reads))
    }
    val kept = groups.flatMap { case (p, native, rgs) =>
      rgs.filter(keep).map(rg =>
        NatsScanPartition(p, rg.start, rg.start + rg.bytes, native, rg.rows))
    }.toArray
    plannerMetrics = ScanMetrics.plannerValues(
      groups.map(_._3.size.toLong).sum, kept.length.toLong, reads.sum())
    kept
  }

  override def planInputPartitions(): Array[InputPartition] =
    planned.map(p => p: InputPartition)

  override def supportedCustomMetrics(): Array[CustomMetric] =
    ScanMetrics.plannerMetrics

  override def reportDriverMetrics(): Array[CustomTaskMetric] = plannerMetrics

  /** Post-pruning size/row estimate from the SAME row-group metadata the
    * partition planner kept — so Catalyst's join planning sees the pruned
    * scan's real footprint (a bounded slice of a huge stream can be the
    * BROADCAST side automatically; without stats a V2 relation defaults to
    * "infinitely large" and always shuffles). Rows are exact per kept row
    * group; residual predicates can only shrink them, which is the safe
    * direction for a broadcast decision. */
  override def estimateStatistics(): Statistics = new Statistics {
    private val bytes = planned.map(p => p.rangeEnd - p.rangeStart).sum
    private val rows = planned.map(_.rows).sum
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.of(math.max(bytes, 1L))
    override def numRows(): java.util.OptionalLong =
      java.util.OptionalLong.of(rows)
  }

  /** a row group survives unless its statistics prove it misses the pushed
    * seq / ts bounds or every subject prefix (both layouts store ts in µs;
    * only the native layout carries subject statistics) */
  private def keep(rg: RowGroupStats): Boolean = {
    // subject-PREFIX pruning off string min/max stats (native layout
    // stores subject verbatim): a row group whose [min, max] subject range
    // misses [p, p+∞-of-last-char) can't contain a match. A bare substring
    // can't do this — docs/SUBJECT_PRUNING.md. Only effective when the
    // store is subject-clustered; always correct.
    val keepByPrefix = rg.subject.forall { case (mn, mx) =>
      // matches of prefix p sort in [p, next(p)): the group can be skipped
      // iff max < p (all rows before the range) or min sorts after every
      // p-prefixed string (min ≥ p yet doesn't start with p)
      subjectPrefixes.forall(p => mx >= p && !(mn > p && !mn.startsWith(p)))
    }
    val keepBySeq = rg.seq.forall { case (mn, mx) => mx >= seqLo && mn <= seqHi }
    val keepByTs = rg.tsUs.forall { case (mn, mx) => mx >= tsLoUs && mn <= tsHiUs }
    keepBySeq && keepByTs && keepByPrefix
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new NatsScanReaderFactory(required, seqLo, seqHi, tsLoNs, tsHiNs,
      subjectContains, subjectPrefixes, stream, pushedLimit,
      assertSeqOrder = assertSeqOrder)
}

final case class NatsScanPartition(file: String, rangeStart: Long,
                                   rangeEnd: Long, native: Boolean = false,
                                   rows: Long = 0L)
    extends InputPartition

/** TIME TRAVEL over the streaming-ingested store: every committed epoch's
  * part files carry their epoch in the (deterministic) file name
  * (`epoch-NNNNNN-part-*.parquet` — NatsScanStreamingWrite), which makes
  * the directory listing itself the commit ledger. `as_of_epoch = N` reads
  * the store exactly as it stood after epoch N committed — the dataset-
  * reproducibility read a training run pins its corpus with ("train on the
  * stream as of ingest epoch N", re-runnable forever). Selection is
  * pure name arithmetic — zero extra I/O at any store size. Batch-append
  * part files (`part-*-<jobToken>`) carry no epoch: a store containing any
  * is not epoch-ledgered and time travel on it is REFUSED rather than
  * answered approximately. */
private[graft] object StoreEpochs {
  // %06d is a MINIMUM width: epochs past 999,999 print wider, so the
  // ledger pattern accepts 6-or-more digits
  private val EpochName = "^epoch-(\\d{6,})-part-.*\\.parquet$".r

  def epochOf(name: String): Option[Long] = name match {
    case EpochName(e) => Some(e.toLong)
    case _ => None
  }

  /** THE definition of "the committed snapshot": one shared listing +
    * selection used by both the row-scan planner and the stats pushdown,
    * so the two can never describe different file sets. */
  def committedFiles(nativeDir: java.io.File,
                     asOf: Option[Long]): Array[java.io.File] = {
    val committed = Option(nativeDir.listFiles(
        (f: java.io.File) => f.getName.endsWith(".parquet") &&
          !f.getName.startsWith("_") && !f.getName.startsWith(".")))
      .getOrElse(sys.error(s"nats_scan: cannot list message store $nativeDir"))
      .sortBy(_.getName)
    select(committed, asOf)
  }

  def select(committed: Array[java.io.File],
             asOf: Option[Long]): Array[java.io.File] = asOf match {
    case None => committed
    case Some(n) =>
      committed.foreach { f =>
        if (epochOf(f.getName).isEmpty)
          sys.error(s"nats_scan: as_of_epoch requires an epoch-ledgered " +
            s"store (every part file named epoch-NNNNNN-…), but " +
            s"'${f.getName}' carries no epoch (batch append or compaction " +
            "rewrote it); re-ingest through the streaming sink to rebuild " +
            "the ledger")
      }
      // a snapshot "as of" an epoch that has not COMMITTED yet is not a
      // snapshot — it would silently change as ingest catches up, breaking
      // the re-runnable-forever contract (Delta's versionAsOf refuses the
      // same way)
      val maxCommitted = committed.iterator
        .flatMap(f => epochOf(f.getName)).foldLeft(-1L)(math.max)
      if (n > maxCommitted)
        sys.error(s"nats_scan: as_of_epoch=$n exceeds the newest committed " +
          s"epoch ($maxCommitted); a not-yet-committed snapshot would " +
          "silently change as ingest advances")
      committed.filter(f => epochOf(f.getName).exists(_ <= n))
  }
}

/** The ONE ns→µs bound translation (file values are whole µs; pushed
  * bounds arrive in ns): ts_ns = µs·1000 ∈ [lo, hi] ⟺
  * µs ∈ [⌈lo/1000⌉, ⌊hi/1000⌋]. Exact for the `T*1000` / `T*1000+999` /
  * `T*1000-1` forms the filter builder produces; sentinels pass through. */
private[sources] object TsBounds {
  def loUs(tsLoNs: Long): Long =
    if (tsLoNs == Long.MinValue) Long.MinValue
    else Math.floorDiv(tsLoNs + 999L, 1000L)
  def hiUs(tsHiNs: Long): Long =
    if (tsHiNs == Long.MaxValue) Long.MaxValue
    else Math.floorDiv(tsHiNs, 1000L)
}

final class NatsScanReaderFactory(required: StructType, seqLo: Long,
                                  seqHi: Long, tsLoNs: Long, tsHiNs: Long,
                                  subjectContains: List[String],
                                  subjectPrefixes: List[String], stream: String,
                                  pushedLimit: Option[Int] = None,
                                  assertSeqOrder: Boolean = false)
    extends PartitionReaderFactory {
  def this(required: StructType, seqLo: Long, seqHi: Long, tsLoNs: Long,
           tsHiNs: Long, subjectContains: List[String], stream: String) =
    this(required, seqLo, seqHi, tsLoNs, tsHiNs, subjectContains, Nil, stream)

  /** seq ordinal in the output when the top-n monotonicity assertion is on
    * (-1 = off). A top-n on seq always projects seq, but stay defensive. */
  private val seqCheckIdx: Int =
    if (assertSeqOrder) required.fieldNames.indexOf("seq") else -1

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val part = p.asInstanceOf[NatsScanPartition]
    val inner =
      if (part.native)
        new NatsNativeReader(part, required, seqLo, seqHi, tsLoNs, tsHiNs,
          subjectContains, subjectPrefixes, stream)
      else
        new NatsScanReader(part, required, seqLo, seqHi, tsLoNs, tsHiNs,
          subjectContains, subjectPrefixes, stream)
    pushedLimit.fold(inner: PartitionReader[InternalRow])(
      new LimitedRowReader(inner, _, seqCheckIdx))
  }

  /** Batch scans decode vectorized (see [[NatsVectorized]]); subject/seq/ts
    * residue is Spark's job (the builder keeps every pushed predicate
    * residual). The row readers above remain the streaming path, which
    * constructs them directly and relies on their record-level filters. */
  override def supportColumnarReads(p: InputPartition): Boolean = true

  override def createColumnarReader(p: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    val part = p.asInstanceOf[NatsScanPartition]
    val inner =
      if (part.native)
        new NatsNativeColumnarReader(part, required, stream, seqLo, seqHi,
          tsLoNs, tsHiNs)
      else
        new NatsFixtureColumnarReader(part, required, stream, seqLo, seqHi,
          tsLoNs, tsHiNs)
    pushedLimit.fold(
      inner: PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch])(
      new LimitedColumnarReader(inner, _, seqCheckIdx))
  }
}

/** Early-stop decorators for a PARTIALLY pushed LIMIT: the source may emit
  * at most ~limit rows per partition and Spark's own Local/GlobalLimit
  * above the scan enforces the exact count — so stopping is purely an I/O
  * and decode saving, never a correctness lever. The columnar variant stops
  * at the first batch boundary at-or-after the limit (truncating mid-batch
  * would buy nothing: the batch is already decoded).
  *
  * `seqIdx >= 0` arms the TOP-N monotonicity assertion: when the limit hint
  * came from pushTopN, "first rows = lowest seqs" is a correctness
  * precondition (the early stop drops later rows for good), so each emitted
  * partition must ascend by seq — a violation (store layout contract broken
  * out-of-band) fails the task loudly instead of returning a wrong head. */
private object SeqOrderCheck {
  def fail(seq: Long, prev: Long): Nothing =
    throw new IllegalStateException(
      s"nats_scan top-n: part file violates the seq-ascending store layout " +
        s"(seq $seq after $prev); the store was modified outside the " +
        s"sorted write path — drop its ${StoreLayout.MarkerName} marker or " +
        s"recompact")
}

private final class LimitedRowReader(inner: PartitionReader[InternalRow],
                                     limit: Int, seqIdx: Int = -1)
    extends PartitionReader[InternalRow] {
  private var emitted = 0
  private var prevSeq = Long.MinValue
  override def next(): Boolean =
    emitted < limit && inner.next() && {
      if (seqIdx >= 0) {
        val r = inner.get()
        if (!r.isNullAt(seqIdx)) {
          val s = r.getLong(seqIdx)
          if (s < prevSeq) SeqOrderCheck.fail(s, prevSeq)
          prevSeq = s
        }
      }
      emitted += 1; true
    }
  override def get(): InternalRow = inner.get()
  override def close(): Unit = inner.close()
}

private final class LimitedColumnarReader(
    inner: PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch],
    limit: Int, seqIdx: Int = -1)
    extends PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
  private var emitted = 0L
  private var prevSeq = Long.MinValue
  override def next(): Boolean =
    emitted < limit && inner.next() && {
      val b = inner.get()
      if (seqIdx >= 0) {
        val col = b.column(seqIdx)
        var i = 0
        while (i < b.numRows()) {
          if (!col.isNullAt(i)) {
            val s = col.getLong(i)
            if (s < prevSeq) SeqOrderCheck.fail(s, prevSeq)
            prevSeq = s
          }
          i += 1
        }
      }
      emitted += b.numRows(); true
    }
  override def get(): org.apache.spark.sql.vectorized.ColumnarBatch =
    inner.get()
  override def close(): Unit = inner.close()
}

/** Reader for the native message store (part files written by
  * [[NatsScanBatchWrite]]): envelope columns read verbatim, record filters
  * applied directly on seq / ts_nats (µs). */
final class NatsNativeReader(p: NatsScanPartition, required: StructType,
                             seqLo: Long, seqHi: Long, tsLoNs: Long,
                             tsHiNs: Long, subjectContains: List[String],
                             subjectPrefixes: List[String], stream: String)
    extends PartitionReader[InternalRow] {

  private val needed: Set[String] = required.fieldNames.toSet

  private val tsLoUs =
    if (tsLoNs == Long.MinValue) Long.MinValue else Math.floorDiv(tsLoNs + 999L, 1000L)
  private val tsHiUs =
    if (tsHiNs == Long.MaxValue) Long.MaxValue else Math.floorDiv(tsHiNs, 1000L)

  private val parquetCols: Seq[String] = {
    val cols = Seq("subject", "seq", "ts_nats", "payload").filter(needed.contains)
    val extra =
      (if (seqLo > 1L || seqHi < Long.MaxValue) Seq("seq") else Nil) ++
      (if (tsLoUs > Long.MinValue || tsHiUs < Long.MaxValue) Seq("ts_nats") else Nil) ++
      (if (subjectContains.nonEmpty) Seq("subject") else Nil)
    (cols ++ extra).distinct
  }

  private val reader: ParquetReader[org.apache.parquet.example.data.Group] = {
    val conf = new Configuration()
    if (parquetCols.nonEmpty) {
      val fields = parquetCols.map {
        case "subject" => "optional binary subject (STRING);"
        case "seq" => "optional int64 seq;"
        case "ts_nats" => "optional int64 ts_nats (TIMESTAMP(MICROS,true));"
        case "payload" => "optional binary payload;"
      }.mkString("\n")
      conf.set("parquet.read.schema", s"message nats_envelope {\n$fields\n}")
    }
    var pred: org.apache.parquet.filter2.predicate.FilterPredicate = null
    def and(p2: org.apache.parquet.filter2.predicate.FilterPredicate): Unit =
      pred = if (pred == null) p2 else FilterApi.and(pred, p2)
    val sc = FilterApi.longColumn("seq")
    val tc = FilterApi.longColumn("ts_nats")
    if (seqLo > 1L) and(FilterApi.gtEq(sc, java.lang.Long.valueOf(seqLo)))
    if (seqHi < Long.MaxValue) and(FilterApi.ltEq(sc, java.lang.Long.valueOf(seqHi)))
    if (tsLoUs > Long.MinValue) and(FilterApi.gtEq(tc, java.lang.Long.valueOf(tsLoUs)))
    if (tsHiUs < Long.MaxValue) and(FilterApi.ltEq(tc, java.lang.Long.valueOf(tsHiUs)))
    var b = ParquetReader
      .builder(new GroupReadSupport(), new Path(p.file))
      .withConf(conf)
      .withFileRange(p.rangeStart, p.rangeEnd)
    if (pred != null) b = b.withFilter(FilterCompat.get(pred))
    b.build()
  }

  private var current: InternalRow = _

  override def next(): Boolean = {
    while (true) {
      val g = reader.read()
      if (g == null) return false
      val row = toRow(g)
      if (row != null) { current = row; return true }
    }
    false
  }

  private def toRow(g: org.apache.parquet.example.data.Group): InternalRow = {
    def has(c: String): Boolean = g.getType.containsField(c) &&
      g.getFieldRepetitionCount(c) > 0
    lazy val subject: String = if (has("subject")) g.getString("subject", 0) else null
    if ((subjectContains.nonEmpty || subjectPrefixes.nonEmpty) &&
        (subject == null || !subjectContains.forall(subject.contains(_)) ||
          !subjectPrefixes.forall(subject.startsWith(_))))
      return null
    val vals = required.fieldNames.map {
      case "stream" => UTF8String.fromString(stream)
      case "subject" => if (subject == null) null else UTF8String.fromString(subject)
      case "seq" => if (has("seq")) g.getLong("seq", 0) else null
      case "ts_nats" => if (has("ts_nats")) g.getLong("ts_nats", 0) else null
      case "payload" => if (has("payload")) g.getBinary("payload", 0).getBytes else null
      case other => sys.error(s"unknown envelope column $other")
    }
    InternalRow.fromSeq(vals.toIndexedSeq)
  }

  override def get(): InternalRow = current
  override def close(): Unit = reader.close()
}

/** Per-partition reader: parquet Group API over the partition's byte range,
  * with record-level seq/ts filters delegated to parquet (page skipping) and
  * only the parquet columns backing the required envelope columns read. */
final class NatsScanReader(p: NatsScanPartition, required: StructType,
                           seqLo: Long, seqHi: Long, tsLoNs: Long,
                           tsHiNs: Long, subjectContains: List[String],
                           subjectPrefixes: List[String], stream: String)
    extends PartitionReader[InternalRow] {

  private val needed: Set[String] = required.fieldNames.toSet
  private val parquetCols: Seq[String] = {
    val m = Seq(
      "subject" -> Seq("event_type", "user_id"),
      "seq" -> Seq("event_id"),
      "ts_nats" -> Seq("ts"),
      "payload" -> Seq("props"))
    val cols = m.collect { case (env, pc) if needed.contains(env) => pc }.flatten
    // always keep event_id/ts when a bound is pushed, for the record filter
    val extra =
      (if (seqLo > 1L || seqHi < Long.MaxValue) Seq("event_id") else Nil) ++
      (if (tsLoNs > Long.MinValue || tsHiNs < Long.MaxValue) Seq("ts") else Nil)
    (cols ++ extra).distinct
  }

  private val reader: ParquetReader[org.apache.parquet.example.data.Group] = {
    val conf = new Configuration()
    val projection =
      if (parquetCols.isEmpty) None
      else Some {
        val fields = parquetCols.map {
          case "event_id" => "optional int64 event_id;"
          case "ts" => "optional int64 ts (TIMESTAMP(MICROS,false));"
          case "user_id" => "optional int64 user_id;"
          case "event_type" => "optional binary event_type (STRING);"
          case "props" => "optional binary props (STRING);"
        }.mkString("\n")
        s"message spark_schema {\n$fields\n}"
      }
    projection.foreach(s => conf.set("parquet.read.schema", s))

    var pred: org.apache.parquet.filter2.predicate.FilterPredicate = null
    def and(p2: org.apache.parquet.filter2.predicate.FilterPredicate): Unit =
      pred = if (pred == null) p2 else FilterApi.and(pred, p2)
    val idc = FilterApi.longColumn("event_id")
    // fixture ts is int64 µs (TIMESTAMP(MICROS)); the ns bounds convert
    // exactly: ts_ns = µs·1000 ∈ [lo, hi] ⟺ µs ∈ [⌈lo/1000⌉, ⌊hi/1000⌋]
    val tsc = FilterApi.longColumn("ts")
    if (seqLo > 1L) and(FilterApi.gtEq(idc, java.lang.Long.valueOf(seqLo - 1)))
    if (seqHi < Long.MaxValue) and(FilterApi.ltEq(idc, java.lang.Long.valueOf(seqHi - 1)))
    if (tsLoNs > Long.MinValue)
      and(FilterApi.gtEq(tsc, java.lang.Long.valueOf(TsBounds.loUs(tsLoNs))))
    if (tsHiNs < Long.MaxValue)
      and(FilterApi.ltEq(tsc, java.lang.Long.valueOf(TsBounds.hiUs(tsHiNs))))

    var b = ParquetReader
      .builder(new GroupReadSupport(), new Path(p.file))
      .withConf(conf)
      .withFileRange(p.rangeStart, p.rangeEnd)
    if (pred != null) b = b.withFilter(FilterCompat.get(pred))
    b.build()
  }

  private var current: InternalRow = _

  override def next(): Boolean = {
    while (true) {
      val g = reader.read()
      if (g == null) return false
      val row = toRow(g)
      if (row != null) { current = row; return true }
    }
    false
  }

  private def toRow(g: org.apache.parquet.example.data.Group): InternalRow = {
    def has(c: String): Boolean = g.getType.containsField(c) &&
      g.getFieldRepetitionCount(c) > 0
    // subject substring filter (reference semantics: substring, not wildcard,
    // /root/reference/src/nats_scan.cpp:741-746)
    lazy val subject: String =
      if (has("event_type") && has("user_id"))
        s"events.${g.getString("event_type", 0)}.${g.getLong("user_id", 0)}"
      else null
    if ((subjectContains.nonEmpty || subjectPrefixes.nonEmpty) &&
        (subject == null || !subjectContains.forall(subject.contains(_)) ||
          !subjectPrefixes.forall(subject.startsWith(_))))
      return null
    val vals = required.fieldNames.map {
      case "stream" => UTF8String.fromString(stream)
      case "subject" => if (subject == null) null else UTF8String.fromString(subject)
      case "seq" => if (has("event_id")) g.getLong("event_id", 0) + 1L else null
      case "ts_nats" =>
        if (has("ts")) g.getLong("ts", 0) else null // already µs
      case "payload" =>
        if (has("props")) g.getString("props", 0).getBytes("UTF-8") else null
      case other => sys.error(s"unknown envelope column $other")
    }
    InternalRow.fromSeq(vals.toIndexedSeq)
  }

  override def get(): InternalRow = current
  override def close(): Unit = reader.close()
}
