package graft.sources

import java.util.concurrent.atomic.LongAdder

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.ColumnarBatch

/** Physical scan: one InputPartition per parquet row group, each reader a
  * bounded pull over its byte range (the distributed analog of the
  * reference's bounded Direct Get cursor, /root/reference/src/nats_scan.cpp:713-723).
  *
  * Plan-time pruning: row groups whose event_id / ts statistics fall outside
  * the pushed seq/ts bounds are never planned at all; record-level residue is
  * Spark's residual Filter over the decoded batches (gap-skip analog
  * :725-729 is a no-op on columnar storage).
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
    new NatsScanReaderFactory(required, seqLo, seqHi, tsLoNs, tsHiNs, stream,
      pushedLimit, assertSeqOrder = assertSeqOrder)
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
                                  stream: String,
                                  pushedLimit: Option[Int] = None,
                                  assertSeqOrder: Boolean = false)
    extends PartitionReaderFactory {

  private val seqIdx: Int = required.fieldNames.indexOf("seq")

  /** seq ordinal in the output when the top-n monotonicity assertion is on
    * (-1 = off). A top-n on seq always projects seq, but stay defensive. */
  private val seqCheckIdx: Int = if (assertSeqOrder) seqIdx else -1

  /** Row view over [[createColumnarReader]], for the micro-batch stream
    * (batch scans read columnar). It keeps a row only when its seq is
    * non-null and inside [seqLo, seqHi]: the stream has no residual Filter
    * above it, so this per-row check is what makes a micro-batch hold
    * exactly its offset range. The check assumes no order — part files
    * ascend by seq only where the [[StoreLayout]] marker vouches for it. */
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val batches = createColumnarReader(p)
    new PartitionReader[InternalRow] {
      private var batch: ColumnarBatch = _
      private var row = -1
      override def next(): Boolean = {
        while (true) {
          row += 1
          while (batch == null || row >= batch.numRows()) {
            if (!batches.next()) return false
            batch = batches.get()
            row = 0
          }
          val seq = batch.column(seqIdx)
          if (!seq.isNullAt(row) && seq.getLong(row) >= seqLo &&
              seq.getLong(row) <= seqHi) return true
        }
        false
      }
      override def get(): InternalRow = batch.getRow(row)
      override def close(): Unit = batches.close()
    }
  }

  /** Every read decodes vectorized (see [[NatsVectorized]]). For batch
    * scans the subject/seq/ts residue is Spark's job (the builder keeps
    * every pushed predicate residual); the stream's row view above trims
    * its seq range itself. */
  override def supportColumnarReads(p: InputPartition): Boolean = true

  override def createColumnarReader(p: InputPartition)
      : PartitionReader[ColumnarBatch] = {
    val part = p.asInstanceOf[NatsScanPartition]
    val inner =
      if (part.native)
        new NatsNativeColumnarReader(part, required, stream, seqLo, seqHi,
          tsLoNs, tsHiNs)
      else
        new NatsFixtureColumnarReader(part, required, stream, seqLo, seqHi,
          tsLoNs, tsHiNs)
    pushedLimit.fold(inner: PartitionReader[ColumnarBatch])(
      new LimitedColumnarReader(inner, _, seqCheckIdx))
  }
}

/** Early-stop decorator for a PARTIALLY pushed LIMIT: the source may emit
  * at most ~limit rows per partition and Spark's own Local/GlobalLimit
  * above the scan enforces the exact count — so stopping is purely an I/O
  * and decode saving, never a correctness lever. It stops at the first
  * batch boundary at-or-after the limit (truncating mid-batch would buy
  * nothing: the batch is already decoded).
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

private final class LimitedColumnarReader(
    inner: PartitionReader[ColumnarBatch], limit: Int, seqIdx: Int = -1)
    extends PartitionReader[ColumnarBatch] {
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
  override def get(): ColumnarBatch = inner.get()
  override def close(): Unit = inner.close()
}
