package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.TaskAttemptID
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate}
import org.apache.parquet.hadoop.ParquetInputFormat
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.execution.datasources.parquet.VectorizedParquetRecordReader
import org.apache.spark.sql.execution.vectorized.{ConstantColumnVector, OnHeapColumnVector}
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}
import org.apache.spark.unsafe.types.UTF8String

/** Vectorized columnar readers for the `nats_scan` V2 source: the one
  * decoder of the message store, in both layouts. Batch scans consume the
  * batches directly; a micro-batch stream reads them through the row view
  * of [[NatsScanReaderFactory.createReader]], which trims each batch to
  * its seq range. These readers decode each already-pruned row
  * group straight into Spark `ColumnarBatch`es via Spark's own
  * `VectorizedParquetRecordReader` (the engine the reference's `DataChunk`
  * emission maps to at scale, /root/reference/src/nats_scan.cpp:709-710):
  *
  *   - NATIVE store layout (part files ARE the envelope): zero-copy — the
  *     output batch aliases the decoder's vectors, plus one
  *     [[ConstantColumnVector]] for the `stream` echo column;
  *   - FIXTURE layout (`events.parquet`): one compiled per-batch pass builds
  *     the envelope vectors (seq = event_id+1, ts µs = ns/1000, subject
  *     concat, payload bytes) — no per-row object graph, no per-row schema
  *     dispatch.
  *
  * Record-level residue (seq/ts bounds, subject predicates) is NOT applied
  * here. In a batch scan [[NatsScanBuilder.pushFilters]] keeps every
  * accepted predicate residual, so Spark re-evaluates it in whole-stage
  * codegen directly over these batches; a stream's seq range is trimmed by
  * the row view. Pushdown remains a pure skipping optimization: row-group
  * pruning at plan time ([[NatsScanScan.planInputPartitions]]) plus parquet
  * page/column-index skipping via the filter predicate set below.
  */
private[sources] object NatsVectorized {

  /** batch size of the underlying decoder (Spark's default capacity) */
  val Capacity = 4096

  /** A [[VectorizedParquetRecordReader]] over one row-group byte range.
    *
    * `requested` is the CATALYST schema of the file columns to decode (in
    * output order); parquet clips its file schema against it by name. The
    * conf keys mirror what Spark's own `ParquetFileFormat` sets before
    * handing a split to this reader — `inferTimestampNTZ` decodes the
    * fixture's TIMESTAMP(MICROS, isAdjustedToUTC=false) `ts` as NTZ, whose
    * vector longs are the envelope's epoch-µs directly. */
  def open(file: String, rangeStart: Long, rangeEnd: Long,
           requested: StructType,
           pred: Option[FilterPredicate]): VectorizedParquetRecordReader = {
    val conf = new Configuration()
    conf.set("parquet.read.support.class",
      "org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport")
    conf.set("org.apache.spark.sql.parquet.row.requested_schema", requested.json)
    conf.set("spark.sql.parquet.binaryAsString", "false")
    conf.set("spark.sql.parquet.int96AsTimestamp", "true")
    conf.set("spark.sql.caseSensitive", "false")
    conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
    // must be set explicitly: ParquetToSparkSchemaConverter reads the raw
    // hadoop conf (no SQLConf default fallback) and "null".toBoolean throws
    conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    // page/column-index skipping only; record-level filtering is the
    // residual Filter's or the stream's row view's job (and is unsupported
    // in vectorized decode)
    conf.set("parquet.filter.record-level.enabled", "false")
    pred.foreach(ParquetInputFormat.setFilterPredicate(conf, _))
    val reader = new VectorizedParquetRecordReader(
      null, "CORRECTED", "UTC", "CORRECTED", "UTC",
      /* useOffHeap = */ false, Capacity)
    // the mapred variant: Spark's reader base casts its InputSplit argument
    // to org.apache.hadoop.mapred.FileSplit (which extends the mapreduce one)
    val split = new org.apache.hadoop.mapred.FileSplit(new Path(file),
      rangeStart, rangeEnd - rangeStart, Array.empty[String])
    val ctx = new TaskAttemptContextImpl(conf, new TaskAttemptID())
    try {
      reader.initialize(split, ctx)
      reader.resultBatch(): Unit // allocates the batch vectors (lazy initBatch)
    } catch { case t: Throwable => reader.close(); throw t }
    reader
  }

  def and(a: Option[FilterPredicate], b: Option[FilterPredicate])
      : Option[FilterPredicate] = (a, b) match {
    case (Some(x), Some(y)) => Some(FilterApi.and(x, y))
    case (x, None) => x
    case (None, y) => y
  }

  def longRange(col: String, lo: Long, loMin: Long, hi: Long, hiMax: Long)
      : Option[FilterPredicate] = {
    val c = FilterApi.longColumn(col)
    and(
      if (lo > loMin) Some(FilterApi.gtEq(c, java.lang.Long.valueOf(lo))) else None,
      if (hi < hiMax) Some(FilterApi.ltEq(c, java.lang.Long.valueOf(hi))) else None)
  }
}

/** Columnar reader for the NATIVE message store layout: the part-file
  * columns are the envelope columns, so the output batch aliases the
  * decoder's vectors directly (zero copy); `stream` is a constant vector. */
final class NatsNativeColumnarReader(p: NatsScanPartition,
                                     required: StructType, stream: String,
                                     seqLo: Long, seqHi: Long,
                                     tsLoNs: Long, tsHiNs: Long)
    extends PartitionReader[ColumnarBatch] {

  private val tsLoUs = TsBounds.loUs(tsLoNs)
  private val tsHiUs = TsBounds.hiUs(tsHiNs)

  private val fileFields: Array[StructField] =
    required.fields.filter(_.name != "stream")

  private val inner = NatsVectorized.open(p.file, p.rangeStart, p.rangeEnd,
    StructType(fileFields),
    NatsVectorized.and(
      NatsVectorized.longRange("seq", seqLo, 1L, seqHi, Long.MaxValue),
      NatsVectorized.longRange("ts_nats", tsLoUs, Long.MinValue, tsHiUs, Long.MaxValue)))

  private var batch: ColumnarBatch = _

  override def next(): Boolean = {
    if (!inner.nextBatch()) return false
    val in = inner.resultBatch()
    if (batch == null) {
      var fileIdx = -1
      val cols: Array[ColumnVector] = required.fields.map { f =>
        if (f.name == "stream") {
          val c = new ConstantColumnVector(NatsVectorized.Capacity, StringType)
          c.setUtf8String(UTF8String.fromString(stream))
          c: ColumnVector
        } else { fileIdx += 1; in.column(fileIdx) }
      }
      batch = new ColumnarBatch(cols)
    }
    batch.setNumRows(in.numRows())
    true
  }

  override def get(): ColumnarBatch = batch
  override def close(): Unit = inner.close()
}

/** Columnar reader for the FIXTURE layout (`events.parquet`): decodes the
  * raw columns vectorized, then builds the envelope vectors in one compiled
  * per-batch pass (seq = event_id+1, ts_nats µs = ts (already µs),
  * subject = events.<event_type>.<user_id>, payload = props bytes). */
final class NatsFixtureColumnarReader(p: NatsScanPartition,
                                      required: StructType, stream: String,
                                      seqLo: Long, seqHi: Long,
                                      tsLoNs: Long, tsHiNs: Long)
    extends PartitionReader[ColumnarBatch] {

  private val needed: Set[String] = required.fieldNames.toSet

  // raw columns backing the required envelope columns, fixed order
  private val fileCols: Array[String] = {
    val m = Seq(
      "subject" -> Seq("event_type", "user_id"),
      "seq" -> Seq("event_id"),
      "ts_nats" -> Seq("ts"),
      "payload" -> Seq("props"))
    m.collect { case (env, pc) if needed.contains(env) => pc }.flatten.distinct.toArray
  }

  private def rawField(name: String): StructField = name match {
    case "event_id" => StructField("event_id", LongType)
    // parquet TIMESTAMP(MICROS,false) decodes as NTZ — the vector's physical
    // longs ARE epoch-µs, which is exactly the envelope granularity
    case "ts" => StructField("ts", TimestampNTZType)
    case "user_id" => StructField("user_id", LongType)
    case "event_type" => StructField("event_type", StringType)
    case "props" => StructField("props", StringType)
  }

  // ns bounds → µs (exact: file values are whole µs)
  private val tsLoUs = TsBounds.loUs(tsLoNs)
  private val tsHiUs = TsBounds.hiUs(tsHiNs)

  private val inner = NatsVectorized.open(p.file, p.rangeStart, p.rangeEnd,
    StructType(fileCols.map(rawField).toIndexedSeq),
    NatsVectorized.and(
      // seq = event_id + 1 (JetStream seqs are 1-based, fixture ids 0-based)
      NatsVectorized.longRange("event_id", seqLo - 1L, 0L,
        if (seqHi == Long.MaxValue) Long.MaxValue else seqHi - 1L, Long.MaxValue),
      NatsVectorized.longRange("ts", tsLoUs, Long.MinValue, tsHiUs, Long.MaxValue)))

  private def fileIdx(name: String): Int = fileCols.indexOf(name)

  private val out: Array[ColumnVector] = required.fields.map { f =>
    f.name match {
      case "stream" =>
        val c = new ConstantColumnVector(NatsVectorized.Capacity, StringType)
        c.setUtf8String(UTF8String.fromString(stream))
        c: ColumnVector
      case _ => new OnHeapColumnVector(NatsVectorized.Capacity, f.dataType)
    }
  }
  private val batch = new ColumnarBatch(out)

  private val subjectPrefix = "events.".getBytes("UTF-8")

  override def next(): Boolean = {
    if (!inner.nextBatch()) return false
    val in = inner.resultBatch()
    val n = in.numRows()
    var c = 0
    while (c < out.length) {
      out(c) match { case w: OnHeapColumnVector => w.reset(); case _ => () }
      c += 1
    }
    var oi = 0
    while (oi < required.fields.length) {
      val name = required.fields(oi).name
      out(oi) match {
        case w: OnHeapColumnVector =>
          name match {
            case "seq" =>
              val src = in.column(fileIdx("event_id"))
              var i = 0
              while (i < n) {
                if (src.isNullAt(i)) w.putNull(i)
                else w.putLong(i, src.getLong(i) + 1L)
                i += 1
              }
            case "ts_nats" =>
              val src = in.column(fileIdx("ts"))
              var i = 0
              while (i < n) {
                if (src.isNullAt(i)) w.putNull(i)
                else w.putLong(i, src.getLong(i)) // already epoch-µs
                i += 1
              }
            case "subject" =>
              val et = in.column(fileIdx("event_type"))
              val uid = in.column(fileIdx("user_id"))
              var i = 0
              while (i < n) {
                if (et.isNullAt(i) || uid.isNullAt(i)) w.putNull(i)
                else {
                  val etb = et.getUTF8String(i).getBytes
                  val uidStr = java.lang.Long.toString(uid.getLong(i))
                  val len = subjectPrefix.length + etb.length + 1 + uidStr.length
                  val buf = new Array[Byte](len)
                  System.arraycopy(subjectPrefix, 0, buf, 0, subjectPrefix.length)
                  System.arraycopy(etb, 0, buf, subjectPrefix.length, etb.length)
                  var o = subjectPrefix.length + etb.length
                  buf(o) = '.'.toByte
                  o += 1
                  var k = 0
                  while (k < uidStr.length) {
                    buf(o + k) = uidStr.charAt(k).toByte; k += 1
                  }
                  w.putByteArray(i, buf, 0, len)
                }
                i += 1
              }
            case "payload" =>
              val src = in.column(fileIdx("props"))
              var i = 0
              while (i < n) {
                if (src.isNullAt(i)) w.putNull(i)
                else {
                  val b = src.getUTF8String(i).getBytes
                  w.putByteArray(i, b, 0, b.length)
                }
                i += 1
              }
            case other => sys.error(s"unknown envelope column $other")
          }
        case _ => () // constant stream column
      }
      oi += 1
    }
    batch.setNumRows(n)
    true
  }

  override def get(): ColumnarBatch = batch
  override def close(): Unit = {
    inner.close()
    out.foreach(_.close())
  }
}
