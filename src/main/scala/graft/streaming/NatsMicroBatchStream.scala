package graft.streaming

import java.util.Optional
import java.util.concurrent.atomic.LongAdder

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReportsSourceMetrics, SupportsTriggerAvailableNow}
import graft.sources.{NatsScanPartition, NatsScanReaderFactory, NatsScanSource, PartFooters, StoreEpochs}

/** Seq-based micro-batch stream over the message store — the superset the
  * reference only roadmaps ("live tail", /root/reference/docs/GUIDE.md:479-482;
  * durable consumers :461-464). Offsets are JetStream sequence positions, so
  * checkpoint/recovery semantics are exactly "resume after seq N" — what a
  * durable consumer would give a live NATS deployment.
  *
  * Each micro-batch serves the seq range (lastOffset, thisOffset] through the
  * same partition readers as the batch source; `max_msgs_per_batch` caps
  * batch size (backpressure knob, like JetStream pull-consumer batch sizes).
  *
  * Offset discovery lists the store once per poll; footer statistics come
  * from [[PartFooters]], so a poll reads only the footers of part files it
  * has not seen. Progress reports `backlogMsgs` (head seq − the batch's end
  * offset) and `footerReads` (footers this stream has opened since it
  * started).
  */
final class NatsMicroBatchStream(dir: String, stream: String,
                                 maxPerBatch: Long)
    extends MicroBatchStream with SupportsTriggerAvailableNow
    with ReportsSourceMetrics {

  private val file = s"$dir/$stream.parquet"
  private val nativeDir = new java.io.File(s"$dir/$stream.msgs")
  private val footerReads = new LongAdder
  /** the head seq the latest offset poll saw (-1: none yet) */
  @volatile private var head = -1L

  /** committed part files of the native store — the batch planner's set */
  private def nativeFiles: Seq[String] =
    StoreEpochs.committedFiles(nativeDir, None).toSeq.map(_.getPath)

  /** largest seq in the file's row-group statistics */
  private def fileMaxSeq(path: String, native: Boolean): Option[Long] =
    PartFooters.rowGroups(path, native, footerReads)
      .flatMap(_.seq).map(_._2).maxOption

  /** Latest available sequence. The fixture file is static (computed once);
    * a native store grows as writers append/commit, so it is re-listed on
    * every offset poll — exactly how a live-tail source discovers new
    * messages (docs/LIVE_NATS.md: stream LastSeq). */
  private def maxSeq: Long = {
    val h =
      if (nativeDir.isDirectory)
        nativeFiles.flatMap(fileMaxSeq(_, native = true)).maxOption.getOrElse(0L)
      else fixtureMaxSeq
    head = h
    h
  }

  private lazy val fixtureMaxSeq: Long =
    fileMaxSeq(file, native = false).getOrElse(0L)

  override def initialOffset(): Offset = SeqOffset(0L)

  override def latestOffset(): Offset = SeqOffset(maxSeq)

  // admission control: each micro-batch admits at most maxPerBatch messages
  // (the pull-consumer batch-size analog)
  override def latestOffset(start: Offset, limit: ReadLimit): Offset =
    SeqOffset(nextOffset(start.asInstanceOf[SeqOffset].seq))

  // the head this trigger's offset poll just saw: no second listing
  override def reportLatestOffset(): Offset =
    SeqOffset(if (head >= 0) head else maxSeq)

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  // Trigger.AvailableNow: drain up to the offset captured at query start,
  // still in maxPerBatch-sized micro-batches
  override def prepareForTriggerAvailableNow(): Unit = { val _ = maxSeq }

  override def deserializeOffset(json: String): SeqOffset =
    SeqOffset(json.trim.toLong)

  override def commit(end: Offset): Unit = ()

  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val lo = start.asInstanceOf[SeqOffset].seq + 1
    val hi = end.asInstanceOf[SeqOffset].seq
    if (hi < lo) Array.empty
    else if (nativeDir.isDirectory)
      // one partition per part file unless every row group's seq stats
      // miss the batch range
      nativeFiles.filter { p =>
        PartFooters.rowGroups(p, native = true, footerReads)
          .exists(_.seq.forall { case (mn, mx) => mx >= lo && mn <= hi })
      }.map(p => StreamBatch(p, lo, hi, native = true): InputPartition).toArray
    else Array(StreamBatch(file, lo, hi))
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new StreamReaderFactory(stream)

  override def metrics(latestConsumedOffset: Optional[Offset])
      : java.util.Map[String, String] = {
    val end =
      if (latestConsumedOffset.isPresent)
        deserializeOffset(latestConsumedOffset.get.json).seq
      else 0L
    val h = if (head >= 0) head else maxSeq
    Map("backlogMsgs" -> math.max(0L, h - end).toString,
      "footerReads" -> footerReads.sum().toString).asJava
  }

  /** cap the next batch at maxPerBatch messages (AdmissionControl-style) */
  def nextOffset(current: Long): Long = math.min(maxSeq, current + maxPerBatch)
}

final case class SeqOffset(seq: Long) extends Offset {
  override def json(): String = seq.toString
}

final case class StreamBatch(file: String, seqLo: Long, seqHi: Long,
                             native: Boolean = false)
    extends InputPartition

final class StreamReaderFactory(stream: String) extends PartitionReaderFactory {
  override def createReader(p: InputPartition) = {
    val b = p.asInstanceOf[StreamBatch]
    new NatsScanReaderFactory(NatsScanSource.envelopeSchema, b.seqLo, b.seqHi,
      Long.MinValue, Long.MaxValue, Nil, stream)
      .createReader(NatsScanPartition(b.file, 0L, Long.MaxValue, b.native))
  }
}
