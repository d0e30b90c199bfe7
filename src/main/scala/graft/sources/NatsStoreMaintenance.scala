package graft.sources

import java.io.File

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Maintenance for the native message store.
  *
  * A streaming sink writes one part file per (epoch × partition): a
  * long-running ingest accumulates thousands of small files, and small
  * files are the classic lakehouse scan killer (footer-per-file overhead,
  * no intra-file clustering, statistics too fine to prune). `compact`
  * rewrites the store into `numFiles` subject-clustered, seq-sorted part
  * files — after which subject-PREFIX predicates prune at row-group
  * granularity (docs/SUBJECT_PRUNING.md) and seq/ts statistics become
  * maximally selective.
  *
  * Protocol: rewrite into a scratch store (a full batch write with its own
  * staging/commit), then swap directories and drop the old store. The swap
  * window is two renames; a concurrent reader that planned against the old
  * directory keeps reading its already-opened files (POSIX semantics), and
  * a reader planning mid-swap sees a complete store either way. At cluster
  * scale the same shape runs against a DFS with a metadata-pointer swap
  * instead of directory renames.
  *
  * COMPACTION TRUNCATES TIME-TRAVEL HISTORY: the epoch-in-filename ledger
  * (`epoch-NNNNNN-part-*`) that `as_of_epoch` reads is erased by the
  * rewrite (compacted files are batch-named). A later `as_of_epoch` read
  * REFUSES loudly rather than answering approximately
  * (`StoreEpochs.select`; `CompactionSpec` pins the cross-behavior) — the
  * same contract as Delta's `VACUUM` dropping `versionAsOf` history: keep
  * a pre-compaction copy (or re-ingest) if pinned snapshots must outlive
  * compaction.
  */
object NatsStoreMaintenance {

  /** `layout` picks what the compacted files cluster on — which predicates
    * prune at FILE granularity afterwards:
    *   - `"subject"` (default): contiguous subject spans, seq-sorted within
    *     — subject-PREFIX predicates prune best; but with more subjects
    *     than files every file holds complete subject runs spanning the
    *     whole seq range, so a bare seq/ts predicate prunes nothing.
    *   - `"seq"`: contiguous seq runs — pure seq/ts retention and range
    *     scans; subject predicates prune nothing.
    *   - `"zorder"`: [[graft.operators.ZOrder]] file assignment over
    *     (subject, seq) with ORDER-PRESERVING subject ranks — each file
    *     covers a narrow lexicographic subject range AND a narrow seq
    *     range, so subject prefix/equality predicates and seq predicates
    *     BOTH prune files through the scan's existing min/max stats
    *     checks (the balanced layout for mixed workloads; each dimension
    *     gets ~half the resolution of its dedicated layout — that's the
    *     curve's trade).
    * Every layout yields seq-ASCENDING rows within each file — the store
    * writer enforces that ordering at write time — so the sorted-store
    * marker, row-group seq pruning, and top-n early-stop hold under all
    * three. */
  def compact(spark: SparkSession, dir: String, stream: String,
              numFiles: Int, layout: String = "subject"): Unit = {
    require(numFiles > 0, s"numFiles must be positive: $numFiles")
    val store = new File(s"$dir/$stream.msgs")
    require(store.isDirectory, s"no native store at $store")
    val scratch = s"$dir/.compact_${System.nanoTime()}"

    val df = spark.read.format("nats_scan")
      .option("dir", dir).option("stream", stream).load()
    val arranged = layout match {
      case "subject" =>
        // subject-clustered: each output file covers a narrow subject range
        // (prefix pruning), seq-sorted within for seq/ts pruning
        df.repartitionByRange(numFiles, col("subject"), col("seq"))
          .sortWithinPartitions("subject", "seq")
      case "seq" =>
        df.repartitionByRange(numFiles, col("seq"))
          .sortWithinPartitions("seq")
      case "zorder" =>
        // orderedStrings: subject ranks preserve lexicographic order so
        // the scan's string min/max pruning works on the z files;
        // sortWithin = false: the store writer re-sorts every partition
        // by seq anyway (RequiresDistributionAndOrdering) — only the
        // FILE ASSIGNMENT survives, so a z-sort here is wasted work
        graft.operators.ZOrder.cluster(df, Seq("subject", "seq"), numFiles,
          orderedStrings = true, sortWithin = false)
      case other => throw new IllegalArgumentException(
        s"unknown compact layout '$other' (subject | seq | zorder)")
    }
    arranged.write.format("nats_scan")
      .option("dir", scratch).option("stream", stream)
      .mode("overwrite").save()

    // swap: old store aside, scratch store in, old dropped
    val newStore = new File(s"$scratch/$stream.msgs")
    val retired = new File(s"$dir/.retired_$stream.msgs")
    deleteRecursively(retired)
    require(store.renameTo(retired), s"compact swap failed: $store aside")
    require(newStore.renameTo(store), s"compact swap failed: $newStore in")
    deleteRecursively(retired)
    deleteRecursively(new File(scratch))
  }

  final case class ExpireStats(filesDropped: Int, filesRewritten: Int,
                               filesKept: Int)

  /** Time-based retention (JetStream MaxAge semantics): remove every
    * message with `ts_nats` strictly before `cutoffMicros`.
    *
    * Work is O(affected data), not O(store): each part file's parquet
    * FOOTER statistics decide its fate without reading a data page —
    * wholly-expired files unlink, wholly-live files are untouched, and
    * only files STRADDLING the cutoff (usually one per writer partition)
    * are rewritten through the store's own batch writer. This is the
    * retention behavior that produces the seq GAPS the reference's fetch
    * loop linearly probes through (`/root/reference/src/nats_scan.cpp:
    * 725-729`) — after expiry the stream's first live seq moves forward,
    * and readers (scan, transport gap-skip, micro-batch streaming) already
    * handle the hole. */
  def expireBefore(spark: SparkSession, dir: String, stream: String,
                   cutoffMicros: Long): ExpireStats = {
    val store = new File(s"$dir/$stream.msgs")
    require(store.isDirectory, s"no native store at $store")
    val files = StoreEpochs.committedFiles(store, None)

    var dropped = 0
    val straddle = scala.collection.mutable.ArrayBuffer[File]()
    var kept = 0
    files.foreach { f =>
      tsBounds(f) match {
        case Some((_, maxTs)) if maxTs < cutoffMicros =>
          require(f.delete(), s"expire unlink failed: $f"); dropped += 1
        case Some((minTs, _)) if minTs >= cutoffMicros => kept += 1
        case _ => straddle += f // straddles the cutoff, or no stats: rewrite
      }
    }

    if (straddle.nonEmpty) {
      // rewrite the boundary through the store's own writer (same schema,
      // same staging/commit, collision-free job-token names), then move the
      // survivors in and unlink the originals
      val scratch = s"$dir/.expire_${System.nanoTime()}"
      spark.read.parquet(straddle.map(_.getPath).toIndexedSeq: _*)
        .filter(col("ts_nats") >= timestamp_micros(lit(cutoffMicros)))
        // raw part files carry (subject, seq, ts_nats, payload); the writer
        // takes the scan ENVELOPE, which also names the stream
        .withColumn("stream", lit(stream))
        .write.format("nats_scan")
        .option("dir", scratch).option("stream", stream)
        .mode("overwrite").save()
      // aside-swap (compact()'s protocol): originals go to dot-prefixed
      // names the scan filter already ignores, survivors move in, and only
      // then are the aside copies dropped — every step is recoverable. A
      // crash mid-sequence leaves the live rows on disk in the store dir
      // (aside copies), never only in the scratch dir.
      val aside = straddle.map { f =>
        val a = new File(store, s".expiring_${f.getName}")
        require(f.renameTo(a), s"expire aside failed: $f")
        a
      }
      val newFiles = Option(new File(s"$scratch/$stream.msgs")
        .listFiles((f: File) => f.getName.endsWith(".parquet") &&
          !f.getName.startsWith("_"))).toSeq.flatten
      newFiles.foreach { f =>
        require(f.renameTo(new File(store, f.getName)),
          s"expire move failed: $f")
      }
      aside.foreach(f => require(f.delete(), s"expire aside unlink failed: $f"))
      deleteRecursively(new File(scratch))
    }
    ExpireStats(dropped, straddle.size, kept)
  }

  /** (min, max) of the ts_nats column in MICROS from the file's footer
    * row-group statistics ([[PartFooters]]) — no data pages read. None when
    * any row group lacks statistics (the caller then rewrites
    * conservatively). */
  private def tsBounds(f: File): Option[(Long, Long)] = {
    val perBlock = PartFooters.rowGroups(f.getPath, native = true).map(_.tsUs)
    if (perBlock.isEmpty || perBlock.exists(_.isEmpty)) None
    else Some((perBlock.flatten.map(_._1).min, perBlock.flatten.map(_._2).max))
  }

  private def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteRecursively)
    f.delete(): Unit
  }

  /** One row per committed ingest epoch of a streaming-written store —
    * (epoch, part files, total bytes) — the discovery half of the
    * `as_of_epoch` time-travel read ("which snapshots can I pin?"). Pure
    * directory-listing arithmetic; epochs sorted ascending. Batch-appended
    * (epoch-less) files are reported under epoch -1 so a mixed store is
    * visible rather than hidden. */
  def epochs(dir: String, stream: String): Seq[(Long, Int, Long)] = {
    val store = new File(s"$dir/$stream.msgs")
    if (!store.isDirectory) return Nil
    StoreEpochs.committedFiles(store, None)
      .groupBy(f => StoreEpochs.epochOf(f.getName).getOrElse(-1L))
      .toSeq
      .map { case (e, fs) => (e, fs.length, fs.map(_.length()).sum) }
      .sortBy(_._1)
  }
}
