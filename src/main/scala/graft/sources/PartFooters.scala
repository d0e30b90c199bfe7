package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, InvalidPathException, NoSuchFileException}
import java.nio.file.attribute.BasicFileAttributes
import java.util.concurrent.{ConcurrentHashMap, TimeUnit}
import java.util.concurrent.atomic.LongAdder

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.column.statistics.Statistics
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile

/** One row group of a part file, as the planners see it: its byte range
  * and row count, and the [min, max] statistics of the envelope columns in
  * envelope terms — `seq` (the fixture layout's `event_id + 1`), `tsUs`
  * (µs in both layouts) and `subject` (native layout only). A column is
  * None when the row group carries no statistics for it; every planner
  * then treats the row group as possibly matching. */
final case class RowGroupStats(start: Long, bytes: Long, rows: Long,
                               seq: Option[(Long, Long)],
                               tsUs: Option[(Long, Long)],
                               subject: Option[(String, String)])

/** THE footer reader of the message store: row-group statistics of each
  * part file, read once per file and cached on the driver. The scan
  * planner, the micro-batch tail's offset discovery and planning, the
  * stats-only aggregate pushdown and retention all ask here, so a store
  * that did not change costs one directory listing and zero footer reads
  * per plan or poll, and one append costs one footer read.
  *
  * Entries are keyed by file identity — absolute path, length, mtime and,
  * where the filesystem has one, the file key (inode): a part file is
  * immutable once committed, and a file put under an old name (an epoch
  * replay's rename, a compaction's directory swap) is a new identity and
  * misses. Bounded like [[graft.operators.IndexCommit.footerRowCount]]'s
  * cache: cleared wholesale past a fixed entry count. */
object PartFooters {
  private val MaxEntries = 65536
  private val cache = new ConcurrentHashMap[String, IndexedSeq[RowGroupStats]]()
  private lazy val conf = new Configuration()

  /** the row groups of `path` (`native`: message-store layout, else the
    * fixture file's); `reads` counts the footers this call opened */
  def rowGroups(path: String, native: Boolean,
                reads: LongAdder = new LongAdder): IndexedSeq[RowGroupStats] = {
    val key = s"${identity(path)}|$native"
    val hit = cache.get(key)
    if (hit != null) hit
    else {
      val rgs = read(path, native)
      reads.increment()
      if (cache.size >= MaxEntries) cache.clear()
      cache.put(key, rgs)
      rgs
    }
  }

  private def identity(path: String): String = {
    val local =
      try {
        val f = new java.io.File(path)
        val a = Files.readAttributes(f.toPath, classOf[BasicFileAttributes])
        Some(s"${f.getAbsolutePath}|${a.size}|" +
          s"${a.lastModifiedTime.to(TimeUnit.NANOSECONDS)}|${a.fileKey}")
      } catch { case _: InvalidPathException | _: NoSuchFileException => None }
    local.getOrElse {
      // not a local file (a Hadoop URI, or missing — getFileStatus then
      // raises the same FileNotFoundException the footer open would)
      val p = new Path(path)
      val st = p.getFileSystem(conf).getFileStatus(p)
      s"${st.getPath}|${st.getLen}|${st.getModificationTime}|"
    }
  }

  private def read(path: String, native: Boolean): IndexedSeq[RowGroupStats] = {
    val (seqCol, tsCol, seqAdj) =
      if (native) ("seq", "ts_nats", 0L) else ("event_id", "ts", 1L)
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(path), conf))
    try reader.getRowGroups.asScala.map { rg =>
      val cols = rg.getColumns.asScala
      def stats(name: String): Option[Statistics[_]] =
        cols.find(_.getPath.toDotString == name).map(_.getStatistics)
          .filter(s => s != null && s.hasNonNullValue)
      def longs(name: String, adj: Long): Option[(Long, Long)] =
        stats(name).map(s =>
          (s.genericGetMin.asInstanceOf[java.lang.Long].longValue() + adj,
            s.genericGetMax.asInstanceOf[java.lang.Long].longValue() + adj))
      RowGroupStats(rg.getStartingPos, rg.getTotalByteSize, rg.getRowCount,
        longs(seqCol, seqAdj), longs(tsCol, 0L),
        if (!native) None
        else stats("subject").map(s =>
          (new String(s.getMinBytes, UTF_8), new String(s.getMaxBytes, UTF_8))))
    }.toIndexedSeq
    finally reader.close()
  }
}
