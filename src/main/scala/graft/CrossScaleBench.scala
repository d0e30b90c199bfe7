package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Cross-family scale bench: replicate the corpus tables k× (default 10)
  * into a temp dir and run the SLOWEST suite queries from the committed
  * sf0.1 artifact back-to-back in ONE session — the measurement the
  * per-family ScaleProbe can't make (it times operators in isolation;
  * cross-query cache/codegen/GC interactions only show up when the heavy
  * queries share a JVM).
  *
  * Replication is [[Tables.replicate]], as in ScaleProbe: ids offset by
  * r×10⁷ per replica, `documents.source` suffixed `_r` (so source-blocked
  * pair joins treat replicas as disjoint corpora — the honest scale-up:
  * exact-duplicate replicas WOULD be pairable content for unblocked dedup,
  * and queries whose pair volume grows with cross-replica duplication are
  * expected to grow superlinearly in OUTPUT, which the artifact records
  * rather than hides).
  *
  * Run: `sbt "runMain graft.CrossScaleBench [k] [query...]"`
  * (env SPARK_GRAFT_SF_DIR for the base corpus, default sf0.1).
  * Artifact: bench_scale<k>x_<sf>.json — per-query seconds at k×, alongside
  * the committed 1× numbers for ratio reading, and under `measure` each
  * query's [[Measure.Record]] of its kept pass.
  */
object CrossScaleBench {

  /** the 15 slowest non-trivial queries of the committed round-11 sf0.1
    * artifact (bench_full_sf0.1.json), fixture builders included — they
    * are real pipeline stages and scale with the corpus — plus the
    * round-13 index-compaction/deletion lifecycles and the round-14
    * streaming-gate + time-travel lifecycles (each runs build + maintain
    * + probe/search inside the measured query: the rewrites must stay
    * O(index) and the retained-generation reads O(snapshot), so their
    * 10× ratios are scale properties worth pinning) */
  val DefaultQueries: Seq[String] = Seq(
    "dedup_index_fixture", "dedup_index_probe", "dedup_lsh_sweep",
    "dedup_keep_one", "text_kneser_ney", "pipe_end2end", "dedup_centrality",
    "dedup_cluster_sizes", "dedup_components", "pipe_leakfree_split",
    "ann_index_ingest", "pipe_bpe_apply", "dedup_winnow", "dedup_span_scrub",
    "nats_avro_extract", "dedup_index_compact", "ann_index_compact",
    "dedup_index_remove", "ann_index_remove",
    "dedup_gate_autocompact", "ann_index_autocompact",
    "dedup_index_timetravel", "ann_index_timetravel",
    "dedup_index_describe", "ann_index_describe")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val k = args.headOption.map(_.toInt).getOrElse(10)
    val names = if (args.length > 1) args.drop(1).toSeq else DefaultQueries
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")

    val spark = Measure.session()
    val measure = new Measure(spark)

    // ---- materialize the k×-replicated corpus (one-time, not timed) ----
    val out = graft.Scratch.dir(s"graft_scale${k}x")
    // 32 id-clustered files per replicated table: the base fixture is a
    // single parquet file, and an exploded 10× copy written at the read's
    // parallelism would land as a couple of huge row groups — every
    // downstream scan would start from 2-4 splits and the bench would
    // measure file layout, not operators. RANGE partitioning (not random
    // round-robin) keeps the base fixture's id clustering, so row-group
    // min/max stats stay as prunable as the original corpus's.
    def write(df: DataFrame, name: String, idCol: String): Unit =
      df.repartitionByRange(32, col(idCol))
        .write.mode("overwrite").parquet(s"$out/$name.parquet")

    Tables.names.foreach { n =>
      Tables.replicaIds.get(n) match {
        case Some(id) => write(Tables.replicate(spark, sfDir, n, k), n, id)
        case None =>
          val df = spark.read.parquet(s"$sfDir/$n.parquet")
          write(df, n, df.columns.head)
      }
    }

    // ---- warm, then run the picked queries in one session ----
    // GRAFT_SCALE_REPS (default 3) full passes over the query list; the
    // artifact records the per-query MIN — this box is co-tenant-noisy
    // (identical queries measured 21 s ↔ 78 s across runs at identical
    // HEAD), and the least-displaced pass is the one that measures the
    // operator rather than the neighbor.
    val repsN = sys.env.get("GRAFT_SCALE_REPS").map(_.toInt).getOrElse(3)
    try Bench.materialize(SparkEntry.entry(spark))
    catch { case _: Throwable => () }
    spark.catalog.clearCache()
    val failed = scala.collection.mutable.LinkedHashSet[String]()
    val best = scala.collection.mutable.LinkedHashMap[String, Measure.Record]()
    for (rep <- 1 to repsN) {
      names.foreach { name =>
        // a pass that THROWS records no time: a fast failure (immediate
        // abort) must not become the query's "best" in the artifact
        val (ok, rec) = measure.run(name) {
          try { Bench.materialize(SparkEntry.queries(name)(spark, out)); true }
          catch { case _: Throwable => failed += name; false }
        }
        Caches.drain()
        if (ok && best.get(name).forall(_.wallMs > rec.wallMs)) best(name) = rec
      }
      spark.catalog.clearCache()
      System.err.println(s"[scalebench] pass $rep/$repsN done")
    }
    val results = best.toSeq.map { case (n, r) => n -> r.wallMs / 1e3 }

    val qs = results.map { case (n, v) => "\"" + n + "\":" + v }
      .mkString("{", ",", "}")
    val records = best.map { case (n, r) => "\"" + n + "\":" + r.json }
      .mkString("{", ",", "}")
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results.map(_._2).sum
    val sfTag = java.nio.file.Paths.get(sfDir).getFileName.toString
      .replaceAll("[^A-Za-z0-9._-]", "_")
    val line = s"""{"metric":"scale${k}x_total","value":$total,"unit":"sec",""" +
      s""""k":$k,"queries":$qs,"failed":$failedJson,"measure":$records,""" +
      s""""sf":"$sfDir"}"""
    try {
      // a FILTERED run must not clobber the committed full artifact with a
      // partial per-query map (same rule as Bench's bench_partial_<sf>)
      val target =
        if (args.length > 1) s"bench_scale${k}x_partial_$sfTag.json"
        else s"bench_scale${k}x_$sfTag.json"
      java.nio.file.Files.write(
        java.nio.file.Paths.get(target),
        (line + "\n").getBytes("UTF-8"))
      ()
    } catch { case e: Throwable =>
      System.err.println(s"[scalebench] artifact write failed: $e")
    }
    println(line)
    if (failed.nonEmpty)
      System.err.println(s"[scalebench] FAILED: ${failed.mkString(", ")}")
    spark.stop()
  }
}
