package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, DedupIndex}

/** Streaming near-dup ingestion gate: each micro-batch of documents is
  * deduplicated against everything already ACCEPTED (a persisted MinHash
  * index), then against itself, and the survivors extend the index — the
  * `foreachBatch` packaging of [[graft.operators.Dedup
  * .incrementalMinhashPairs]] (O(batch) work per batch, never a corpus
  * self-join).
  *
  * Index layout (both parquet, append-only):
  *   `indexDir/bands` — (band INT, band_key STRING, doc_id LONG): the LSH
  *     candidate join surface.
  *   `indexDir/sigs`  — (doc_id LONG, sig ARRAY<BIGINT>): signatures for
  *     the est-Jaccard verify of candidates (only survivors' signatures
  *     are stored, so the index is exactly the accepted corpus).
  * With `Config.bucketed = true` the index is instead kept as
  * [[graft.operators.DedupIndex]]'s band-key-BUCKETED tables — the
  * per-batch candidate join is co-located (index side exchange-free) and
  * the index re-registers across sessions via catalog DDL. Drop decisions
  * are IDENTICAL in both modes (spec-asserted).
  *
  * Drop rule (deterministic at any parallelism):
  *   1. a batch doc whose est-Jaccard vs ANY indexed doc ≥ `minEst` drops;
  *   2. within the batch, near-dup components keep their min-id member
  *      (the canonical) and drop the rest;
  *   3. docs too short to sign (< 3 tokens — no shingles) always survive
  *      and are never indexed (no near-dup evidence exists for them).
  *
  * Retry semantics: the gate records the last applied batchId
  * (`indexDir/_ingest_batch`, [[BatchMarker]]) and no-ops a replayed
  * batch, so foreachBatch's at-least-once redelivery cannot re-append
  * survivors to `outDir` or the index. A crash BETWEEN the appends and
  * the marker write replays exactly that batch: the index side self-heals
  * (replayed docs drop as dups of their own indexed copies) but `outDir`
  * would duplicate — a production deployment bounds that last window by
  * routing output through the native store's idempotent epoch sink
  * (`sources.NatsScanWrite`) exactly as the streaming tests do. The dedup
  * DECISION itself is deterministic and replay-stable either way.
  */
object StreamingDedup {

  /** `bucketed = true` keeps the index as [[DedupIndex]]'s band-key-
    * BUCKETED tables instead of plain parquet: the per-batch candidate
    * join consumes the bucket layout (index side exchange-free) and the
    * index survives session restarts via catalog DDL. Requires a numeric
    * id column (the index stores LONG ids); the plain-parquet mode stays
    * fully type-generic. */
  /** `compactThreshold` > 0 auto-compacts the bucketed index once any
    * bucket accretes more than that many band files (one dir listing per
    * batch; compaction itself is [[DedupIndex.compact]] — content-neutral,
    * so the dedup decision stream is unaffected). 0 disables; ignored in
    * plain-parquet mode.
    *
    * `deferMaintenance` decouples that compaction from the micro-batch:
    * instead of running the rewrite INSIDE the trigger (a compaction
    * pause rides the trigger interval — at 100 TB an index rewrite can
    * dwarf the batch), the gate only SIGNALS compaction-due
    * ([[DedupIndex.signalMaintenanceDue]], one idempotent flag file) and
    * batch latency stays O(batch). An out-of-band maintainer polls
    * [[DedupIndex.maintenanceDue]] and runs [[DedupIndex.compact]] — the
    * maintenance APIs are session-independent and commit-lock-guarded, so
    * a maintainer in another session is safe against the gate's appends
    * (the append intent/marker protocol makes the rewrite abort rather
    * than drop in-flight batch rows); a successful flip clears the flag.
    * See docs/DEPLOYMENT.md for the recipe. Default false: inline
    * compaction is self-contained and right for moderate indexes. */
  final case class Config(indexDir: String, outDir: String,
                          idCol: String = "doc_id", textCol: String = "text",
                          numHashes: Int = 16, bands: Int = 4,
                          minEst: Double = 0.5,
                          bucketed: Boolean = false, buckets: Int = 8,
                          compactThreshold: Int = 0,
                          deferMaintenance: Boolean = false)

  private def estJaccard(numHashes: Int) =
    expr("CAST(size(filter(zip_with(s1, s2, (x, y) -> x = y), v -> v)) AS DOUBLE)" +
      s" / CAST($numHashes AS DOUBLE)")

  /** the foreachBatch handler: `.writeStream.foreachBatch(
    *   StreamingDedup.ingest(cfg) _)` */
  def ingest(cfg: Config)(batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    if (BatchMarker.alreadyApplied(spark, cfg.indexDir, batchId)) return
    requireLayoutMatches(spark, cfg)
    // phase labels (optimization-guide §1.5) so the UI/probes can attribute
    // the gate's many small jobs; thread-local, cleared at the end
    def label(s: String): Unit =
      spark.sparkContext.setJobDescription(s"dedup gate b$batchId: $s")
    val b = batch.persist()
    try {
      val sig = Dedup.minhashSignatures(b, cfg.idCol, cfg.textCol,
        cfg.numHashes).persist()
      val bandsNew = Dedup.minhashBands(sig, cfg.idCol, cfg.numHashes,
        cfg.bands)
        .select(col(cfg.idCol).as("new_id"), col("band"), col("band_key"))

      // 1. vs the accepted corpus: candidate ids via the band join into the
      // index, verified on stored signatures (narrow keys shuffle; the wide
      // sig arrays join back only for candidates)
      // empty frame's schema derives from the batch itself (Config allows
      // any idCol type; a typed literal here would break the unionByName
      // with dropInBatch on the first batch of a non-bigint id column)
      def verifyCandidates(cand: DataFrame, sIdx: DataFrame): DataFrame =
        cand.distinct()
          .join(sig.select(col(cfg.idCol).as("new_id"),
            col("sig").as("s1")), "new_id")
          .join(sIdx.select(col("doc_id").as("index_id"),
            col("sig").as("s2")), "index_id")
          .filter(estJaccard(cfg.numHashes) >= cfg.minEst)
          .select("new_id").distinct()
      val dropVsIndex =
        if (cfg.bucketed && DedupIndex.exists(spark, cfg.indexDir)) {
          // bucketed tables: the candidate join consumes the index's hash
          // layout — only the (small) batch side of the join shuffles
          val spec = DedupIndex.loadSpec(spark, cfg.indexDir)
          require(spec.numHashes == cfg.numHashes && spec.bands == cfg.bands,
            s"dedup index at ${cfg.indexDir} was built with numHashes=" +
              s"${spec.numHashes} bands=${spec.bands}; Config has numHashes=" +
              s"${cfg.numHashes} bands=${cfg.bands} — probing with a " +
              "mismatched hash config silently accepts near-duplicates")
          val bIdx = DedupIndex.bandsRelation(spark, cfg.indexDir)
          verifyCandidates(
            bandsNew
              .select(DedupIndex.bk(col("band"), col("band_key")).as("bk"),
                col("new_id"))
              .join(bIdx, "bk")
              .select(col("new_id"), col("doc_id").as("index_id")),
            DedupIndex.sigsRelation(spark, cfg.indexDir))
        } else if (!cfg.bucketed && indexExists(spark, cfg)) {
          val bIdx = spark.read.parquet(s"${cfg.indexDir}/bands")
          verifyCandidates(
            bandsNew.join(bIdx, Seq("band", "band_key"))
              .select(col("new_id"), col("doc_id").as("index_id")),
            spark.read.parquet(s"${cfg.indexDir}/sigs"))
        } else b.select(col(cfg.idCol).as("new_id")).limit(0)

      // 2. within the batch: LSH pairs → components → keep the min-id
      // canonical of each near-dup cluster. Pairs derive from the SAME
      // cached signatures persisted into the index below — the MD5/shingle
      // map-side work (the batch's dominant cost) runs once, not twice.
      //
      // The two drop subtrees are INDEPENDENT (vs-index probe; in-batch
      // components) but the components run EAGERLY (checkpoint + driver
      // union-find) while the probe used to wait its turn inside the
      // survivors write — overlap them (guide §2.6): the probe's drop set
      // is checkpointed on a sibling thread while the CC rounds run, so the
      // batch's two expensive subtrees share the executors instead of
      // queueing. `dropVsIndexC` is ids-only, so the checkpoint is tiny;
      // `survivors` is still consumed twice (outDir write + index-extend
      // join), which is why the union stays cached too.
      //
      // A checkpoint, not a cache: a cached frame whose plan reads the
      // index is re-planned by CacheManager.recacheByPath after each of the
      // index extend's two appends, which DedupIndex runs on two threads.
      // Two such re-plans of one frame race on the tables' shared
      // InMemoryFileIndex (not thread-safe: a planner reads a null
      // partitionSpec while the other thread refreshes it — the
      // intermittent "phase optimization failed" NPE). The checkpoint's
      // plan reads no index path, so the appends re-plan nothing.
      var dropVsIndexC: DataFrame = null
      var dropInBatch: DataFrame = null
      label("index probe ∥ in-batch LSH components")
      graft.operators.ParallelOps.inParallel(
        { dropVsIndexC = graft.Caches.checkpointed(dropVsIndex) },
        {
          val batchPairs = Dedup.minhashLshPairsFromSignatures(sig,
            cfg.idCol, cfg.numHashes, cfg.bands, cfg.minEst)
          dropInBatch = Dedup.connectedComponents(batchPairs, "id1", "id2")
            .filter(col("node") =!= col("lbl"))
            .select(col("node").as("new_id"))
        })
      // NO distinct on the union (round 18, guide §2.4 "a distinct on data
      // whose consumer doesn't need it"): `dropped` feeds exactly one
      // LEFT ANTI join — an existence test — so duplicate ids (a doc
      // dropped both vs-index and in-batch; both sides are already
      // internally distinct) cannot change a single output row, while the
      // distinct cost a full Exchange + two HashAggregates per micro-batch
      // at every scale.
      val dropped = graft.Caches.tracked(
        dropVsIndexC.unionByName(dropInBatch))
      val survivors = b.join(dropped,
        b(cfg.idCol) === dropped("new_id"), "left_anti")

      label("survivors write (index probe + anti-join)")
      survivors.write.mode("append").parquet(cfg.outDir)
      // survivors extend the index (bands + signatures); short docs have
      // no signature row and therefore never enter the index.
      // sig's ids are a subset of the batch's ids, so the survivors'
      // signatures are exactly sig MINUS the (cached, ids-only) drop set —
      // one anti-join, instead of re-running the batch anti-join and
      // equi-joining sig against it (guide §1.2: both index-extend writes
      // consume this subtree, so the saved join is paid twice per batch).
      // Under a pathological batch with REPEATED ids the old equi-join
      // also multiplied sig rows (n² copies per id); the anti-join keeps
      // the index linear in the batch.
      val survSig = sig.join(dropped,
        sig(cfg.idCol) === dropped("new_id"), "left_anti")
      label("index extend (bands+sigs)")
      if (cfg.bucketed) {
        if (!DedupIndex.exists(spark, cfg.indexDir))
          DedupIndex.buildFromSignatures(survSig, cfg.idCol,
            DedupIndex.Spec(cfg.numHashes, cfg.bands, cfg.buckets),
            cfg.indexDir)
        else DedupIndex.appendFromSignatures(survSig, cfg.idCol, cfg.indexDir,
          cfg.numHashes, cfg.bands)
      } else {
        Dedup.minhashBands(survSig, cfg.idCol, cfg.numHashes, cfg.bands)
          .select(col("band"), col("band_key"), col(cfg.idCol).as("doc_id"))
          .write.mode("append").parquet(s"${cfg.indexDir}/bands")
        survSig.select(col(cfg.idCol).as("doc_id"), col("sig"))
          .write.mode("append").parquet(s"${cfg.indexDir}/sigs")
      }
      sig.unpersist()
      // this batch's drop set is spent: release it now (no harness drains
      // the registry between a stream's micro-batches)
      dropped.unpersist()
      graft.Caches.free(dropVsIndexC)
      label("batch marker + auto-compact")
      BatchMarker.record(spark, cfg.indexDir, batchId)
      // auto-compaction AFTER the marker: compaction is content-neutral
      // and restartable, so a crash mid-compact can never re-append the
      // batch — the orphan generation dir is overwritten on the next
      // trigger
      if (cfg.bucketed && cfg.compactThreshold > 0 &&
          DedupIndex.maxFilesPerBucket(spark, cfg.indexDir) >
            cfg.compactThreshold) {
        if (cfg.deferMaintenance)
          DedupIndex.signalMaintenanceDue(spark, cfg.indexDir)
        else DedupIndex.compact(spark, cfg.indexDir)
      }
    } finally {
      b.unpersist()
      spark.sparkContext.setJobDescription(null)
    }
  }

  private def indexExists(spark: SparkSession, cfg: Config): Boolean = {
    val p = new org.apache.hadoop.fs.Path(s"${cfg.indexDir}/bands")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && fs.listStatus(p).exists(_.getPath.getName.endsWith(".parquet"))
  }

  /** Refuse to run when `indexDir` holds an index of the OTHER mode's
    * layout. bucketed=true over a plain-parquet index (band files but no
    * `meta/`) would otherwise silently ignore the whole accepted corpus —
    * near-dups pass the gate — and then `buildFromSignatures` OVERWRITES
    * the plain files; the reverse switch would only fail deep inside the
    * candidate join with a schema error. */
  private def requireLayoutMatches(spark: SparkSession, cfg: Config): Unit = {
    val bucketedIdx = DedupIndex.exists(spark, cfg.indexDir)
    val plainIdx = !bucketedIdx && indexExists(spark, cfg)
    if (cfg.bucketed && plainIdx)
      throw new IllegalStateException(
        s"${cfg.indexDir} holds a plain-parquet dedup index but Config has " +
          "bucketed=true — running would ignore (then destroy) the " +
          "accepted corpus; restart with bucketed=false or point at a " +
          "fresh indexDir")
    if (!cfg.bucketed && bucketedIdx)
      throw new IllegalStateException(
        s"${cfg.indexDir} holds a BUCKETED dedup index (meta/ present) but " +
          "Config has bucketed=false; restart with bucketed=true or point " +
          "at a fresh indexDir")
  }
}
