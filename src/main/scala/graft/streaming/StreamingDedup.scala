package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
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

  /** the gate's signature column on the cached batch (NULL for a doc too
    * short to sign) */
  private val SigCol = "__gate_sig"

  /** The accepted corpus as the probe reads it: band rows `(bk, index_id)`
    * under the one band-key encoding ([[DedupIndex.bk]]) and signatures
    * `(index_id, s2)`. `resolved` is the bucketed index, resolved once per
    * gate call; None in plain-parquet mode. */
  private final case class Accepted(bands: DataFrame, sigs: DataFrame,
                                    resolved: Option[DedupIndex.Resolved])

  /** the foreachBatch handler: `.writeStream.foreachBatch(
    *   StreamingDedup.ingest(cfg) _)`
    *
    * One batch against an existing index runs these Spark jobs (about ten;
    * `StreamingDedupSpec` pins ≤ 13):
    *   1. sign — the batch rows and their signatures, cached by one job,
    *      so every later plan reads them at a size known at plan time;
    *   2. in parallel:
    *      - vs-index probe (3): the batch band rows broadcast into the
    *        index band scan, the candidates broadcast into the index
    *        signature scan and verified there, the drop ids collected;
    *      - in-batch components (2–3): the band self-join verifies each
    *        colliding pair in the join, the distinct pairs come back in one
    *        bounded collect and a driver union-find labels them;
    *   3. survivors write (1): the drop set is a driver-side id set
    *      applied as a plan-time IN-set filter, which needs no job;
    *   4. index extend (2): the band and signature appends, in parallel.
    * The index is resolved once before the probe is planned (one meta
    * read, one catalog registration); the append re-reads the generation
    * around its write and writes into the generation it read, and the
    * marker and compaction check read no data. */
  def ingest(cfg: Config)(batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    if (BatchMarker.alreadyApplied(spark, cfg.indexDir, batchId)) return
    val accepted = acceptedCorpus(spark, cfg)
    // phase labels so the UI and traces can attribute the gate's jobs;
    // thread-local, cleared at the end
    def label(s: String): Unit =
      spark.sparkContext.setJobDescription(s"dedup gate b$batchId: $s")
    val signed = Dedup.withMinhashSignature(batch, cfg.textCol,
      cfg.numHashes, SigCol).persist()
    try {
      label("sign")
      // one job, no shuffle: reading a partition stores its cache block
      // (count() would add an aggregate exchange and a second job)
      signed.foreachPartition((_: Iterator[Row]) => ())
      val sig = signed.where(col(SigCol).isNotNull)
        .select(col(cfg.idCol), col(SigCol).as("sig"))

      // 1. vs the accepted corpus and 2. within the batch — independent,
      // so they overlap (ParallelOps). Both return their drop ids to the
      // driver: each set is at most the batch's ids (the probe's once per
      // verified band collision, deduplicated on the driver instead of by
      // a shuffle).
      //
      // The probe verifies candidates on the stored signatures. The batch
      // band rows (small, exact size) broadcast into the index band scan;
      // the candidates carry the batch signature and are broadcast in turn
      // into the index signature scan, so no index relation is ever
      // broadcast or shuffled, in either index mode.
      var dropVsIndex: Array[Row] = Array.empty
      var dropInBatch: Array[Row] = Array.empty
      label("index probe ∥ in-batch LSH components")
      graft.operators.ParallelOps.inParallel(
        accepted.foreach { acc =>
          val batchBands = Dedup.minhashBandsWithSig(sig, cfg.idCol,
              cfg.numHashes, cfg.bands)
            .select(DedupIndex.bk(col("band"), col("band_key")).as("bk"),
              col(cfg.idCol).as("new_id"), col("sig").as("s1"))
          val cand = acc.bands.join(broadcast(batchBands), "bk")
            .select("index_id", "new_id", "s1")
          dropVsIndex = acc.sigs
            .join(broadcast(cand), acc.sigs("index_id") === cand("index_id") &&
              Dedup.estJaccard(cand("s1"), acc.sigs("s2"), cfg.numHashes) >=
                cfg.minEst)
            .select(cand("new_id")).collect()
        },
        {
          // within the batch: LSH pairs → components → keep the min-id
          // canonical of each near-dup cluster
          dropInBatch = Dedup.connectedComponents(inBatchPairs(sig, cfg),
              "id1", "id2")
            .filter(col("node") =!= col("lbl"))
            .select(col("node")).collect()
        })
      // the drop set, decided once on the driver and consumed as a
      // plan-time constant: an IN-set predicate ships with each task, so
      // neither the survivors write nor the index extend joins, shuffles
      // the batch's text, or runs a job to broadcast it (a broadcast
      // LocalRelation still runs one collect job per consuming plan).
      // Null ids never match, as in an anti-join.
      val dropIds = (dropVsIndex ++ dropInBatch).map(_.get(0)).distinct
      def kept(df: DataFrame): DataFrame = df.where(
        col(cfg.idCol).isNull || !col(cfg.idCol).isInCollection(dropIds))
      label("survivors write")
      kept(signed).drop(SigCol).write.mode("append").parquet(cfg.outDir)
      // survivors extend the index (bands + signatures); short docs have
      // no signature row and therefore never enter the index. One frame
      // feeds both appends.
      val survSig = kept(sig)
      label("index extend (bands+sigs)")
      if (cfg.bucketed) accepted.flatMap(_.resolved) match {
        case Some(ix) =>
          DedupIndex.appendImpl(survSig, cfg.idCol, cfg.indexDir, ix.spec)
        case None =>
          DedupIndex.buildFromSignatures(survSig, cfg.idCol,
            DedupIndex.Spec(cfg.numHashes, cfg.bands, cfg.buckets),
            cfg.indexDir)
      } else {
        Dedup.minhashBands(survSig, cfg.idCol, cfg.numHashes, cfg.bands)
          .select(col("band"), col("band_key"), col(cfg.idCol).as("doc_id"))
          .write.mode("append").parquet(s"${cfg.indexDir}/bands")
        survSig.select(col(cfg.idCol).as("doc_id"), col("sig"))
          .write.mode("append").parquet(s"${cfg.indexDir}/sigs")
      }
      label("batch marker + auto-compact")
      BatchMarker.record(spark, cfg.indexDir, batchId)
      // auto-compaction AFTER the marker: compaction is content-neutral
      // and restartable, so a crash mid-compact can never re-append the
      // batch — the orphan generation dir is overwritten on the next
      // trigger
      if (cfg.bucketed && cfg.compactThreshold > 0) {
        if (DedupIndex.maxFilesPerBucket(spark, cfg.indexDir) >
            cfg.compactThreshold) {
          if (cfg.deferMaintenance)
            DedupIndex.signalMaintenanceDue(spark, cfg.indexDir)
          else DedupIndex.compact(spark, cfg.indexDir)
        }
      }
    } finally {
      signed.unpersist()
      spark.sparkContext.setJobDescription(null)
    }
  }

  /** The batch's verified LSH pairs (id1 < id2): the pairs of
    * [[Dedup.minhashLshPairsFromSignatures]], but each band row carries its
    * signature through the band self-join and the pair is verified in the
    * join, so the batch's signature table is read once instead of joined
    * back twice. Right for a micro-batch; the batch operator keeps the wide
    * signatures out of its candidate shuffle, which matters at corpus
    * scale. */
  private def inBatchPairs(sig: DataFrame, cfg: Config): DataFrame = {
    val b = Dedup.minhashBandsWithSig(sig, cfg.idCol, cfg.numHashes, cfg.bands)
    val l = b.select(col(cfg.idCol).as("id1"), col("band"), col("band_key"),
      col("sig").as("s1"))
    val r = b.select(col(cfg.idCol).as("id2"), col("band").as("band2"),
      col("band_key").as("band_key2"), col("sig").as("s2"))
    l.join(r, col("band") === col("band2") &&
        col("band_key") === col("band_key2") && col("id1") < col("id2") &&
        Dedup.estJaccard(col("s1"), col("s2"), cfg.numHashes) >= cfg.minEst)
      .select("id1", "id2").distinct()
  }

  private def plainIndexExists(spark: SparkSession, cfg: Config): Boolean = {
    val p = new org.apache.hadoop.fs.Path(s"${cfg.indexDir}/bands")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && fs.listStatus(p).exists(_.getPath.getName.endsWith(".parquet"))
  }

  /** The accepted corpus in `cfg`'s index mode, or None before the first
    * batch. Refuses to run when `indexDir` holds an index of the OTHER
    * mode's layout: bucketed=true over a plain-parquet index (band files
    * but no `meta`) would otherwise silently ignore the whole accepted
    * corpus — near-dups pass the gate — and then `buildFromSignatures`
    * OVERWRITES the plain files; the reverse switch would only fail deep
    * inside the candidate join with a schema error. */
  private def acceptedCorpus(spark: SparkSession,
                             cfg: Config): Option[Accepted] =
    if (cfg.bucketed) {
      val resolved = DedupIndex.resolve(spark, cfg.indexDir)
      if (resolved.isEmpty && plainIndexExists(spark, cfg))
        throw new IllegalStateException(
          s"${cfg.indexDir} holds a plain-parquet dedup index but Config has " +
            "bucketed=true — running would ignore (then destroy) the " +
            "accepted corpus; restart with bucketed=false or point at a " +
            "fresh indexDir")
      resolved.map { ix =>
        require(ix.spec.numHashes == cfg.numHashes && ix.spec.bands == cfg.bands,
          s"dedup index at ${cfg.indexDir} was built with numHashes=" +
            s"${ix.spec.numHashes} bands=${ix.spec.bands}; Config has " +
            s"numHashes=${cfg.numHashes} bands=${cfg.bands} — probing with a " +
            "mismatched hash config silently accepts near-duplicates")
        Accepted(
          spark.table(ix.bandsTable)
            .select(col("bk"), col("doc_id").as("index_id")),
          spark.table(ix.sigsTable)
            .select(col("doc_id").as("index_id"), col("sig").as("s2")),
          Some(ix))
      }
    } else {
      if (DedupIndex.exists(spark, cfg.indexDir))
        throw new IllegalStateException(
          s"${cfg.indexDir} holds a BUCKETED dedup index (meta/ present) but " +
            "Config has bucketed=false; restart with bucketed=true or point " +
            "at a fresh indexDir")
      if (!plainIndexExists(spark, cfg)) None
      else Some(Accepted(
        spark.read.parquet(s"${cfg.indexDir}/bands")
          .select(DedupIndex.bk(col("band"), col("band_key")).as("bk"),
            col("doc_id").as("index_id")),
        spark.read.parquet(s"${cfg.indexDir}/sigs")
          .select(col("doc_id").as("index_id"), col("sig").as("s2")),
        None))
    }
}
