package graft

/** Regenerates docs/PLANS.md: the formatted physical plans of showcase
  * queries, as evidence that the designed plan shapes (pushdown, broadcast,
  * top-k, map-side assignment) are what actually executes.
  * Run from the checkout root: sbt "runMain graft.PlanDump" (it writes
  * docs/PLANS.md under the working directory). */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = Measure.session()

    val showcase = Seq(
      "v2_seq_range" ->
        "V2 scan: pushed seq bounds visible in the scan node (row-group pruning + page skipping behind it); the scan decodes COLUMNAR (ColumnarToRow above the BatchScan) and the bounds re-check runs residually in codegen",
      "v2_stats_agg" ->
        "complete aggregate pushdown: bare count/min/max answered from parquet footers — the STATS-ONLY scan emits one precomputed row, no data pages read",
      "v2_catalog" ->
        "catalog-routed scan: spark.table(<cat>.events) resolves through the NatsCatalog to the same vectorized BatchScan as format(\"nats_scan\")",
      "nats_avro_extract" ->
        "Avro extraction: bind-time .avsc schema, per-row wire decode + typed dotted-path projection — pure map-side expression work over the scan",
      "transport_consumer_scan" ->
        "consumer-mode transport scan: ordered-consumer cursor per slice partition (server-side position), result-identical to ranged fetch",
      "q_join_broadcast" ->
        "stream × dimension enrichment: dimension broadcast, no fact-side shuffle",
      "q_topk" ->
        "top-k compiles to TakeOrderedAndProject, not a global sort",
      "ann_ivf_kmeans" ->
        "k-means IVF: assignment is a map-side argmax over literal seeds (no N×K shuffle), probe joins only the chosen cluster",
      "q_range_join" ->
        "binned range join: hash equi-join on the bin id, no nested loop",
      "q_agg_pricing" ->
        "decimal-exact multi-aggregate: partial+final hash aggregation, one scan",
      "q_window_lag" ->
        "scale-safe global-order LAG: bucket-partitioned window over the data; the only unpartitioned window runs on the per-bucket boundary aggregate",
      "q_window_rownum" ->
        "global top-100 + rank: TakeOrderedAndProject, then a window over just the 100 survivors",
      "transport_seq_range" ->
        "transport mode: pushed seq bounds become slice partitions over the fake JetStream (one cursor per task)",
      "ann_ivf_multiprobe" ->
        "multi-probe IVF: broadcast queries × centroids pick 2 probe partitions; candidate join bounded to those partitions",
      "pipe_decontaminate" ->
        "decontamination: eval shingle hashes broadcast; train side map-side explode + broadcast semi-join, no pair space",
      "q_exists" ->
        "correlated EXISTS / NOT EXISTS: Catalyst rewrites to semi + anti hash joins on the correlation key — no per-row subquery probes",
      "q_qualify_topn" ->
        "rank top-n per group: partial+final WindowGroupLimit — each map task forwards only its own top-3 per segment before the shuffle",
      "pipe_ngram_topk" ->
        "global bigram top-50: map-side partial counts absorb the Zipf head; final top-k is TakeOrderedAndProject",
      "pipe_token_pack" ->
        "token packing: distributed prefix sum — per-bucket cumsum windows partitioned by bucket; only the one-row-per-bucket boundary aggregate crosses unpartitioned",
      "ann_pq" ->
        "product quantization: encode+reconstruct is a map-side argmin over literal codebook entries (no shuffle); ADC search broadcasts the query set",
      "dedup_keep_one" ->
        "keep-one canonical dedup: LEFT ANTI join on the narrow doc_id key, output columns only in the shuffle; no broadcast hint — at 100 TB the drop set can be a large corpus fraction, and AQE picks broadcast itself when it is small",
      "q_lateral" ->
        "correlated LATERAL top-2-per-key: Catalyst decorrelates the ranked subquery into one partitioned window + join — 25 correlated subqueries become a single pass",
      "dedup_span_scrub" ->
        "span-removal action: explode-positions span hashing (codegen'd), dup-set hash join, doc-partitioned trailing-window coverage, one per-doc reassembly aggregate — no global window anywhere",
      "dedup_incremental" ->
        "incremental ingestion dedup: the NEW batch band-joins INTO the index relation (never a corpus self-join); signatures join back only for surviving candidate pairs",
      "pipe_quality_classifier" ->
        "model-based quality filter: literal weights folded into one map-side projection — score+threshold is pure codegen'd expression work, zero shuffles before the output sort",
      "pipe_corpus_diff" ->
        "snapshot diff: md5 computed map-side, the full-outer join shuffles narrow (doc_id, hash) rows; classification is a map-side CASE over the join output",
      "text_perplexity" ->
        "unigram-LM NLL: the Zipf skew-split vocabulary join — head terms broadcast (BroadcastHashJoin), rare tail shuffled, one cached doc-term base feeding both branches; per-doc sums are DECIMAL-exact",
      "text_bm25" ->
        "BM25 retrieval: term filter map-side (only matching rows shuffle), df + corpus stats broadcast, top-20 via TakeOrderedAndProject",
      "dedup_bloom" ->
        "Bloom-prefiltered exact dedup: might_contain probe over a plan-time bitmap literal splits the batch map-side; only the maybe-set reaches the LEFT ANTI verify join",
      "ann_hard_negatives" ->
        "hard-negative mining: label centroids + probes broadcast; candidate join bounded to 2 other-label clusters per query, rank windows partitioned by query",
      "embed_covariance" ->
        "embedding covariance: chained generators expand (i ≤ j) products map-side; ONE 2080-group hash aggregate with partial sums — shuffle size independent of corpus size; dim sums join back broadcast",
      "embed_pca_power" ->
        "PCA projection: the power-iterated eigenvector is a plan literal — cosine scoring is map-side codegen'd fold work; top-10 via TakeOrderedAndProject",
      "text_kneser_ney" ->
        "Kneser-Ney scoring: bigram stats shuffle on near-unique (w1,w2) keys; the O(vocabulary) ctx/continuation lookups are themselves cached (each is consumed ~5x by the split branches + the eager head-threshold aggregate) and ride the Zipf skew-split (head broadcast, rare tail shuffled) over ONE cached bigram base; per-doc log-sums DECIMAL-exact",
      "q_skyline" ->
        "skyline (Pareto frontier): exclusive global prefix-min via the bucketed two-pass — dominance resolved without the quadratic self-join the oracle uses and without a single-task global sort",
      "pipe_url_canonicalize" ->
        "URL canonicalization + dedup: parse/normalize/param-sort is pure map-side string+array expression work; the only shuffle is the per-host rollup",
      "dedup_index_compact" ->
        "probe after index compaction: the rewritten one-file-per-bucket tables still carry the bucket layout, so the candidate join stays exchange-free on the index side — compaction changes files, never the plan shape")

    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans of showcase queries\n\n")
    sb.append("Generated by `graft.PlanDump` at sf0.001 (plan shapes are\n")
    sb.append("scale-independent). `PlanAuditSpec` asserts the load-bearing\n")
    sb.append("properties of these plans on every test run.\n")
    showcase.foreach { case (name, why) =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      sb.append(s"\n## $name\n\n$why\n\n```\n")
      sb.append(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode).trim)
      sb.append("\n```\n")
    }
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("docs/PLANS.md"), sb.toString)
    println(s"[plandump] wrote docs/PLANS.md (${showcase.size} plans)")
    spark.stop()
  }
}
