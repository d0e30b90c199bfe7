package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Similarity
import graft.operators.Bpe

/** Retrieval and statistical-LM scoring over the document corpus: BM25
  * keyword search, per-document TF-IDF keywords, unigram-LM perplexity
  * scoring, DSIR importance resampling (Xie et al. 2023), and full
  * multi-iteration Lloyd k-means over the embedding table — the
  * quality/retrieval side of a training-data pipeline that the dedup/ANN
  * batches don't cover.
  *
  * Scale notes (100 TB thinking):
  *   - every per-document score is an exact-integer ratio or a per-row pure
  *     double function (ln of integer ratios) — no accumulation-order
  *     dependence; where a document aggregates FLOAT terms (perplexity,
  *     DSIR, k-means coherence) the per-term value is rounded to a fixed
  *     scale and summed as DECIMAL, so the sum is bit-identical at any
  *     parallelism and in any engine;
  *   - corpus-level statistics (document count, avgdl, document frequency
  *     of the query terms, the 64-bucket feature distributions) are tiny by
  *     construction and travel as broadcasts — the corpus-side work stays
  *     map-side + one partial-agg shuffle;
  *   - the unigram-LM join (doc-term rows ⋈ vocabulary) is the canonical
  *     Zipf-skew join: the head (high-count terms) is joined via broadcast,
  *     the rare-word tail via shuffle where keys are near-unique — neither
  *     side ever concentrates a stopword's rows on one reducer;
  *   - k-means iterations collect only K×dim rounded centroid values per
  *     round (the bounded-model pattern MLlib uses); assignment stays a
  *     map-side argmax over K literal vectors — no N×K shuffle, ever.
  */
object RetrievalQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** (doc_id, w, c): per-document term counts — the shared base relation of
    * the retrieval family. ONE map-side fold per doc (TokenCountsFold →
    * MAP<term, count>) exploded to rows: no (doc, word) shuffle at all,
    * and the explode emits one row per DISTINCT term per doc instead of
    * one per token. Identical row set to the explode + groupBy it
    * replaced (TextFoldEquivalenceSpec). */
  private def wordCounts(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        explode(graft.functions.TextFunctions
          .tokenCounts(split(col("text"), " "))).as(Seq("w", "c")))

  /** BM25 parameters (Robertson k1/b defaults) and the fixed query. */
  private val bm25K1 = 1.2
  private val bm25B = 0.75
  private val bm25Terms = Seq("stream", "window", "hash")

  /** (doc_id, n_tok, nll): per-document mean negative log-likelihood under
    * the corpus's Laplace-smoothed unigram model — shared by
    * `text_perplexity` and `pipe_ccnet_buckets`. Log-probs are rounded to 8
    * decimals and summed as DECIMAL (order-invariant); the doc-term ⋈
    * vocabulary join is the Zipf skew-split (head broadcast, tail
    * shuffled) over one cached doc-term base. */
  private def nllFrame(s: SparkSession, dir: String): DataFrame = {
    val wc = graft.Caches.tracked(wordCounts(s, dir))
    val uni = wc.groupBy("w").agg(sum("c").as("cw"))
    val tot = uni.agg(sum(col("cw")).as("t_tok"), count(lit(1)).as("v_sz"))
    val lp = uni.crossJoin(broadcast(tot)).select(col("w"), col("cw"),
      round(log((col("cw") + 1).cast("double") /
        (col("t_tok") + col("v_sz")).cast("double")), 8)
        .cast("decimal(12,8)").as("lp"))
    val joined = zipfSplitJoin(wc,
      lp.select(col("w"), col("cw"), col("lp")), Seq("w"), "cw")
      .drop("cw")
    joined.groupBy("doc_id")
      .agg(sum(col("c") * col("lp")).as("slp"), sum(col("c")).as("n_tok"))
      .select(col("doc_id"), col("n_tok"),
        round(-col("slp").cast("double") / col("n_tok"), 6).as("nll"))
  }

  /** Zipf SKEW-SPLIT join of a corpus-scale relation against a
    * vocabulary-keyed lookup table — the ONE sanctioned way the retrieval
    * family joins anything O(vocabulary). The head (`countCol` >= headMin:
    * the Zipf head, a bounded set of high-mass words) joins as a broadcast
    * hash join; the unbounded rare-word tail joins shuffled. Rationale at
    * 100 TB: Heaps' law puts a web-corpus vocabulary in the billions, so a
    * forced `broadcast()` of the WHOLE table OOMs the driver — and the
    * hint FORBIDS AQE from demoting it. Splitting keeps exactly the
    * property the broadcast bought (the stopword-frequency keys that would
    * skew a shuffled join stay map-side) while the tail — most of the
    * distinct keys, a sliver of the token mass — takes the ordinary
    * scalable shuffle. head ∪ tail partitions the lookup table, so the
    * union is row-identical to the single join it replaces.
    *
    * `joinType` "left" requires `countCol` non-null in `vocab` (always
    * true for count/aggregate columns): after the broadcast-left head
    * join, a null `countCol` identifies "no head match" exactly, and only
    * those rows continue to the shuffled tail left join.
    *
    * CALLER RULE — cache the input of a LEFT split: both branches scan
    * `big`, so an expensive uncached input is computed twice per split
    * (4× when splits nest — measured text_kneser_ney 1.7 → 9.6 s at the
    * 10× bench before its input was tracked-cached). Inner splits scan
    * `big` twice too; pre-aggregate or cache unless it is a bare scan. */
  private def zipfSplitJoin(big: DataFrame, vocab: DataFrame,
                            keys: Seq[String], countCol: String,
                            joinType: String = "inner",
                            headCap: Long = 100000L): DataFrame = {
    // ADAPTIVE head threshold, not a fixed absolute count: with a fixed
    // cutoff the head itself grows with the corpus (at 100 TB, billions of
    // terms exceed any fixed count) and the broadcast re-becomes the
    // driver bomb the split exists to avoid. Thresholding at
    // total/headCap bounds the head by MARKOV: at most headCap terms can
    // each hold ≥ 1/headCap of the total mass, whatever the corpus size
    // or distribution. The floor of 1000 keeps genuinely rare keys out of
    // the broadcast on small corpora (a count-1000 key cannot hot-spot a
    // reducer). The split point never affects results — head ∪ tail
    // partitions the lookup table — so the one tiny aggregate job this
    // costs buys a provably bounded broadcast at every scale.
    val totRow = vocab.agg(sum(col(countCol))).head
    val total = if (totRow.isNullAt(0)) 0L else totRow.getLong(0)
    val headMin = math.max(1000L, total / headCap + 1L)
    val head = vocab.filter(col(countCol) >= headMin)
    val tail = vocab.filter(col(countCol) < headMin)
    joinType match {
      case "inner" =>
        big.join(broadcast(head), keys)
          .unionByName(big.join(tail, keys))
      case "left" =>
        val valueCols = vocab.columns.filterNot(keys.contains).toSeq
        val h = big.join(broadcast(head), keys, "left")
        val matched = h.filter(col(countCol).isNotNull)
        val rest = h.filter(col(countCol).isNull)
          .drop(valueCols: _*)
          .join(tail, keys, "left")
        matched.unionByName(rest)
      case other =>
        throw new IllegalArgumentException(
          s"zipfSplitJoin supports inner/left, got '$other'")
    }
  }

  /** (pos1, pos2, cov): the 64×64 embedding covariance upper triangle —
    * shared by `embed_covariance` and `embed_pca_power`.
    * cov = E[xy] − E[x]E[y] from exact sums of rounded products in BIGINT
    * units of 1e-8 (order-invariant; at corpus sizes where n·1e10 units
    * would overflow 2^63, shard the sum or fall back to DECIMAL). The
    * moments come from [[graft.functions.GramMoments]] — one typed
    * aggregate pass with a fixed long[2144] buffer per task, replacing
    * the earlier pair-explode (2080 generated rows per embedding) + hash
    * agg; bit-identical result, measured ~3× on the covariance family. */
  private def covCells(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.GramMoments
    // ONE pass: the typed GramMoments aggregate folds each embedding's 64
    // dim sums + 2080 pair-product sums (BIGINT units of 1e-8, identical
    // rounding — bit-identical to the pair-explode + 2080-group hash agg
    // this replaces) into a single long[2144] buffer per task; the shuffle
    // carries one ~17 KB buffer per partition instead of 2080 generated
    // rows per embedding. n rides along as count(lit(1)) in the same agg.
    val g1 = t(s, dir, "embeddings").select(col("embedding"))
      .agg(count(lit(1)).as("n"), GramMoments.moments(col("embedding")).as("g"))
    // reshape the single moments row into the 2080 (i ≤ j) cells — a
    // 1-row double explode, then element_at lookups into the buffer
    g1.filter(col("n") > 0)
      .select(col("n"), col("g"), explode(expr("sequence(0, 63)")).as("i"))
      .select(col("n"), col("g"), col("i"),
        explode(expr("sequence(i, 63)")).as("j"))
      .select((col("i") + 1).cast("long").as("pos1"),
        (col("j") + 1).cast("long").as("pos2"),
        // + 0.0 normalizes the sign of zero: DuckDB's round keeps −0.0
        // for a tiny negative cov, Spark's BigDecimal round doesn't, and
        // the harness hashes/sorts the rendered strings (rule 6d)
        (round(
          element_at(col("g"), GramMoments.pairIndex(col("i"), col("j"))
            .cast("int")).cast("double") / 1e8 / col("n") -
          (element_at(col("g"), (col("i") + 1).cast("int")).cast("double") /
            1e8 / col("n")) *
          (element_at(col("g"), (col("j") + 1).cast("int")).cast("double") /
            1e8 / col("n")), 6) + lit(0.0)).as("cov"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // BM25 keyword retrieval: top-20 documents for a 3-term query.
    // Only rows matching a query term survive the map-side filter, so the
    // (doc, term) shuffle carries a tiny fraction of the corpus; df and the
    // corpus stats (N, avgdl) are broadcast scalars. The per-document score
    // adds its ≤3 term contributions IN FIXED TERM ORDER via conditional
    // aggregation — a plain SUM over doubles would be accumulation-order
    // dependent and could flip the 6th decimal between engines.
    // avgdl is exact: document lengths are integers and their sum stays
    // far below 2^53, so the double sum is order-invariant.
    "text_bm25" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .select(col("doc_id"), col("toks"),
          size(col("toks")).cast("double").as("dl"))
      val stats = docs.agg(count(lit(1)).cast("double").as("n_docs"),
        avg(col("dl")).as("avgdl"))
      val tf = docs
        .select(col("doc_id"), col("dl"), explode(col("toks")).as("w"))
        .filter(col("w").isInCollection(bm25Terms))
        .groupBy("doc_id", "dl", "w").agg(count(lit(1)).cast("double").as("tf"))
      val dfreq = tf.groupBy("w").agg(count(lit(1)).cast("double").as("df"))
      val scored = tf.join(broadcast(dfreq), "w").crossJoin(broadcast(stats))
        .withColumn("idf",
          log(lit(1.0) + (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)))
        .withColumn("ts",
          col("idf") * col("tf") * lit(bm25K1 + 1.0) /
            (col("tf") + lit(bm25K1) *
              (lit(1.0 - bm25B) + lit(bm25B) * col("dl") / col("avgdl"))))
      def term(i: Int): Column =
        coalesce(max(when(col("w") === bm25Terms(i), col("ts"))), lit(0.0))
      val perDoc = scored.groupBy("doc_id")
        .agg(term(0).as("s0"), term(1).as("s1"), term(2).as("s2"))
        .select(col("doc_id"),
          round(col("s0") + col("s1") + col("s2"), 6).as("bm25"))
      perDoc.orderBy(col("bm25").desc, col("doc_id")).limit(20)
        .orderBy(col("bm25").desc, col("doc_id"))
    }),

    // per-document TF-IDF keywords: the top-3 most characteristic terms of
    // each document. tf and idf are pure integer-ratio doubles (rounded 6
    // BEFORE ranking so the tie-break is identical in both engines); the
    // document-frequency table is O(vocabulary), so it joins via the Zipf
    // skew-split (head broadcast, rare tail shuffled) — never a forced
    // whole-vocabulary broadcast. The rank window partitions by doc_id:
    // no global sort anywhere.
    "text_tfidf" -> ((s, dir) => {
      val wc = graft.Caches.tracked(wordCounts(s, dir))
      val dlen = wc.groupBy("doc_id").agg(sum("c").as("n_words"))
      val dfreq = wc.groupBy("w").agg(count(lit(1)).as("df"))
      val nd = dlen.agg(count(lit(1)).as("n_docs"))
      val w = Window.partitionBy("doc_id")
        .orderBy(col("score").desc, col("w").asc)
      zipfSplitJoin(wc.join(dlen, "doc_id"), dfreq, Seq("w"), "df")
        .crossJoin(broadcast(nd))
        .withColumn("score", round(
          (col("c").cast("double") / col("n_words")) *
            log(col("n_docs").cast("double") / col("df")), 6))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("doc_id"), col("rank"), col("w").as("term"), col("score"))
        .orderBy("doc_id", "rank")
    }),

    // CCNet-style perplexity bucketing (Wenzek et al. 2020): within each
    // language, split the corpus into head/middle/tail terciles of the
    // unigram-LM NLL — the standard quality partition a pretrain mix then
    // samples from. ntile runs in a per-language window (partitioned, never
    // global) over (rounded nll, doc_id) so bucket boundaries are
    // deterministic in both engines.
    "pipe_ccnet_buckets" -> ((s, dir) => {
      val lang = t(s, dir, "documents").select("doc_id", "lang")
      val scored = nllFrame(s, dir).join(lang, "doc_id")
      val w = Window.partitionBy("lang")
        .orderBy(col("nll").asc, col("doc_id").asc)
      scored.withColumn("bucket", ntile(3).over(w))
        .groupBy("lang", "bucket")
        .agg(count(lit(1)).as("n_docs"),
          min("nll").as("min_nll"), max("nll").as("max_nll"))
        .orderBy("lang", "bucket")
    }),

    // unigram-LM perplexity scoring: mean negative log-likelihood of each
    // document under the corpus's own Laplace-smoothed unigram model — the
    // classic cheap fluency/quality signal (the KenLM seam: a real n-gram
    // LM drops into the same join shape).
    //   p(w) = (c(w) + 1) / (T + V);   nll(d) = −Σ_w c_dw · ln p(w) / n_d
    // The ln p values are rounded to 8 decimals and multiplied/summed as
    // DECIMAL — the per-document sum is exact, so parallelism and engine
    // cannot flip it. The doc-term ⋈ vocabulary join is Zipf-skewed on the
    // head ("the" pairs with every document): head terms (corpus count ≥
    // 1000) join via broadcast map-side, tail terms via shuffle where every
    // key is rare — the skew-split join. The base relation is cached so the
    // two branches share one materialization.
    "text_perplexity" -> ((s, dir) => nllFrame(s, dir).orderBy("doc_id")),

    // DSIR importance resampling (Xie et al. 2023): score every document by
    // how much more likely its hashed-bigram features are under the TARGET
    // distribution (here: the English subset) than under the raw corpus,
    // then keep the top 20 — the data-selection pass that biases a pretrain
    // mix toward a target domain without a learned classifier.
    //   weight(d) = Σ_f c_df · ( ln p_tgt(f) − ln p_raw(f) ),  f = h(bigram) mod 64
    // Both feature distributions are 64-row Laplace-smoothed tables —
    // broadcast; the log-ratios are rounded to 8 decimals and summed as
    // DECIMAL (exact at any parallelism). Feature histograms come from ONE
    // native fold per document (BigramFeatureCountFold: compiled md5 per
    // bigram, fixed long[64] output) — replacing a per-position explode +
    // interpreted md5 + corpus-token-scale (doc, lang, f) hash agg; after
    // the fold at most 64 rows per doc exist.
    "pipe_dsir" -> ((s, dir) => {
      val nB = 64
      val toks = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), split(col("text"), " ").as("l"))
      val dbc = graft.Caches.tracked(
        toks.filter(size(col("l")) >= 2)
          .select(col("doc_id"), col("lang"),
            posexplode(graft.functions.TextFunctions
              .bigramFeatureCounts(col("l"), nB)).as(Seq("f", "c")))
          .filter(col("c") > 0)
          .select(col("doc_id"), col("lang"),
            col("f").cast("long").as("f"), col("c")))
      val tgt = dbc.filter(col("lang") === "en")
        .groupBy("f").agg(sum("c").as("ct"))
      val raw = dbc.groupBy("f").agg(sum("c").as("cr"))
      val dist = raw.join(tgt, Seq("f"), "left")
        .na.fill(0L, Seq("ct"))
      val tots = dist.agg(sum("ct").as("tt"), sum("cr").as("tr"))
      val lr = dist.crossJoin(broadcast(tots)).select(col("f"),
        round(
          log((col("ct") + 1).cast("double") / (col("tt") + nB).cast("double")) -
          log((col("cr") + 1).cast("double") / (col("tr") + nB).cast("double")),
          8).cast("decimal(12,8)").as("lr"))
      dbc.join(broadcast(lr), "f")
        .groupBy("doc_id").agg(sum(col("c") * col("lr")).as("wsum"))
        .select(col("doc_id"), round(col("wsum").cast("double"), 6).as("dsir_w"))
        .orderBy(col("dsir_w").desc, col("doc_id")).limit(20)
        .orderBy(col("dsir_w").desc, col("doc_id"))
    }),

    // BPE merge-candidate statistics: adjacent-character pair counts over
    // the WEIGHTED VOCABULARY — the tokenizer-training shape. The pair
    // scan runs over DISTINCT words (vocabulary-bounded, the word's corpus
    // frequency rides along as the weight), never over every token
    // occurrence: at 100 TB the explode costs O(vocab × word length), not
    // O(corpus tokens). Top-50 via TakeOrderedAndProject.
    "pipe_bpe_pairs" -> ((s, dir) => {
      Bpe.vocabulary(t(s, dir, "documents"))
        .filter(length(col("w")) >= 2)
        .select(col("w"), col("c"),
          explode(expr("sequence(1, length(w) - 1)")).as("i"))
        .select(expr("substr(w, i, 2)").as("pair"), col("c"))
        .groupBy("pair").agg(sum("c").as("n"))
        .orderBy(col("n").desc, col("pair")).limit(50)
    }),

    // BPE tokenizer TRAINING: 3 classic greedy merge rounds over the
    // weighted vocabulary (pipe_bpe_pairs is round 1's counting stage; this
    // runs the full loop) — Bpe.train at (batch 1, window 1): each round
    // picks the top pair (one bounded driver collect — the kmeans pattern)
    // and merges it greedily left-to-right in every word. The oracle
    // replays the one-pair fold via list_reduce (the accumulator ends
    // '|a|' exactly when the previous symbol is a — the one-rule case of
    // the trainer's batch fold). All outputs are integers (pair supports,
    // weighted symbol counts): nothing to round.
    "pipe_bpe_train" -> ((s, dir) => {
      mergeLog(s, bpeClassic(s, dir).merges).drop("ord").orderBy("it")
    }),

    // BPE tokenizer APPLICATION: per-language fertility (symbols per
    // token) under the 3-merge tokenizer pipe_bpe_train learns — the
    // tokenizer-efficiency statistic a pretrain mix is balanced on. Only
    // the trained symbol table is read, so the merge log's last total is
    // never computed. The per-word symbol table is O(vocabulary): it joins
    // via the Zipf skew-split on the word's corpus count (high-mass words —
    // almost every token in the corpus-scale exploded side — stay a
    // broadcast hash join; the rare tail shuffles), never a forced
    // whole-vocabulary broadcast.
    "pipe_bpe_apply" -> ((s, dir) => {
      val wsize = bpeClassic(s, dir).symbols.select(col("w"), col("c"),
        size(col("syms")).cast("long").as("nsym"))
      // pre-aggregate the corpus side to (lang, w, cnt) BEFORE the join:
      // the skew-split then joins two vocabulary-bounded tables instead of
      // streaming every corpus token through the join twice (once per
      // split branch); tracked so the explode + count runs once
      val langCounts = graft.Caches.tracked(
        t(s, dir, "documents")
          .select(col("lang"), explode(split(col("text"), " ")).as("w"))
          .groupBy("lang", "w").agg(count(lit(1)).as("cnt")))
      zipfSplitJoin(langCounts, wsize, Seq("w"), "c")
        .groupBy("lang")
        .agg(sum("cnt").as("n_tokens"),
          sum(col("cnt") * col("nsym")).as("n_symbols"))
        .select(col("lang"), col("n_tokens"), col("n_symbols"),
          round(col("n_symbols").cast("double") / col("n_tokens"), 6)
            .as("fertility"))
        .orderBy("lang")
    }),

    // DEEP BPE training: 16 batched rounds × up to 16 symbol-disjoint
    // merges each from a top-64 window (≥64 merges total; early rounds
    // yield fewer because top character pairs share symbols) with NO
    // per-merge driver round-trip — the scale shape of pipe_bpe_train (see
    // Bpe's header for the batching rule and its exactness argument). One
    // row per merge: round, in-round order, pair, exact pre-round support,
    // and the post-round weighted corpus symbol count (pins that every
    // fold applied). The oracle replays the identical batched algorithm —
    // selection included — via ranked windows + NOT EXISTS.
    "pipe_bpe_train_deep" -> ((s, dir) => {
      val trained = Bpe.train(Bpe.vocabulary(t(s, dir, "documents")),
        deepBpeRounds, deepBpeBatch, deepBpeWindow)
      mergeLog(s, trained.merges).orderBy("it", "ord")
    }),

    // hard-negative mining for retrieval training: for each query vector,
    // the most similar corpus vectors from OTHER semantic clusters — the
    // near-miss examples a contrastive retriever trains against. IVF-shaped:
    // label centroids (rounded 6) rank the other-label clusters, only the
    // top-2 are probed, so the candidate space is 2 clusters per query —
    // never corpus × queries. Centroids and probes broadcast.
    "ann_hard_negatives" -> ((s, dir) => {
      val e = graft.Caches.tracked(t(s, dir, "embeddings"))
      val cent = e
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
        .groupBy("label", "pos")
        .agg(round(avg(col("x").cast("double")), 6).as("m"))
        .groupBy("label")
        .agg(expr("transform(array_sort(collect_list(struct(pos, m))), s -> s.m)")
          .as("cv"))
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("label").as("qlabel"),
          col("embedding").as("qv"))
      val wp = Window.partitionBy("qid")
        .orderBy(col("ccos").desc, col("label").asc)
      val probes = broadcast(q).crossJoin(broadcast(cent))
        .filter(col("label") =!= col("qlabel"))
        .withColumn("ccos", round(Similarity.cosine(col("qv"), col("cv")), 6))
        .withColumn("prn", row_number().over(wp))
        .filter(col("prn") <= 2)
        .select(col("qid"), col("qv"), col("label"))
      val w = Window.partitionBy("qid")
        .orderBy(col("cos").desc, col("vec_id").asc)
      e.join(broadcast(probes), "label")
        .withColumn("cos", round(Similarity.cosine(col("qv"), col("embedding")), 6))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .select("qid", "rank", "vec_id", "label", "cos")
        .orderBy("qid", "rank")
    }),

    // FULL multi-iteration Lloyd k-means over the embedding table (the
    // iterative extension of ann_ivf_kmeans's single refinement step):
    // 3 rounds of assign → update, spherical (cosine) objective, seeds =
    // vec_id < 8. Per round the driver collects exactly K×64 ROUNDED
    // centroid values (the bounded-model collect MLlib's KMeans does);
    // assignment is a map-side argmax over K literal vectors — the N×K
    // work never shuffles. Centroid dims round to 6 decimals so the
    // mean's accumulation order can't flip an argmax anywhere; a cluster
    // that loses all members keeps its previous centroid. Output per
    // cluster: member count of the final assignment, the DECIMAL-exact sum
    // of (rounded) member-to-centroid cosines — the coherence mass — and
    // the first two centroid dims, all hash-verified against the oracle's
    // unrolled three-iteration replay.
    "embed_kmeans" -> ((s, dir) => {
      val e = graft.Caches.tracked(
        t(s, dir, "embeddings").select(col("vec_id"), col("embedding")))
      var cents: Array[(Long, Array[Double])] = e.filter(col("vec_id") < 8)
        .select(col("vec_id"), col("embedding")).collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
        .sortBy(_._1)
      // Centroids ride a broadcast ONE-ROW relation, not per-iteration
      // typedLit arrays (round-18, guide §1.2 driver work): literals embed
      // the values in the generated code, so every Lloyd iteration
      // recompiled a fresh codegen class (~0.3-0.5 s driver gap per
      // iteration, counted per job); with the values in a LocalRelation the
      // iteration plans are textually identical and the codegen cache
      // hits. array_max over struct(cos, -cid) is order-independent
      // (total order on (s, nc)), so the argmax — ORDER BY s DESC, cid
      // ASC — and every emitted row are unchanged.
      val centsSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("cents",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("nc",
                org.apache.spark.sql.types.LongType, nullable = false),
              org.apache.spark.sql.types.StructField("cv",
                org.apache.spark.sql.types.ArrayType(
                  org.apache.spark.sql.types.DoubleType, containsNull = false),
                nullable = false))), containsNull = false),
          nullable = false)))
      def assign(): DataFrame = {
        val centsRow: org.apache.spark.sql.Row = org.apache.spark.sql.Row(
          cents.toSeq.map { case (cid, v) =>
            org.apache.spark.sql.Row(-cid, v.toSeq) })
        val centsDf = s.createDataFrame(
          java.util.Collections.singletonList(centsRow), centsSchema)
        val scored = transform(col("cents"), c =>
          struct(Similarity.cosine(c.getField("cv"), col("embedding")).as("s"),
            c.getField("nc").as("nc")))
        e.crossJoin(broadcast(centsDf))
          .select(col("vec_id"), col("embedding"),
            (-array_max(scored).getField("nc")).as("cid"),
            array_max(scored).getField("s").as("acos"))
      }
      var assigned: DataFrame = null
      for (_ <- 1 to 3) {
        assigned = assign()
        val refined = assigned
          .select(col("cid"), posexplode(col("embedding")).as(Seq("pos", "x")))
          .groupBy("cid", "pos")
          .agg(round(avg(col("x").cast("double")), 6).as("m"))
          .groupBy("cid")
          .agg(expr("transform(array_sort(collect_list(struct(pos, m))), s -> s.m)")
            .as("cv"))
          .collect()
          .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toMap
        cents = cents.map { case (cid, old) =>
          (cid, refined.getOrElse(cid, old))
        }
      }
      val centsDf = broadcast(s
        .createDataFrame(cents.toSeq.map { case (cid, v) => (cid, v(0), v(1)) })
        .toDF("cid", "c0", "c1"))
      assigned.groupBy("cid").agg(
          count(lit(1)).as("n_members"),
          sum(round(col("acos"), 6).cast("decimal(18,6)")).cast("double")
            .as("coh_sum"))
        .join(centsDf, "cid")
        .select(col("cid"), col("n_members"), col("coh_sum"),
          col("c0"), col("c1"))
        .orderBy("cid")
    }),

    // Stupid-Backoff bigram LM scoring (Brants et al. 2007 — the
    // web-scale LM design: unnormalized count ratios, no discounting, so
    // every quantity is an integer ratio). The model trains on the 90%
    // split (doc_id % 10 ≠ 0) and scores the HELD-OUT 10% — the CCNet
    // shape (score with a model trained elsewhere), and the reason the
    // backoff path actually fires: held-out bigrams can be unseen.
    //   S(w2|w1) = c(w1w2)/c(w1)            if the bigram was seen
    //            = 0.4 · (c(w2)+1)/(T+V)    otherwise (Laplace unigram)
    // Per-position log-scores round to 8 decimals and sum as DECIMAL.
    // Join shape: held-out doc-bigrams ⋈ train bigram counts shuffles on
    // near-unique (w1,w2) keys; the two O(vocabulary) unigram lookups use
    // the Zipf skew-split LEFT join (head broadcast, rare tail shuffled)
    // — never a forced whole-vocabulary broadcast.
    "text_backoff" -> ((s, dir) => {
      val toks = t(s, dir, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("l"))
      // ONE corpus scan + ONE exchange yield every corpus-derived input
      // (round 18, guide §1.2/§2.4 — previously THREE passes over
      // documents with three exchanges: train unigram counts, train
      // bigram counts, held per-doc bigrams). Each doc explodes virtual
      // positions 1..2·size−1: i ≤ size is the unigram at i (w2 = null —
      // real bigrams can never carry a null w2, so the spaces are
      // disjoint); i > size is the bigram starting at i−size (empty for
      // 1-token docs, the old filter(size≥2) semantics). Held docs keep
      // only their bigram rows (a map-side filter before the exchange —
      // held unigrams had no consumer), grouped per doc via dd = doc_id;
      // train rows group corpus-wide via dd = null. The combined table is
      // tracked-cached in uni's old place; uni/big/hb are filters of it.
      val comb = graft.Caches.tracked(toks
        .select(col("doc_id"), col("l"),
          explode(expr("sequence(1, 2 * size(l) - 1)")).as("i"))
        .filter(pmod(col("doc_id"), lit(10)) =!= 0 ||
          col("i") > size(col("l")))
        .select(
          when(pmod(col("doc_id"), lit(10)) === 0, col("doc_id")).as("dd"),
          element_at(col("l"),
            when(col("i") <= size(col("l")), col("i"))
              .otherwise(col("i") - size(col("l")))).as("w1"),
          when(col("i") <= size(col("l")), lit(null))
            .otherwise(element_at(col("l"),
              col("i") - size(col("l")) + 1)).as("w2"))
        .groupBy("dd", "w1", "w2").agg(count(lit(1)).as("c")))
      val uni = comb.filter(col("dd").isNull && col("w2").isNull)
        .select(col("w1").as("w"), col("c").as("c1"))
      val tot = uni.agg(sum("c1").as("t_tok"), count(lit(1)).as("v_sz"))
      val big = comb.filter(col("dd").isNull && col("w2").isNotNull)
        .select(col("w1"), col("w2"), col("c").as("c2"))
      val hb = comb.filter(col("dd").isNotNull)
        .select(col("dd").as("doc_id"), col("w1"), col("w2"), col("c"))
      // materialized once: the two nested left skew-splits would otherwise
      // recompute the hb ⋈ big join per branch (4×) — see text_kneser_ney
      val hbj = graft.Caches.tracked(hb.join(big, Seq("w1", "w2"), "left"))
      val joined = zipfSplitJoin(
        zipfSplitJoin(hbj,
          uni.select(col("w").as("w1"), col("c1")), Seq("w1"), "c1", "left"),
        uni.select(col("w").as("w2"), col("c1").as("c1w2")),
        Seq("w2"), "c1w2", "left")
        .crossJoin(broadcast(tot))
      val sc = joined.select(col("doc_id"), col("c"),
        round(when(col("c2").isNotNull,
            log(col("c2").cast("double") / col("c1").cast("double")))
          .otherwise(log(lit(0.4) *
            (coalesce(col("c1w2"), lit(0L)) + 1).cast("double") /
            (col("t_tok") + col("v_sz")).cast("double"))), 8)
          .cast("decimal(12,8)").as("lp"))
      sc.groupBy("doc_id")
        .agg(sum(col("c") * col("lp")).as("slp"), sum(col("c")).as("n_bigrams"))
        .select(col("doc_id"), col("n_bigrams"),
          round(-col("slp").cast("double") / col("n_bigrams"), 6).as("bo_nll"))
        .orderBy("doc_id")
    }),

    // Interpolated Kneser-Ney bigram scoring (Kneser & Ney 1995; Chen &
    // Goodman 1999's interpolated form, fixed discount d = 0.75) — the
    // smoothing real n-gram LMs (KenLM) use, next to text_backoff's
    // count-ratio heuristic:
    //   P(w2|w1) = max(c12−d, 0)/ctx(w1)
    //              + d·N1+(w1·)/ctx(w1) · Pcont(w2)       seen context
    //   P(w2|w1) = Pcont(w2)                              unseen context
    // with ctx(w1) = Σ_x c(w1,x) (the exact context total, not the
    // unigram count) and the continuation distribution Laplace-smoothed —
    // Pcont(w2) = (N1+(·w2)+1)/(types+V) — so a held-out w2 never hits
    // ln(0). Model on the 90% split, scored on the held-out 10%. Every
    // input is an integer count; per-position log-scores round to 8
    // decimals and sum as DECIMAL. Same join topology as text_backoff:
    // bigram stats shuffle on near-unique (w1,w2); the per-word ctx and
    // continuation tables are O(vocabulary) and join via the Zipf
    // skew-split LEFT join (head broadcast, rare tail shuffled) — never a
    // forced whole-vocabulary broadcast.
    "text_kneser_ney" -> ((s, dir) => {
      val toks = t(s, dir, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("l"))
      // ONE corpus scan + ONE exchange yield every corpus-derived input
      // (round 18, guide §1.2/§2.4 — previously THREE passes over
      // documents: train bigram counts, held per-doc bigrams, and the
      // single-token scan, with two exchanges). Each ≥2-token doc
      // explodes its bigram positions 1..size-1; a 1-token doc explodes
      // the single marker position 0 whose row carries (w1 = its token,
      // w2 = null) — bigram rows can never have a null w2 (split() never
      // yields nulls), so the marker space is disjoint by construction.
      // Train rows group with dd = null (corpus-wide counts, the old
      // groupBy(w1, w2)); held rows with dd = doc_id (the old per-doc
      // groupBy). The combined table is what gets tracked-cached — the
      // same role big's cache played, now also serving hb and the
      // single-token words.
      val comb = graft.Caches.tracked(toks
        .select(col("doc_id"), col("l"), explode(expr(
          "sequence(CASE WHEN size(l) = 1 THEN 0 ELSE 1 END, size(l) - 1)"))
          .as("i"))
        .select(
          (pmod(col("doc_id"), lit(10)) =!= 0).as("is_train"),
          when(pmod(col("doc_id"), lit(10)) === 0, col("doc_id")).as("dd"),
          element_at(col("l"), greatest(col("i"), lit(1))).as("w1"),
          when(col("i") === 0, lit(null))
            .otherwise(element_at(col("l"), col("i") + 1)).as("w2"))
        .groupBy("is_train", "dd", "w1", "w2").agg(count(lit(1)).as("c")))
      val big = comb.filter(col("is_train") && col("w2").isNotNull)
        .select(col("w1"), col("w2"), col("c").as("c2"))
      // ctx/cont are O(vocabulary) — tiny next to the bigram-type table —
      // but each is CONSUMED ~5×: the split's eager head-threshold
      // aggregate, plus head/tail filters evaluated once per OUTER split
      // branch (the outer left split scans the inner split's union twice).
      // Uncached, every consumption re-aggregates the full bigram cache;
      // tracked-caching the two small lookups cuts the query's big-table
      // scans from ~9 to 2 (round-13 judge task 4: this — not the fact
      // side — was the kneser-ney family's remaining redundancy).
      val ctx = graft.Caches.tracked(big.groupBy("w1")
        .agg(sum("c2").as("ctx"), count(lit(1)).as("n1l")))
      val cont = graft.Caches.tracked(
        big.groupBy("w2").agg(count(lit(1)).as("n1r")))
      // both sides are 1-row aggregates; the broadcast() hint is bounded
      // by construction (and keeps the 1×1 join a BNLJ, never a cartesian).
      // v_sz derives from the BIGRAM TYPE table, not a second corpus scan
      // (round-18, guide §1.2 "remove passes"; A/B'd at 10×, hash-identical
      // — OPTIMIZATION_r18.md §6, plans/r18/text_kneser_ney_*.txt — and
      // the corpus token-explode + corpus-wide distinct shuffle are gone):
      // every token of a ≥2-token doc appears in some bigram's w1 or w2 OF
      // THAT DOC, so distinct tokens = distinct(w1 ∪ w2 over bigram
      // TYPES — already aggregated, O(types) rows) ∪ the lone tokens of
      // single-token docs — the marker rows above (one per distinct single
      // word; countDistinct is indifferent to the lost duplicates;
      // split("") is [""], so a 0-token doc cannot exist and "" stays
      // counted exactly as before).
      val vocab = big.select(col("w1").as("w"))
        .unionByName(big.select(col("w2").as("w")))
        .unionByName(comb
          .filter(col("is_train") && col("w2").isNull)
          .select(col("w1").as("w")))
        .agg(countDistinct(col("w")).as("v_sz"))
      val tots = big.agg(count(lit(1)).as("types"))
        .crossJoin(broadcast(vocab))
      val hb = comb.filter(!col("is_train") && col("w2").isNotNull)
        .select(col("dd").as("doc_id"), col("w1"), col("w2"), col("c"))
      // materialize the bigram-side base ONCE: each left skew-split's two
      // branches re-scan their input, so the two nested splits would
      // otherwise recompute the hb ⋈ big join 4× (measured 1.7 → 9.6 s at
      // the 10× bench before this cache)
      val hbj = graft.Caches.tracked(hb.join(big, Seq("w1", "w2"), "left"))
      val joined = zipfSplitJoin(
        zipfSplitJoin(hbj, ctx, Seq("w1"), "ctx", "left"),
        cont, Seq("w2"), "n1r", "left")
        .crossJoin(broadcast(tots))
      val pcont = (coalesce(col("n1r"), lit(0L)) + 1).cast("double") /
        (col("types") + col("v_sz")).cast("double")
      val p = when(col("ctx").isNotNull,
        greatest(coalesce(col("c2"), lit(0L)).cast("double") - 0.75, lit(0.0)) /
          col("ctx").cast("double") +
          lit(0.75) * col("n1l").cast("double") / col("ctx").cast("double") * pcont)
        .otherwise(pcont)
      val sc = joined.select(col("doc_id"), col("c"),
        round(log(p), 8).cast("decimal(12,8)").as("lp"))
      sc.groupBy("doc_id")
        .agg(sum(col("c") * col("lp")).as("slp"), sum(col("c")).as("n_bigrams"))
        .select(col("doc_id"), col("n_bigrams"),
          round(-col("slp").cast("double") / col("n_bigrams"), 6).as("kn_nll"))
        .orderBy("doc_id")
    }),

    // Zipf-law fit over the token frequency spectrum: least-squares slope
    // of ln(freq) vs ln(rank) on the top-100 terms — the corpus-health
    // diagnostic (natural text sits near −1; template spam and word soup
    // drift off). The frequency table is vocabulary-bounded with map-side
    // partial counts; top-100 travels via TakeOrderedAndProject; the rank
    // window runs over those 100 rows only (never a global sort of the
    // vocabulary). ln values round to 8 decimals and sum as DECIMAL, so
    // the regression sums are exact at any parallelism; slope/intercept
    // are closed-form scalar expressions over those exact sums (identical
    // expression tree in the oracle).
    "text_zipf" -> ((s, dir) => {
      val freq = t(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c"))
      val top = freq.orderBy(col("c").desc, col("w").asc).limit(100)
      val ranked = top.withColumn("rank", row_number().over(
        Window.orderBy(col("c").desc, col("w").asc)))
      val pts = ranked.select(
        round(log(col("rank").cast("double")), 8).cast("decimal(12,8)").as("x"),
        round(log(col("c").cast("double")), 8).cast("decimal(12,8)").as("y"))
      val sums = pts.agg(count(lit(1)).as("n_terms"), sum("x").as("sx"),
        sum("y").as("sy"), sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      sums.select(col("n_terms"),
        round((col("n_terms").cast("double") * col("sxy").cast("double") -
            col("sx").cast("double") * col("sy").cast("double")) /
          (col("n_terms").cast("double") * col("sxx").cast("double") -
            col("sx").cast("double") * col("sx").cast("double")), 6)
          .as("zipf_slope"),
        round((col("sy").cast("double") * col("sxx").cast("double") -
            col("sx").cast("double") * col("sxy").cast("double")) /
          (col("n_terms").cast("double") * col("sxx").cast("double") -
            col("sx").cast("double") * col("sx").cast("double")), 6)
          .as("zipf_intercept"))
    }),

    // Embedding covariance matrix (upper triangle, 64×64 → 2080 cells) —
    // the PCA/whitening/OPQ preprocessing statistic. Shape: two chained
    // generators expand each row to its (i ≤ j) products MAP-SIDE (top-
    // level element_at products — codegen'd, never a lambda), then ONE
    // hash aggregation over 2080 groups with map-side partial sums; the
    // only shuffle carries 2080 partial rows per task, regardless of
    // corpus size. cov = E[xy] − E[x]E[y] from DECIMAL-exact sums of
    // 8-decimal-rounded products (order-invariant); the 64-row dim-sum
    // table joins in twice via broadcast.
    "embed_covariance" -> ((s, dir) =>
      covCells(s, dir).orderBy("pos1", "pos2")),

    // PCA via power iteration on the covariance matrix — the top principal
    // direction (whitening/OPQ's first step), then the corpus projected
    // onto it. The 64×64 matrix is a bounded model: it collects nowhere —
    // each of the 3 iterations is a tiny 2080-row join + 64-group agg; only
    // the 64 eigenvector components reach the driver per round (the kmeans
    // collect pattern). The iteration runs entirely in BIGINT units of
    // 1e-6/1e-12 (rule 6c: matrix·vector products of fixed-scale decimals
    // hit half-way rounding boundaries systematically, integers never do);
    // the norm is a FIXED-ORDER fold over the 64 components (the cosSql
    // parity shape). Output: top-10 vectors by cosine to the principal
    // direction, with the Rayleigh-ish |C·v| eigenvalue estimate.
    "embed_pca_power" -> ((s, dir) => {
      // cached: the symmetrization union consumes cells twice, and each
      // of the 3 power iterations re-reads the joined form below
      val cells = graft.Caches.tracked(covCells(s, dir))
      val sym = cells.unionByName(cells.filter(col("pos1") =!= col("pos2"))
        .select(col("pos2").as("pos1"), col("pos1").as("pos2"), col("cov")))
      // integer units: cov in 1e-6 (exact — cov is rounded to 6 decimals)
      val cu = graft.Caches.tracked(sym.select(col("pos1"), col("pos2"),
        round(col("cov") * 1e6, 0).cast("long").as("cu")))
      var vUnits: Seq[(Long, Long)] = (1L to 64L).map((_, 125000L)) // 0.125
      var eigval = 0.0
      for (_ <- 1 to 3) {
        val vdf = broadcast(s.createDataFrame(vUnits).toDF("pos2", "vu"))
        // w units of 1e-12: BIGINT products summed exactly
        val w = cu.join(vdf, "pos2").groupBy("pos1")
          .agg(sum(col("cu") * col("vu")).as("wu"))
          .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
        val wd = w.map { case (_, wu) => wu.toDouble / 1e12 }
        val norm = math.sqrt(wd.foldLeft(0.0)((acc, x) => acc + x * x))
        vUnits = w.map(_._1).zip(wd).map { case (d, x) =>
          (d, java.math.BigDecimal.valueOf(x / norm * 1e6)
            .setScale(0, java.math.RoundingMode.HALF_UP).longValue())
        }
        eigval = norm
      }
      val vLit = typedLit(vUnits.sortBy(_._1).map(_._2 / 1e6).toArray)
      t(s, dir, "embeddings")
        .select(col("vec_id"),
          round(Similarity.cosine(col("embedding"), vLit), 6).as("pc1_cos"))
        .withColumn("eigval", round(lit(eigval), 6))
        .orderBy(col("pc1_cos").desc, col("vec_id")).limit(10)
        .orderBy(col("pc1_cos").desc, col("vec_id"))
    }),

    // embedding-hygiene outlier detection: the 3 vectors LEAST similar to
    // their own label centroid, per label — mislabeled or corrupted
    // embeddings surface here before they poison contrastive training.
    // Label centroids are bounded (labels × dims) and broadcast; scoring
    // is one map-side cosine per vector; ranking is a label-partitioned
    // window (never global).
    "embed_outliers" -> ((s, dir) => {
      val e = graft.Caches.tracked(t(s, dir, "embeddings"))
      val cent = e
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
        .groupBy("label", "pos")
        .agg(round(avg(col("x").cast("double")), 6).as("m"))
        .groupBy("label")
        .agg(expr("transform(array_sort(collect_list(struct(pos, m))), s -> s.m)")
          .as("cv"))
      val w = Window.partitionBy("label")
        .orderBy(col("cos").asc, col("vec_id").asc)
      e.join(broadcast(cent), "label")
        .withColumn("cos", round(Similarity.cosine(col("embedding"), col("cv")), 6))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select("label", "rank", "vec_id", "cos")
        .orderBy("label", "rank")
    }),

    // collocation mining: top-50 bigrams by pointwise mutual information,
    //   PMI(w1,w2) = ln( c12 · T / (c1 · c2) ),  c12 ≥ 5
    // — the classic corpus-statistics pass that surfaces multi-word
    // expressions for tokenizer/phrase vocabularies. Every input is an
    // integer count (PMI is a pure scalar over them — no accumulation
    // anywhere); the two O(vocabulary) unigram lookups use the Zipf
    // skew-split join (head broadcast, rare tail shuffled — never a forced
    // whole-vocabulary broadcast); top-50 via TakeOrderedAndProject with a
    // total (pmi, pair) order. The c12 ≥ 5 support floor is the standard
    // guard against PMI's rare-pair bias.
    "text_collocations" -> ((s, dir) => {
      val toks = t(s, dir, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("l"))
      val uni = graft.Caches.tracked(toks.select(explode(col("l")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c1")))
      val tot = uni.agg(sum("c1").as("t_tok"))
      // tracked: the two nested inner skew-splits scan `big` 4× — without
      // the cache each scan recomputes the bigram explode + count from raw
      // documents
      val big = graft.Caches.tracked(toks.filter(size(col("l")) >= 2)
        .select(col("l"), explode(expr("sequence(1, size(l) - 1)")).as("i"))
        .select(element_at(col("l"), col("i")).as("w1"),
          element_at(col("l"), col("i") + 1).as("w2"))
        .groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
        .filter(col("c12") >= 5))
      zipfSplitJoin(
        zipfSplitJoin(big,
          uni.select(col("w").as("w1"), col("c1").as("ca")), Seq("w1"), "ca"),
        uni.select(col("w").as("w2"), col("c1").as("cb")), Seq("w2"), "cb")
        .crossJoin(broadcast(tot))
        .select(col("w1"), col("w2"), col("c12"),
          round(log(col("c12").cast("double") * col("t_tok") /
            (col("ca").cast("double") * col("cb"))), 6).as("pmi"))
        .orderBy(col("pmi").desc, col("w1"), col("w2")).limit(50)
    }),

    // per-document lexical diversity: type-token ratio + Simpson's
    // repeat-probability index — the light-weight diversity gate next to
    // the Gopher repetition battery. Both are EXACT integer ratios
    // (deterministic at any parallelism, no rounding discipline needed
    // beyond the output round); one pass over the shared doc-term base.
    "text_diversity" -> ((s, dir) => {
      wordCounts(s, dir).groupBy("doc_id")
        .agg(sum("c").as("n_tokens"), count(lit(1)).as("n_types"),
          sum(col("c") * (col("c") - 1)).as("rep2"))
        .filter(col("n_tokens") >= 2)
        .select(col("doc_id"), col("n_tokens"), col("n_types"),
          round(col("n_types").cast("double") / col("n_tokens"), 6).as("ttr"),
          round(col("rep2").cast("double") /
            (col("n_tokens") * (col("n_tokens") - 1)), 6).as("simpson"))
        .orderBy("doc_id")
    }),

    // Heaps'-law vocabulary growth: cumulative distinct-word count as the
    // corpus grows through its doc-id deciles (V ≈ K·n^β, β < 1 for
    // natural text — word soup and template spam bend the curve). Each
    // word carries only its FIRST-occurrence doc id (one vocabulary-
    // bounded agg); deciles come from integer id arithmetic against the
    // corpus count (no global window over data rows); the cumulative sums
    // run over exactly 10 rows.
    "text_heaps" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val n = d.agg(count(lit(1)).as("n"))
      val docDec = d.crossJoin(broadcast(n))
        .select(expr("doc_id * 10 div n + 1").as("decile"),
          size(split(col("text"), " ")).cast("long").as("n_tok"))
      val tk = docDec.groupBy("decile").agg(sum("n_tok").as("tk"))
      val fd = d.select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .groupBy("w").agg(min("doc_id").as("fd"))
      val vb = fd.crossJoin(broadcast(n))
        .select(expr("fd * 10 div n + 1").as("decile"))
        .groupBy("decile").agg(count(lit(1)).as("vb"))
      val w10 = Window.orderBy("decile")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      tk.join(vb, Seq("decile"), "left").na.fill(0L, Seq("vb"))
        .select(col("decile"), sum("tk").over(w10).as("cum_tokens"),
          sum("vb").over(w10).as("cum_vocab"))
        .orderBy("decile")
    }),

    // per-document n-gram NOVELTY vs everything earlier in the corpus
    // (doc_id order): the memorization/duplication signal a curriculum or
    // rolling-crawl pipeline reads — a doc whose trigrams all appeared
    // before contributes nothing new. JOIN-FREE shape (the ScaleProbe
    // caught the v1 trigram-keyed join spilling 20× superlinear at 32×
    // corpus): per-doc totals are MAP-SIDE (size of the distinct-trigram
    // array before exploding), each trigram's first doc is one
    // hash-keyed groupBy(min) — 8-byte xxhash64 keys, not ~30-byte
    // strings — and per-doc novel counts are a groupBy over the WINNERS
    // (one row per distinct trigram). The only join left is doc-level
    // (n_docs rows), never trigram-level. Hash collisions merge trigram
    // classes at odds ≪ 1/corpus (the pipe_decontaminate convention).
    "text_novelty" -> ((s, dir) => {
      val base = graft.Caches.tracked(t(s, dir, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .filter(size(col("w")) >= 3)
        .select(col("doc_id"), expr(
          """array_distinct(transform(sequence(1, size(w) - 2),
            |  i -> concat_ws(' ', w[i-1], w[i], w[i+1])))""".stripMargin)
          .as("gs")))
      val counts = base.select(col("doc_id"),
        size(col("gs")).cast("long").as("n_ngrams"))
      val novel = base
        .select(col("doc_id"), explode(col("gs")).as("g"))
        .select(col("doc_id"), xxhash64(col("g")).as("gh"))
        .groupBy("gh").agg(min("doc_id").as("first_doc"))
        .groupBy("first_doc").agg(count(lit(1)).as("n_novel"))
      counts.join(novel, counts("doc_id") === novel("first_doc"), "left")
        .na.fill(0L, Seq("n_novel"))
        .select(col("doc_id"), col("n_ngrams"), col("n_novel"),
          round(col("n_novel").cast("double") / col("n_ngrams"), 6)
            .as("novelty"))
        .orderBy("doc_id")
    }),

    // deterministic readability scoring (Flesch reading-ease shape):
    // syllables ≈ vowel groups, sentences ≈ terminal-punctuation runs
    // (floored at 1 — the fixture text is unpunctuated). Pure map-side
    // per-doc regex counting — no explode, no shuffle beyond the sort;
    // the same three counters a Gopher/CCNet-style quality gate reads.
    "text_readability" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          size(split(col("text"), " ")).cast("long").as("n_words"),
          greatest(expr("regexp_count(text, '[.!?]+')"), lit(1))
            .cast("long").as("n_sentences"),
          expr("regexp_count(lower(text), '[aeiouy]+')")
            .cast("long").as("n_syllables"))
        .withColumn("flesch", round(
          lit(206.835)
            - lit(1.015) * (col("n_words").cast("double") / col("n_sentences"))
            - lit(84.6) * (col("n_syllables").cast("double") / col("n_words")),
          4))
        .orderBy("doc_id"))
  )

  // shared SQL fragments for the oracles (same idioms as PipelineQueries)
  private def h(arg: String): String =
    s"('0x' || substr(md5($arg), 1, 15))::BIGINT"

  private val cosSql =
    """list_sum([CAST(V1[i] AS DOUBLE) * V2[i] FOR i IN range(1, 65)]) /
      | sqrt(list_sum([CAST(V1[i] AS DOUBLE) * V1[i] FOR i IN range(1, 65)])) /
      | sqrt(list_sum([CAST(V2[i] AS DOUBLE) * V2[i] FOR i IN range(1, 65)]))""".stripMargin
  private def cos(a: String, b: String): String =
    cosSql.replace("V1", a).replace("V2", b)

  /** one k-means iteration as CTE text: assignment under cent${i-1}, then
    * the refined (round-6, empty-cluster-carrying) cent$i. */
  private def kmeansIter(i: Int): String = s"""
      scored$i AS MATERIALIZED (
        SELECT e.vec_id, e.embedding, c.cid,
               ${cos("c.cv", "e.embedding")} AS cs
        FROM embeddings e CROSS JOIN cent${i - 1} c),
      ass$i AS MATERIALIZED (
        SELECT vec_id, embedding, cid, cs FROM (
          SELECT vec_id, embedding, cid, cs,
                 row_number() OVER (PARTITION BY vec_id
                   ORDER BY cs DESC, cid ASC) AS rn
          FROM scored$i)
        WHERE rn = 1),
      dims$i AS MATERIALIZED (
        SELECT cid, i.i AS pos, round(avg(CAST(embedding[i.i] AS DOUBLE)), 6) AS m
        FROM ass$i, (SELECT unnest(range(1, 65)) AS i) i
        GROUP BY cid, i.i),
      newc$i AS MATERIALIZED (SELECT cid, list(m ORDER BY pos) AS cv FROM dims$i GROUP BY cid),
      cent$i AS MATERIALIZED (
        SELECT p.cid, coalesce(n.cv, p.cv) AS cv
        FROM cent${i - 1} p LEFT JOIN newc$i n USING (cid))"""

  /** Deep BPE training shape, shared by pipe_bpe_train_deep and its
    * oracle: [[deepBpeRounds]] rounds, each applying a BATCH of up to
    * [[deepBpeBatch]] symbol-disjoint merges selected from the
    * top-[[deepBpeWindow]] pair candidates — ≥64 total merges without
    * per-merge driver round-trips. */
  private val deepBpeRounds = 16
  private val deepBpeBatch = 16
  private val deepBpeWindow = 64

  /** the 3-merge classic tokenizer pipe_bpe_train and pipe_bpe_apply share */
  private def bpeClassic(s: SparkSession, dir: String): Bpe.Trained =
    Bpe.train(Bpe.vocabulary(t(s, dir, "documents")), rounds = 3, batch = 1,
      window = 1)

  private def mergeLog(s: SparkSession, merges: Seq[Bpe.Merge]): DataFrame =
    s.createDataFrame(merges)
      .toDF("it", "ord", "merge_a", "merge_b", "support", "corpus_symbols")

  /** the covariance-cell CTEs shared by the embed_covariance and
    * embed_pca_power oracles (mirrors [[covCells]]). */
  private val covCellsSql = """
      n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings),
      pr AS (
        SELECT i.i AS i, j.j AS j,
               CAST(round(CAST(embedding[i.i] AS DOUBLE)
                          * CAST(embedding[j.j] AS DOUBLE) * 1e8, 0)
                    AS BIGINT) AS p
        FROM embeddings,
             (SELECT unnest(range(1, 65)) AS i) i,
             (SELECT unnest(range(1, 65)) AS j) j
        WHERE j.j >= i.i),
      sp AS (SELECT i, j, CAST(sum(p) AS BIGINT) AS sxy FROM pr GROUP BY i, j),
      ds AS (
        SELECT i.i AS d,
               CAST(sum(CAST(round(CAST(embedding[i.i] AS DOUBLE) * 1e8, 0)
                             AS BIGINT)) AS BIGINT) AS sx
        FROM embeddings, (SELECT unnest(range(1, 65)) AS i) i
        GROUP BY i.i),
      cells AS (
        SELECT sp.i AS pos1, sp.j AS pos2,
               round(CAST(sxy AS DOUBLE) / 1e8 / n.n
                     - (CAST(a.sx AS DOUBLE) / 1e8 / n.n)
                       * (CAST(b.sx AS DOUBLE) / 1e8 / n.n),
                     6) + 0.0 AS cov
        FROM sp JOIN ds a ON a.d = sp.i JOIN ds b ON b.d = sp.j CROSS JOIN n)"""

  /** one BPE merge round as CTE text: pair counts over s${i-1}, top pair,
    * the identical greedy fold the Spark side runs, and the round's
    * result row. */
  private def bpeIter(i: Int): String = s"""
      p$i AS MATERIALIZED (
        SELECT syms[j] || '|' || syms[j + 1] AS pair, CAST(sum(c) AS BIGINT) AS n
        FROM (SELECT c, syms, unnest(generate_series(1, len(syms) - 1)) AS j
              FROM s${i - 1} WHERE len(syms) >= 2)
        GROUP BY pair),
      t$i AS MATERIALIZED (
        SELECT string_split(pair, '|')[1] AS a, string_split(pair, '|')[2] AS b, n
        FROM p$i ORDER BY n DESC, pair LIMIT 1),
      s$i AS MATERIALIZED (
        SELECT w, c, list_filter(string_split(
          list_reduce(list_prepend('|', syms), (acc, x) ->
            CASE WHEN x = t$i.b AND ends_with(acc, '|' || t$i.a || '|')
                 THEN substr(acc, 1, length(acc) - length(t$i.a) - 1)
                      || t$i.a || t$i.b || '|'
                 ELSE acc || x || '|' END), '|'), x -> x <> '') AS syms
        FROM s${i - 1} CROSS JOIN t$i),
      r$i AS (
        SELECT $i AS it, t$i.a AS merge_a, t$i.b AS merge_b, t$i.n AS support,
               (SELECT CAST(sum(c * len(syms)) AS BIGINT) FROM s$i)
                 AS corpus_symbols
        FROM t$i)"""

  /** One DEEP (batched) BPE round as CTE text — mirrors one iteration of
    * [[graft.operators.Bpe.train]]: ranked candidate window, order-free
    * non-overlap selection (NOT EXISTS against higher ranks), the rule-set
    * fold, and the round's merge rows. Every multiply-referenced CTE is
    * `AS MATERIALIZED`: DuckDB inlines plain CTEs per reference, and the
    * d-chain is referenced 3× per round — inlined, the fold work would
    * re-evaluate ~3^rounds times (measured: the 8-round oracle never
    * finishes; materialized it runs in seconds). */
  private def bpeDeepIter(i: Int): String = s"""
      p$i AS MATERIALIZED (
        SELECT syms[j] AS a, syms[j + 1] AS b, CAST(sum(c) AS BIGINT) AS n
        FROM (SELECT c, syms, unnest(generate_series(1, len(syms) - 1)) AS j
              FROM d${i - 1} WHERE len(syms) >= 2)
        GROUP BY a, b),
      cand$i AS MATERIALIZED (
        SELECT a, b, n,
               row_number() OVER (ORDER BY n DESC, a || '|' || b) AS rnk
        FROM p$i ORDER BY rnk LIMIT $deepBpeWindow),
      sel$i AS MATERIALIZED (
        SELECT a, b, n, row_number() OVER (ORDER BY rnk) AS ord
        FROM cand$i c1
        WHERE NOT EXISTS (
          SELECT 1 FROM cand$i c2 WHERE c2.rnk < c1.rnk AND (
            c2.a = c1.a OR c2.a = c1.b OR c2.b = c1.a OR c2.b = c1.b
            OR c1.a = c2.a || c2.b OR c1.b = c2.a || c2.b))
        ORDER BY ord LIMIT $deepBpeBatch),
      rl$i AS MATERIALIZED (SELECT list(a || '|' || b) AS rules FROM sel$i),
      d$i AS MATERIALIZED (
        SELECT w, c, list_filter(string_split(
          list_reduce(list_prepend('|', syms), (acc, x) ->
            CASE WHEN list_contains(rl$i.rules,
                   string_split(acc, '|')[-2] || '|' || x)
                 THEN substr(acc, 1, length(acc)
                        - length(string_split(acc, '|')[-2]) - 1)
                      || string_split(acc, '|')[-2] || x || '|'
                 ELSE acc || x || '|' END), '|'), x -> x <> '') AS syms
        FROM d${i - 1} CROSS JOIN rl$i),
      dr$i AS (
        SELECT $i AS it, CAST(ord AS INTEGER) AS ord, a AS merge_a,
               b AS merge_b, n AS support,
               (SELECT CAST(sum(c * len(syms)) AS BIGINT) FROM d$i)
                 AS corpus_symbols
        FROM sel$i)"""

  def oracleSql: Map[String, String] = Map(

    "pipe_bpe_train_deep" -> s"""
      WITH v AS MATERIALIZED (
        SELECT w, CAST(count(*) AS BIGINT) AS c
        FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        GROUP BY w),
      d0 AS MATERIALIZED (
        SELECT w, c,
               list_transform(range(1, length(w) + 1),
                 i -> substr(w, i, 1)) AS syms
        FROM v),
      ${(1 to deepBpeRounds).map(bpeDeepIter).mkString(",")}
      SELECT * FROM (${(1 to deepBpeRounds)
        .map(i => s"SELECT * FROM dr$i").mkString(" UNION ALL ")})
      ORDER BY it, ord""",

    "pipe_bpe_train" -> s"""
      WITH v AS (
        SELECT w, CAST(count(*) AS BIGINT) AS c
        FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        GROUP BY w),
      s0 AS (
        SELECT w, c,
               list_transform(range(1, length(w) + 1),
                 i -> substr(w, i, 1)) AS syms
        FROM v),
      ${bpeIter(1)},
      ${bpeIter(2)},
      ${bpeIter(3)}
      SELECT * FROM r1 UNION ALL SELECT * FROM r2 UNION ALL SELECT * FROM r3
      ORDER BY it""",
    "text_bm25" -> """
      WITH d AS (
        SELECT doc_id, string_split(text, ' ') AS toks,
               CAST(len(string_split(text, ' ')) AS DOUBLE) AS dl
        FROM documents),
      st AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM d),
      tf AS (
        SELECT doc_id, dl, w, CAST(count(*) AS DOUBLE) AS tf
        FROM (SELECT doc_id, dl, unnest(toks) AS w FROM d)
        WHERE w IN ('stream', 'window', 'hash')
        GROUP BY doc_id, dl, w),
      df AS (SELECT w, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY w),
      sc AS (
        SELECT tf.doc_id, tf.w,
               ln(1.0 + (st.n_docs - df.df + 0.5) / (df.df + 0.5))
                 * tf.tf * 2.2
                 / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / st.avgdl)) AS ts
        FROM tf, df, st WHERE tf.w = df.w),
      p AS (
        SELECT doc_id,
               coalesce(max(CASE WHEN w = 'stream' THEN ts END), 0)
                 + coalesce(max(CASE WHEN w = 'window' THEN ts END), 0)
                 + coalesce(max(CASE WHEN w = 'hash' THEN ts END), 0) AS s
        FROM sc GROUP BY doc_id)
      SELECT doc_id, round(s, 6) AS bm25
      FROM p ORDER BY bm25 DESC, doc_id LIMIT 20""",

    "text_tfidf" -> """
      WITH wc AS (
        SELECT doc_id, w, count(*) AS c
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
              FROM documents)
        GROUP BY doc_id, w),
      dlen AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words
               FROM wc GROUP BY doc_id),
      df AS (SELECT w, count(*) AS df FROM wc GROUP BY w),
      nd AS (SELECT count(*) AS n_docs FROM dlen),
      sc AS (
        SELECT wc.doc_id, wc.w,
               round((CAST(wc.c AS DOUBLE) / dlen.n_words)
                 * ln(CAST(nd.n_docs AS DOUBLE) / df.df), 6) AS score
        FROM wc JOIN dlen USING (doc_id) JOIN df USING (w) CROSS JOIN nd),
      r AS (
        SELECT doc_id, w, score,
               CAST(row_number() OVER (PARTITION BY doc_id
                 ORDER BY score DESC, w ASC) AS INTEGER) AS rank
        FROM sc)
      SELECT doc_id, rank, w AS term, score
      FROM r WHERE rank <= 3 ORDER BY doc_id, rank""",

    "text_perplexity" -> """
      WITH wc AS (
        SELECT doc_id, w, CAST(count(*) AS BIGINT) AS c
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
              FROM documents)
        GROUP BY doc_id, w),
      uni AS (SELECT w, CAST(sum(c) AS BIGINT) AS cw FROM wc GROUP BY w),
      tot AS (SELECT CAST(sum(cw) AS BIGINT) AS t_tok, count(*) AS v_sz FROM uni),
      lp AS (
        SELECT w, CAST(round(ln(CAST(cw + 1 AS DOUBLE)
                 / CAST(t_tok + v_sz AS DOUBLE)), 8) AS DECIMAL(12,8)) AS lp
        FROM uni CROSS JOIN tot)
      SELECT wc.doc_id, CAST(sum(wc.c) AS BIGINT) AS n_tok,
             round(-CAST(sum(wc.c * lp.lp) AS DOUBLE) / sum(wc.c), 6) AS nll
      FROM wc JOIN lp USING (w)
      GROUP BY wc.doc_id ORDER BY doc_id""",

    "pipe_dsir" -> s"""
      WITH toks AS (
        SELECT doc_id, lang, string_split(text, ' ') AS l FROM documents),
      feats AS (
        SELECT doc_id, lang,
               unnest(list_transform(generate_series(1, len(l) - 1),
                 i -> ${h("l[i] || ' ' || l[i + 1]")} % 64)) AS f
        FROM toks WHERE len(l) >= 2),
      dbc AS (
        SELECT doc_id, lang, f, CAST(count(*) AS BIGINT) AS c
        FROM feats GROUP BY doc_id, lang, f),
      tgt AS (SELECT f, CAST(sum(c) AS BIGINT) AS ct
              FROM dbc WHERE lang = 'en' GROUP BY f),
      raw AS (SELECT f, CAST(sum(c) AS BIGINT) AS cr FROM dbc GROUP BY f),
      dist AS (
        SELECT raw.f, coalesce(tgt.ct, 0) AS ct, raw.cr
        FROM raw LEFT JOIN tgt USING (f)),
      tots AS (SELECT CAST(sum(ct) AS BIGINT) AS tt,
                      CAST(sum(cr) AS BIGINT) AS tr FROM dist),
      lr AS (
        SELECT f, CAST(round(
                 ln(CAST(ct + 1 AS DOUBLE) / CAST(tt + 64 AS DOUBLE))
                 - ln(CAST(cr + 1 AS DOUBLE) / CAST(tr + 64 AS DOUBLE)),
               8) AS DECIMAL(12,8)) AS lr
        FROM dist CROSS JOIN tots),
      wtd AS (
        SELECT dbc.doc_id, round(CAST(sum(dbc.c * lr.lr) AS DOUBLE), 6) AS dsir_w
        FROM dbc JOIN lr USING (f) GROUP BY dbc.doc_id)
      SELECT doc_id, dsir_w FROM wtd
      ORDER BY dsir_w DESC, doc_id LIMIT 20""",

    "pipe_bpe_pairs" -> """
      WITH vocab AS (
        SELECT w, CAST(count(*) AS BIGINT) AS c
        FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        GROUP BY w),
      p AS (
        SELECT substr(w, i, 2) AS pair, c
        FROM (SELECT w, c, unnest(generate_series(1, length(w) - 1)) AS i
              FROM vocab WHERE length(w) >= 2))
      SELECT pair, CAST(sum(c) AS BIGINT) AS n
      FROM p GROUP BY pair ORDER BY n DESC, pair LIMIT 50""",

    "pipe_ccnet_buckets" -> """
      WITH wc AS (
        SELECT doc_id, w, CAST(count(*) AS BIGINT) AS c
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
              FROM documents)
        GROUP BY doc_id, w),
      uni AS (SELECT w, CAST(sum(c) AS BIGINT) AS cw FROM wc GROUP BY w),
      tot AS (SELECT CAST(sum(cw) AS BIGINT) AS t_tok, count(*) AS v_sz FROM uni),
      lp AS (
        SELECT w, CAST(round(ln(CAST(cw + 1 AS DOUBLE)
                 / CAST(t_tok + v_sz AS DOUBLE)), 8) AS DECIMAL(12,8)) AS lp
        FROM uni CROSS JOIN tot),
      nll AS (
        SELECT wc.doc_id,
               round(-CAST(sum(wc.c * lp.lp) AS DOUBLE) / sum(wc.c), 6) AS nll
        FROM wc JOIN lp USING (w)
        GROUP BY wc.doc_id),
      b AS (
        SELECT d.lang, nll.nll,
               CAST(ntile(3) OVER (PARTITION BY d.lang
                 ORDER BY nll.nll ASC, nll.doc_id ASC) AS INTEGER) AS bucket
        FROM nll JOIN documents d USING (doc_id))
      SELECT lang, bucket, CAST(count(*) AS BIGINT) AS n_docs,
             min(nll) AS min_nll, max(nll) AS max_nll
      FROM b GROUP BY lang, bucket ORDER BY lang, bucket""",

    "ann_hard_negatives" -> s"""
      WITH dims AS (
        SELECT label, i.i AS pos, round(avg(CAST(embedding[i.i] AS DOUBLE)), 6) AS m
        FROM embeddings, (SELECT unnest(range(1, 65)) AS i) i
        GROUP BY label, i.i),
      cent AS (SELECT label, list(m ORDER BY pos) AS cv FROM dims GROUP BY label),
      q AS (SELECT vec_id AS qid, label AS qlabel, embedding AS qv
            FROM embeddings WHERE vec_id < 10),
      probes AS (
        SELECT qid, qv, label FROM (
          SELECT q.qid, q.qv, c.label,
                 round(${cos("q.qv", "c.cv")}, 6) AS ccos,
                 row_number() OVER (PARTITION BY q.qid
                   ORDER BY round(${cos("q.qv", "c.cv")}, 6) DESC, c.label ASC)
                   AS prn
          FROM q CROSS JOIN cent c WHERE c.label <> q.qlabel)
        WHERE prn <= 2),
      cand AS (
        SELECT p.qid, e.vec_id, e.label,
               round(${cos("p.qv", "e.embedding")}, 6) AS cos
        FROM probes p JOIN embeddings e ON e.label = p.label),
      ranked AS (
        SELECT qid, vec_id, label, cos,
               CAST(row_number() OVER (PARTITION BY qid
                 ORDER BY cos DESC, vec_id ASC) AS INTEGER) AS rank
        FROM cand)
      SELECT qid, rank, vec_id, label, cos FROM ranked
      WHERE rank <= 5 ORDER BY qid, rank""",

    "embed_kmeans" -> s"""
      WITH cent0 AS (
        SELECT vec_id AS cid,
               [CAST(embedding[i] AS DOUBLE) FOR i IN range(1, 65)] AS cv
        FROM embeddings WHERE vec_id < 8),
      ${kmeansIter(1)},
      ${kmeansIter(2)},
      ${kmeansIter(3)}
      SELECT a.cid, CAST(count(*) AS BIGINT) AS n_members,
             CAST(sum(CAST(round(a.cs, 6) AS DECIMAL(18,6))) AS DOUBLE)
               AS coh_sum,
             c.cv[1] AS c0, c.cv[2] AS c1
      FROM ass3 a JOIN cent3 c USING (cid)
      GROUP BY a.cid, c.cv[1], c.cv[2]
      ORDER BY cid""",

    "pipe_bpe_apply" -> s"""
      WITH v AS (
        SELECT w, CAST(count(*) AS BIGINT) AS c
        FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        GROUP BY w),
      s0 AS (
        SELECT w, c,
               list_transform(range(1, length(w) + 1),
                 i -> substr(w, i, 1)) AS syms
        FROM v),
      ${bpeIter(1)},
      ${bpeIter(2)},
      ${bpeIter(3)},
      wl AS (SELECT w, len(syms) AS nsym FROM s3),
      tok AS (SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents)
      SELECT lang, CAST(count(*) AS BIGINT) AS n_tokens,
             CAST(sum(nsym) AS BIGINT) AS n_symbols,
             round(CAST(sum(nsym) AS DOUBLE) / count(*), 6) AS fertility
      FROM tok JOIN wl USING (w) GROUP BY lang ORDER BY lang""",

    "text_kneser_ney" -> """
      WITH toks AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
      train AS (SELECT * FROM toks WHERE doc_id % 10 <> 0),
      held AS (SELECT * FROM toks WHERE doc_id % 10 = 0),
      big AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2 FROM (
                SELECT l[i] AS w1, l[i + 1] AS w2
                FROM (SELECT l, unnest(generate_series(1, len(l) - 1)) AS i
                      FROM train WHERE len(l) >= 2))
              GROUP BY w1, w2),
      ctx AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS ctx,
                     CAST(count(*) AS BIGINT) AS n1l
              FROM big GROUP BY w1),
      cont AS (SELECT w2, CAST(count(*) AS BIGINT) AS n1r FROM big GROUP BY w2),
      tots AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM big) AS types,
                      (SELECT CAST(count(DISTINCT w) AS BIGINT)
                       FROM (SELECT unnest(l) AS w FROM train)) AS v_sz),
      hb AS (SELECT doc_id, w1, w2, CAST(count(*) AS BIGINT) AS c FROM (
               SELECT doc_id, l[i] AS w1, l[i + 1] AS w2
               FROM (SELECT doc_id, l, unnest(generate_series(1, len(l) - 1)) AS i
                     FROM held WHERE len(l) >= 2))
             GROUP BY doc_id, w1, w2),
      sc AS (
        SELECT hb.doc_id, hb.c,
               CAST(round(ln(CASE WHEN ctx.ctx IS NOT NULL
                 THEN greatest(CAST(coalesce(big.c2, 0) AS DOUBLE) - 0.75, 0.0)
                        / CAST(ctx.ctx AS DOUBLE)
                      + 0.75 * CAST(ctx.n1l AS DOUBLE) / CAST(ctx.ctx AS DOUBLE)
                        * (CAST(coalesce(cont.n1r, 0) + 1 AS DOUBLE)
                           / CAST(t.types + t.v_sz AS DOUBLE))
                 ELSE CAST(coalesce(cont.n1r, 0) + 1 AS DOUBLE)
                      / CAST(t.types + t.v_sz AS DOUBLE) END), 8)
                 AS DECIMAL(12,8)) AS lp
        FROM hb LEFT JOIN big USING (w1, w2)
                LEFT JOIN ctx ON ctx.w1 = hb.w1
                LEFT JOIN cont ON cont.w2 = hb.w2
                CROSS JOIN tots t)
      SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
             round(-CAST(sum(c * lp) AS DOUBLE) / sum(c), 6) AS kn_nll
      FROM sc GROUP BY doc_id ORDER BY doc_id""",

    "text_backoff" -> """
      WITH toks AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
      train AS (SELECT * FROM toks WHERE doc_id % 10 <> 0),
      held AS (SELECT * FROM toks WHERE doc_id % 10 = 0),
      uni AS (SELECT w, CAST(count(*) AS BIGINT) AS c1
              FROM (SELECT unnest(l) AS w FROM train) GROUP BY w),
      tot AS (SELECT CAST(sum(c1) AS BIGINT) AS t_tok, count(*) AS v_sz FROM uni),
      tb AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2 FROM (
               SELECT l[i] AS w1, l[i + 1] AS w2
               FROM (SELECT l, unnest(generate_series(1, len(l) - 1)) AS i
                     FROM train WHERE len(l) >= 2))
             GROUP BY w1, w2),
      hb AS (SELECT doc_id, w1, w2, CAST(count(*) AS BIGINT) AS c FROM (
               SELECT doc_id, l[i] AS w1, l[i + 1] AS w2
               FROM (SELECT doc_id, l, unnest(generate_series(1, len(l) - 1)) AS i
                     FROM held WHERE len(l) >= 2))
             GROUP BY doc_id, w1, w2),
      sc AS (
        SELECT hb.doc_id, hb.c,
               CAST(round(CASE WHEN tb.c2 IS NOT NULL
                 THEN ln(CAST(tb.c2 AS DOUBLE) / CAST(u1.c1 AS DOUBLE))
                 ELSE ln(0.4 * CAST(coalesce(u2.c1, 0) + 1 AS DOUBLE)
                         / CAST(t.t_tok + t.v_sz AS DOUBLE)) END, 8)
                 AS DECIMAL(12,8)) AS lp
        FROM hb LEFT JOIN tb USING (w1, w2)
                LEFT JOIN uni u1 ON u1.w = hb.w1
                LEFT JOIN uni u2 ON u2.w = hb.w2
                CROSS JOIN tot t)
      SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
             round(-CAST(sum(c * lp) AS DOUBLE) / sum(c), 6) AS bo_nll
      FROM sc GROUP BY doc_id ORDER BY doc_id""",

    "text_zipf" -> """
      WITH f AS (
        SELECT w, CAST(count(*) AS BIGINT) AS c
        FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        GROUP BY w),
      top AS (SELECT w, c FROM f ORDER BY c DESC, w LIMIT 100),
      r AS (SELECT c, row_number() OVER (ORDER BY c DESC, w) AS rank FROM top),
      pts AS (
        SELECT CAST(round(ln(CAST(rank AS DOUBLE)), 8) AS DECIMAL(12,8)) AS x,
               CAST(round(ln(CAST(c AS DOUBLE)), 8) AS DECIMAL(12,8)) AS y
        FROM r),
      s AS (SELECT CAST(count(*) AS BIGINT) AS n_terms,
                   sum(x) AS sx, sum(y) AS sy,
                   sum(x * y) AS sxy, sum(x * x) AS sxx
            FROM pts)
      SELECT n_terms,
             round((CAST(n_terms AS DOUBLE) * CAST(sxy AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                   / (CAST(n_terms AS DOUBLE) * CAST(sxx AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
               AS zipf_slope,
             round((CAST(sy AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sxy AS DOUBLE))
                   / (CAST(n_terms AS DOUBLE) * CAST(sxx AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
               AS zipf_intercept
      FROM s""",

    "embed_covariance" -> s"""
      WITH $covCellsSql
      SELECT pos1, pos2, cov FROM cells ORDER BY pos1, pos2""",

    "embed_pca_power" -> {
      def iter(i: Int): String = s"""
      w$i AS MATERIALIZED (SELECT c.pos1 AS d, CAST(sum(c.cu * v.vu) AS BIGINT) AS wu
              FROM cu c JOIN v${i - 1} v ON v.d = c.pos2 GROUP BY c.pos1),
      wl$i AS (SELECT list(CAST(wu AS DOUBLE) / 1e12 ORDER BY d) AS wl FROM w$i),
      nm$i AS (SELECT sqrt(list_sum([x * x FOR x IN wl])) AS nm FROM wl$i),
      v$i AS MATERIALIZED (SELECT w.d,
                     CAST(round(CAST(w.wu AS DOUBLE) / 1e12 / nm.nm * 1e6, 0)
                          AS BIGINT) AS vu
              FROM w$i w CROSS JOIN nm$i nm)"""
      s"""
      WITH $covCellsSql,
      sym AS (SELECT pos1, pos2, cov FROM cells
              UNION ALL
              SELECT pos2, pos1, cov FROM cells WHERE pos1 <> pos2),
      cu AS (SELECT pos1, pos2, CAST(round(cov * 1e6, 0) AS BIGINT) AS cu
             FROM sym),
      v0 AS (SELECT unnest(range(1, 65)) AS d, CAST(125000 AS BIGINT) AS vu),
      ${iter(1)},
      ${iter(2)},
      ${iter(3)},
      vfin AS (SELECT list(CAST(vu AS DOUBLE) / 1e6 ORDER BY d) AS v FROM v3),
      proj AS (SELECT e.vec_id, round(${cos("e.embedding", "vf.v")}, 6) AS pc1_cos
               FROM embeddings e CROSS JOIN vfin vf)
      SELECT vec_id, pc1_cos,
             (SELECT round(nm, 6) FROM nm3) AS eigval
      FROM proj ORDER BY pc1_cos DESC, vec_id LIMIT 10"""
    },

    "embed_outliers" -> s"""
      WITH dims AS (
        SELECT label, i.i AS pos, round(avg(CAST(embedding[i.i] AS DOUBLE)), 6) AS m
        FROM embeddings, (SELECT unnest(range(1, 65)) AS i) i
        GROUP BY label, i.i),
      cent AS (SELECT label, list(m ORDER BY pos) AS cv FROM dims GROUP BY label),
      sc AS (
        SELECT e.label, e.vec_id,
               round(${cos("e.embedding", "c.cv")}, 6) AS cos
        FROM embeddings e JOIN cent c ON c.label = e.label),
      r AS (
        SELECT label, vec_id, cos,
               CAST(row_number() OVER (PARTITION BY label
                 ORDER BY cos ASC, vec_id ASC) AS INTEGER) AS rank
        FROM sc)
      SELECT label, rank, vec_id, cos FROM r WHERE rank <= 3
      ORDER BY label, rank""",

    "text_collocations" -> """
      WITH toks AS (SELECT string_split(text, ' ') AS l FROM documents),
      uni AS (SELECT w, CAST(count(*) AS BIGINT) AS c1
              FROM (SELECT unnest(l) AS w FROM toks) GROUP BY w),
      tot AS (SELECT CAST(sum(c1) AS BIGINT) AS t_tok FROM uni),
      big AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM (
                SELECT l[i] AS w1, l[i + 1] AS w2
                FROM (SELECT l, unnest(generate_series(1, len(l) - 1)) AS i
                      FROM toks WHERE len(l) >= 2))
              GROUP BY w1, w2 HAVING count(*) >= 5)
      SELECT b.w1, b.w2, b.c12,
             round(ln(CAST(b.c12 AS DOUBLE) * t.t_tok
                      / (CAST(a.c1 AS DOUBLE) * c.c1)), 6) AS pmi
      FROM big b JOIN uni a ON a.w = b.w1 JOIN uni c ON c.w = b.w2
           CROSS JOIN tot t
      ORDER BY pmi DESC, w1, w2 LIMIT 50""",

    "text_diversity" -> """
      WITH wc AS (
        SELECT doc_id, w, CAST(count(*) AS BIGINT) AS c
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
              FROM documents)
        GROUP BY doc_id, w),
      d AS (
        SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
               CAST(count(*) AS BIGINT) AS n_types,
               CAST(sum(c * (c - 1)) AS BIGINT) AS rep2
        FROM wc GROUP BY doc_id HAVING sum(c) >= 2)
      SELECT doc_id, n_tokens, n_types,
             round(CAST(n_types AS DOUBLE) / n_tokens, 6) AS ttr,
             round(CAST(rep2 AS DOUBLE) / (n_tokens * (n_tokens - 1)), 6)
               AS simpson
      FROM d ORDER BY doc_id""",

    "text_heaps" -> """
      WITH n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
      dd AS (SELECT (doc_id * 10 // n.n + 1) AS decile,
                    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
             FROM documents, n),
      tk AS (SELECT decile, CAST(sum(n_tok) AS BIGINT) AS tk
             FROM dd GROUP BY decile),
      fd AS (SELECT w, min(doc_id) AS fd
             FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                   FROM documents)
             GROUP BY w),
      vb AS (SELECT (fd * 10 // n.n + 1) AS decile,
                    CAST(count(*) AS BIGINT) AS vb
             FROM fd, n GROUP BY decile),
      j AS (SELECT tk.decile, tk.tk, coalesce(vb.vb, 0) AS vb
            FROM tk LEFT JOIN vb USING (decile))
      SELECT decile,
             CAST(sum(tk) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS cum_tokens,
             CAST(sum(vb) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS cum_vocab
      FROM j ORDER BY decile""",

    "text_novelty" -> """
      WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
                   WHERE len(string_split(text, ' ')) >= 3),
      tg AS (SELECT doc_id,
                    unnest(list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                          FOR i IN range(1, len(w) - 1)])) AS g
             FROM tok),
      firsts AS (SELECT g, min(doc_id) AS first_doc FROM tg GROUP BY 1)
      SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_ngrams,
             CAST(sum(CASE WHEN f.first_doc = t.doc_id THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_novel,
             round(CAST(sum(CASE WHEN f.first_doc = t.doc_id THEN 1 ELSE 0 END)
                        AS DOUBLE) / count(*), 6) AS novelty
      FROM tg t JOIN firsts f USING (g)
      GROUP BY t.doc_id ORDER BY doc_id""",

    "text_readability" -> """
      WITH c AS (
        SELECT doc_id, lang,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
               CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
                    AS BIGINT) AS n_sentences,
               CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
                    AS BIGINT) AS n_syllables
        FROM documents)
      SELECT doc_id, lang, n_words, n_sentences, n_syllables,
             round(206.835
                   - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
                   - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words),
                   4) AS flesch
      FROM c ORDER BY doc_id"""
  )
}
