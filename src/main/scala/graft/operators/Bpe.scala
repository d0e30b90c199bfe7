package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Byte-pair-encoding tokenizer training over a weighted vocabulary — ONE
  * trainer for both the classic greedy loop and its batched scale shape.
  *
  * A round counts adjacent symbol pairs weighted by corpus word frequency,
  * collects the top-`window` candidates (bounded driver collect, ranked by
  * support desc, "a|b" asc), selects up to `batch` of them that can be
  * applied simultaneously, and merges them all in ONE distributed fold
  * pass — the public fast-BPE batching technique (non-interacting merges
  * commute, so a batch round is exactly the sequential result of its
  * members). Classic greedy BPE is the (batch 1, window 1) case: the top
  * pair, merged left to right. The classic loop launches one counting job
  * + one driver collect PER MERGE (~30k for a real tokenizer); a wide
  * batch amortizes both over up to `batch` merges.
  *
  * Selection rule (order-free, so the SQL oracle can replay it without
  * recursion): a candidate survives iff it conflicts with NO higher-ranked
  * candidate in the window — selected or not — where "conflicts" means
  * sharing a symbol (a merge of (a,b) changes the support and applicability
  * of any pair touching a or b) or equalling a higher candidate's
  * concatenation (the created symbol must not be another rule's operand
  * within the round). Survivors' supports are therefore EXACT pre-round
  * counts and the batch is order-independent; the top-1 pair is always
  * selected, so a round is never weaker than one classic greedy step.
  * Batched training is a documented approximation of strictly-sequential
  * BPE (the 2nd-best pair may shift after the best merges); the oracles
  * replay the identical rounds, so the gate checks THIS algorithm.
  *
  * Scale: every stage is vocabulary-bounded (distinct words with their
  * frequency as weight), never O(corpus tokens); per round = 1 fused
  * window-and-total scan + 1 fold pass, driver work O(window²) string
  * compares. DeepBpeSpec pins the trainer to a plain-Scala reference at
  * both shapes.
  */
object Bpe {

  /** One learned merge: round `it`, in-round order `ord`, the pair, its
    * exact pre-round support, and the weighted corpus symbol total
    * Σ c·|syms| after the round's fold (pins that every fold applied). */
  final case class Merge(it: Int, ord: Int, a: String, b: String,
                         support: Long, corpusSymbols: Long)

  /** A trained tokenizer: the final (w, c, syms) symbol table and the
    * merge log. The last round's post-fold total costs one aggregate over
    * `symbols`; it runs only when `merges` is first read, so a caller
    * that consumes just the symbol table never pays it. Both read the
    * trainer's checkpoints: use them before the next `Caches.drain()`. */
  final class Trained private[Bpe] (settled: Seq[Merge],
                                    open: Option[(Int, Seq[(String, String, Long)])],
                                    val symbols: DataFrame) {
    lazy val merges: Seq[Merge] = settled ++ open.toSeq.flatMap {
      case (it, rules) =>
        val total = symbols.agg(sum(col("c") * size(col("syms")))).head
          .getLong(0)
        mergeRows(it, rules, total)
    }
  }

  /** (w, c): the weighted vocabulary — distinct space-separated tokens of
    * `documents.text` with their corpus counts. */
  def vocabulary(documents: DataFrame): DataFrame =
    documents.select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))

  /** Up to `rounds` rounds over a (w, c) vocabulary, each merging up to
    * `batch` rules selected from the top-`window` pair candidates. Training
    * stops early at the first round with no adjacent pair left; the table
    * is then returned unchanged.
    *
    * Precondition: words must not contain `|` — it is the fold's segment
    * delimiter on BOTH the Spark and oracle side, so a `|` inside a token
    * would be conflated with a boundary inside pair counting itself. It is
    * checked once, before the first round; every later symbol is a
    * concatenation of a checked word's characters. Quote and backslash
    * symbols are escaped and safe. */
  def train(vocab: DataFrame, rounds: Int, batch: Int, window: Int): Trained = {
    val bad = vocab.filter(col("w").contains("|")).select("w").head(1)
    require(bad.isEmpty,
      s"Bpe.train: corpus token '${bad.headOption.map(_.getString(0))
        .getOrElse("")}' contains the '|' fold delimiter; pre-tokenize so " +
        "words exclude '|'")
    // each round CHECKPOINTS (lineage truncation), not cache(): a cached
    // iterative plan still carries every prior round's fold expression, so
    // analysis cost grows geometrically with rounds — measured 93 s for
    // 16 rounds via cache() vs ~8 s checkpointed at sf0.1 (the same
    // blowup connectedComponents documents). Checkpoints are LAZY: the
    // next round's window scan (or the caller's first action) reads every
    // partition once and doubles as the materializer — one job per round
    // instead of checkpoint-job + action-job.
    var syms = graft.Caches.checkpointedLazy(vocab.withColumn("syms",
      expr("filter(split(w, ''), x -> x <> '')")))
    val settled = collection.mutable.Buffer.empty[Merge]
    // the latest round's rules, whose post-fold total rides the next scan
    var open: Option[(Int, Seq[(String, String, Long)])] = None
    // the checkpoint superseded by the latest fold: its blocks may be
    // freed only after the NEW checkpoint materializes (next round's scan)
    // — freeing earlier would strand the truncated lineage
    var superseded: Option[DataFrame] = None
    var it = 0
    var exhausted = false
    while (it < rounds && !exhausted) {
      it += 1
      // one action: this round's candidate window + the previous round's
      // post-fold total (and the previous fold's checkpoint materializes)
      val (cands, totalPrev) = pairWindowAndTotal(syms, window)
      open.foreach { case (pit, rules) =>
        settled ++= mergeRows(pit, rules, totalPrev) }
      open = None
      superseded.foreach(graft.Caches.free)
      superseded = None
      val rules = selectBatch(cands, batch)
      if (rules.isEmpty) exhausted = true
      else {
        superseded = Some(syms)
        syms = graft.Caches.checkpointedLazy(syms.withColumn("syms",
          expr(batchFoldExpr(rules.map(r => (r._1, r._2))))))
        open = Some((it, rules))
      }
    }
    new Trained(settled.toSeq, open, syms)
  }

  private def mergeRows(it: Int, rules: Seq[(String, String, Long)],
                        total: Long): Seq[Merge] =
    rules.zipWithIndex.map { case ((a, b, n), ord) =>
      Merge(it, ord + 1, a, b, n, total) }

  /** ONE scan of a (w, c, syms) table yielding BOTH the top-`window`
    * adjacent-symbol-pair candidates (by support desc, "a|b" asc) AND the
    * exact weighted symbol total Σ c·size(syms) of the SAME table. A
    * per-word sentinel row at i=0 carries c·size(syms); the (null, null)
    * group aggregates those to the total, and the isnull-first sort key
    * pins it ahead of the top-W pairs in one TakeOrdered — one action per
    * round instead of a candidate collect plus a count aggregate (two
    * vocabulary passes, two plan/AQE/submit driver cycles). Pair groups are
    * untouched by the sentinel (its key is null). sequence(0,
    * greatest(size-1, 0)): a 1-symbol word emits only its sentinel and a
    * 0-symbol word ('' from consecutive spaces) one sentinel of weight 0 —
    * sequence(0, size-1) alone would DESCEND for those and feed element_at
    * a negative index. An empty table has no sentinel group: total 0. */
  private def pairWindowAndTotal(df: DataFrame, window: Int)
      : (Seq[(String, String, Long)], Long) = {
    val rows = df
      .select(col("c"), col("syms"),
        explode(expr("sequence(0, greatest(size(syms) - 1, 0))")).as("i"))
      .select(
        when(col("i") === 0, lit(null))
          .otherwise(element_at(col("syms"), col("i"))).as("a"),
        when(col("i") === 0, lit(null))
          .otherwise(element_at(col("syms"), col("i") + 1)).as("b"),
        when(col("i") === 0, col("c") * size(col("syms")))
          .otherwise(col("c")).as("m"))
      .groupBy("a", "b").agg(sum("m").as("n"))
      .orderBy(col("a").isNull.desc, col("n").desc,
        concat(col("a"), lit("|"), col("b")).asc)
      .limit(window + 1)
      .collect()
    val (sentinel, pairs) = rows.partition(_.isNullAt(0))
    (pairs.toSeq.map(r => (r.getString(0), r.getString(1), r.getLong(2))),
      sentinel.headOption.fold(0L)(_.getLong(2)))
  }

  /** The order-free non-overlap batch selection over a ranked candidate
    * window (see the object comment). Mirrors the oracle's NOT EXISTS. */
  private[graft] def selectBatch(cands: Seq[(String, String, Long)],
                                 batch: Int): Seq[(String, String, Long)] =
    cands.zipWithIndex.filter { case ((a, b, _), rnk) =>
      !cands.take(rnk).exists { case (ha, hb, _) =>
        ha == a || ha == b || hb == a || hb == b ||
          a == ha + hb || b == ha + hb
      }
    }.map(_._1).take(batch)

  /** The batch-merge fold over a `syms` array column, as SQL expr text:
    * greedy left-to-right single pass, previous symbol = the accumulator's
    * last closed '|'-delimited segment (`element_at(split(acc, '|'), -2)`),
    * a rule fires when "prev|x" is in the set (rules have pairwise-disjoint
    * right sides by selection, so at most one can fire per step); the
    * merged symbol becomes the new prev and stays eligible for further
    * rules, and a just-merged symbol is never re-split (greedy
    * non-overlap). The rule set rides as an array literal (≤ `batch`
    * entries); the oracle replays the identical fold via list_reduce.
    * DeepBpeSpec pins it to an independent plain-Scala greedy model. */
  private[graft] def batchFoldExpr(rules: Seq[(String, String)]): String = {
    val set = rules.map { case (a, b) => s"'${sqlLit(a + "|" + b)}'" }
      .mkString("array(", ",", ")")
    s"""filter(split(aggregate(syms, '|', (acc, x) ->
       CASE WHEN array_contains($set,
              concat(element_at(split(acc, '\\\\|'), -2), '|', x))
            THEN concat(substr(acc, 1, length(acc)
                   - length(element_at(split(acc, '\\\\|'), -2)) - 1),
                 element_at(split(acc, '\\\\|'), -2), x, '|')
            ELSE concat(acc, x, '|') END), '\\\\|'), x -> x <> '')"""
  }
  // NOTE (tried & reverted): feeding the rule set through a broadcast
  // 1-row relation (the embed_kmeans constant-plan pattern) to dodge the
  // per-round codegen compile ADDED a BroadcastExchange job per round and
  // raised the loop's driver gap — 68 → 84 jobs for the 16-round query and
  // the warm gap roughly doubled. The literal form stays.

  /** escape a symbol for safe interpolation into a Spark SQL string
    * literal (backslash first, then quote). */
  private def sqlLit(sym: String): String =
    sym.replace("\\", "\\\\").replace("'", "\\'")
}
