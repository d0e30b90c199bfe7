package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.operators.Bpe

/** The BPE trainer's exactness claims, proven rather than asserted:
  *
  *  1. the SQL batch-merge fold ≡ an INDEPENDENT plain-Scala greedy model
  *     (left-to-right, merged symbol becomes the new prev) for arbitrary
  *     rule sets — including overlapping/chaining ones the selector would
  *     never emit, so the fold's semantics are pinned, not just its use;
  *  2. for rule sets the non-overlap selector actually emits, ONE batch
  *     fold ≡ applying the member rules ONE AT A TIME, in rank order AND
  *     in reverse — the commutation argument that makes a batched round
  *     exactly the sequential result of its members;
  *  3. the selector itself: top-1 always survives, survivors are pairwise
  *     non-conflicting, and the batch bound holds;
  *  4. the whole trainer ≡ a plain-Scala reference trainer (weighted pair
  *     counts, independent selection, the model fold): sequential greedy
  *     BPE at (batch 1, window 1), the batched rounds at (16, 64) — merges,
  *     supports and per-round symbol totals — and it stops, table
  *     unchanged, when no adjacent pair is left.
  */
class DeepBpeSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  /** independent greedy model of one batch round: left-to-right, a rule
    * (prev, x) merges into prev+x which stays the open symbol */
  private def model(syms: Seq[String], rules: Set[(String, String)]): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    syms.foreach { x =>
      if (out.nonEmpty && rules.contains((out.last, x)))
        out(out.length - 1) = out.last + x
      else out += x
    }
    out.toSeq
  }

  private def foldViaSql(words: Seq[Seq[String]],
                         rules: Seq[(String, String)]): Seq[Seq[String]] = {
    import spark.implicits._
    val df = words.zipWithIndex.map { case (w, i) => (i, w) }.toDF("i", "syms")
    df.withColumn("syms", expr(Bpe.batchFoldExpr(rules)))
      .orderBy("i").collect()
      .map(_.getSeq[String](1).toSeq).toSeq
  }

  private val alphabet = "abcdef".map(_.toString)

  test("SQL batch fold == plain-Scala greedy model on random words and " +
    "ARBITRARY rule sets (overlapping and chaining included)") {
    val rnd = new scala.util.Random(7)
    (1 to 25).foreach { trial =>
      val words = Seq.fill(40)(
        Seq.fill(1 + rnd.nextInt(10))(alphabet(rnd.nextInt(alphabet.length))))
      // arbitrary rules over single letters AND over merged symbols (chains)
      val rules = (Seq.fill(4)((alphabet(rnd.nextInt(6)), alphabet(rnd.nextInt(6)))) ++
        Seq(("ab", "c"), ("a", "bc"))).distinct
      val got = foldViaSql(words, rules)
      val want = words.map(model(_, rules.toSet))
      assert(got == want, s"trial $trial rules=$rules")
    }
  }

  test("batch fold == sequential one-rule folds (rank order AND reversed) " +
    "for selector-emitted rule sets") {
    val rnd = new scala.util.Random(11)
    (1 to 15).foreach { trial =>
      val words = Seq.fill(60)(
        Seq.fill(1 + rnd.nextInt(12))(alphabet(rnd.nextInt(alphabet.length))))
      // candidate window from actual pair counts, ranked like the operator
      val counts = scala.collection.mutable.Map[(String, String), Long]()
      words.foreach(w => w.sliding(2).foreach {
        case Seq(a, b) => counts((a, b)) = counts.getOrElse((a, b), 0L) + 1
        case _ => ()
      })
      val cands = counts.toSeq.map { case ((a, b), n) => (a, b, n) }
        .sortBy { case (a, b, n) => (-n, a + "|" + b) }
      val sel = Bpe.selectBatch(cands, batch = 3)
      if (sel.nonEmpty) {
        val rules = sel.map(p => (p._1, p._2))
        val batch = foldViaSql(words, rules)
        def sequential(order: Seq[(String, String)]): Seq[Seq[String]] =
          order.foldLeft(words)((ws, r) =>
            ws.map(model(_, Set(r)))) // one-rule model per step
        assert(batch == sequential(rules), s"trial $trial rules=$rules")
        assert(batch == sequential(rules.reverse),
          s"trial $trial reversed rules=$rules")
      }
    }
  }

  test("selector: top-1 survives, survivors pairwise non-conflicting, " +
    "batch bound respected") {
    val cands = Seq(
      ("a", "b", 100L), ("b", "c", 90L), ("c", "d", 80L), ("e", "f", 70L),
      ("ab", "c", 60L), ("f", "f", 50L), ("x", "y", 40L), ("y", "z", 30L))
    val sel = Bpe.selectBatch(cands, batch = 3)
    assert(sel.head == ("a", "b", 100L)) // top-1 always in
    // (b,c) conflicts with (a,b) via b; (c,d) conflicts with (b,c)? —
    // conflict is vs ALL higher-ranked candidates, selected or not:
    // (c,d) shares c with (b,c) → out; (e,f) clean → in; (ab,c) equals
    // (a,b)'s concat → out; (f,f) shares f with (e,f) → out; (x,y) in;
    // batch=3 stops there
    assert(sel == Seq(("a", "b", 100L), ("e", "f", 70L), ("x", "y", 40L)))
    def conflict(p: (String, String, Long), q: (String, String, Long)) =
      p._1 == q._1 || p._1 == q._2 || p._2 == q._1 || p._2 == q._2 ||
        p._1 == q._1 + q._2 || q._1 == p._1 + p._2
    sel.combinations(2).foreach { case Seq(p, q) =>
      assert(!conflict(p, q) && !conflict(q, p), s"$p conflicts $q")
    }
    assert(sel.length <= 3)
  }

  /** plain-Scala reference trainer: weighted pair counts ranked by
    * (n desc, "a|b" asc), the top-`window` window, a candidate kept iff it
    * conflicts with no higher-ranked one (written out here, independent of
    * Bpe.selectBatch), the `model` fold, and a stop when no pair is left */
  private def referenceTrain(vocab: Seq[(String, Long)], rounds: Int,
                             batch: Int, window: Int): Seq[Bpe.Merge] = {
    var words = vocab.map { case (w, c) => (w.map(_.toString): Seq[String], c) }
    val out = scala.collection.mutable.ArrayBuffer[Bpe.Merge]()
    var it = 0
    var done = false
    while (it < rounds && !done) {
      it += 1
      val counts = scala.collection.mutable.Map[(String, String), Long]()
      words.foreach { case (syms, c) =>
        syms.sliding(2).foreach {
          case Seq(a, b) => counts((a, b)) = counts.getOrElse((a, b), 0L) + c
          case _ => ()
        }
      }
      val ranked = counts.toSeq
        .sortBy { case ((a, b), n) => (-n, a + "|" + b) }.take(window)
      val kept = ranked.indices.filter { i =>
        val (a, b) = ranked(i)._1
        ranked.take(i).forall { case ((ha, hb), _) =>
          !Set(ha, hb).contains(a) && !Set(ha, hb).contains(b) &&
            a != ha + hb && b != ha + hb
        }
      }.take(batch).map(ranked)
      if (kept.isEmpty) done = true
      else {
        val rules = kept.map(_._1).toSet
        words = words.map { case (syms, c) => (model(syms, rules), c) }
        val total = words.map { case (syms, c) => c * syms.size }.sum
        out ++= kept.zipWithIndex.map { case (((a, b), n), ord) =>
          Bpe.Merge(it, ord + 1, a, b, n, total) }
      }
    }
    out.toSeq
  }

  private def vocabDf(vocab: Seq[(String, Long)]) = {
    import spark.implicits._
    vocab.toDF("w", "c")
  }

  /** distinct random words with random weights, plus the '' token that
    * consecutive spaces produce (zero symbols) */
  private def randomVocab(seed: Int): Seq[(String, Long)] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(80)(Seq.fill(1 + rnd.nextInt(8))(alphabet(rnd.nextInt(6))).mkString)
      .distinct.map(w => (w, 1L + rnd.nextInt(20))) :+ (("", 3L))
  }

  test("trainer at (batch 1, window 1) == sequential greedy BPE " +
    "(plain-Scala reference: merges, supports, per-round symbol totals)") {
    Seq(3, 5).foreach { seed =>
      val vocab = randomVocab(seed)
      val got = Bpe.train(vocabDf(vocab), rounds = 8, batch = 1, window = 1)
        .merges
      assert(got == referenceTrain(vocab, rounds = 8, batch = 1, window = 1),
        s"seed $seed")
      assert(got.map(_.it) == (1 to 8), s"seed $seed")
    }
  }

  test("trainer at (batch 16, window 64) == the batched rounds " +
    "(plain-Scala reference: merges, supports, per-round symbol totals)") {
    Seq(3, 5).foreach { seed =>
      val vocab = randomVocab(seed)
      val got = Bpe.train(vocabDf(vocab), rounds = 6, batch = 16, window = 64)
        .merges
      assert(got == referenceTrain(vocab, rounds = 6, batch = 16, window = 64),
        s"seed $seed")
      assert(got.exists(_.ord > 1), s"seed $seed: no round merged a batch")
    }
  }

  test("no adjacent pair left: training stops with the merges so far and " +
    "the table unchanged, and scans no further rounds") {
    import spark.implicits._
    val singles = Seq("a" -> 5L, "b" -> 2L, "c" -> 1L, "" -> 1L)
    def symbolsOf(t: Bpe.Trained): Map[String, Seq[String]] =
      t.symbols.select("w", "syms").as[(String, Seq[String])].collect().toMap
    val measure = new graft.Measure(spark)
    def jobs(rounds: Int): (Bpe.Trained, Int) = {
      val (t, rec) = measure.run(s"bpe-singles-$rounds")(
        Bpe.train(vocabDf(singles), rounds, batch = 1, window = 1))
      (t, rec.jobs)
    }
    val (one, jobs1) = jobs(1)
    val (many, jobs16) = jobs(16)
    assert(one.merges.isEmpty && many.merges.isEmpty)
    assert(symbolsOf(many) == singles.map { case (w, _) =>
      w -> w.map(_.toString) }.toMap)
    assert(jobs16 == jobs1, s"16 rounds ran $jobs16 jobs, 1 round $jobs1")
    // a vocabulary exhausted after one merge keeps that round's log entry
    val ab = Bpe.train(vocabDf(Seq("ab" -> 2L, "b" -> 1L)), rounds = 4,
      batch = 16, window = 64)
    assert(ab.merges == Seq(Bpe.Merge(1, 1, "a", "b", 2L, 3L)))
    assert(symbolsOf(ab) == Map("ab" -> Seq("ab"), "b" -> Seq("b")))
    // an empty vocabulary (an empty corpus) trains to nothing
    assert(Bpe.train(vocabDf(Nil), rounds = 2, batch = 1, window = 1)
      .merges.isEmpty)
    graft.Caches.drain()
  }
}
