package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Connected-components label propagation: shapes the oracle data may not
  * exercise — long chains (multi-round convergence) and disjoint clusters. */
class DedupComponentsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  /** threshold 0 forces the distributed iterative path (the default would
    * route these small graphs through the driver union-find fast path) */
  private def components(pairs: Seq[(Long, Long)],
                         smallGraphThreshold: Long = 0L): Map[Long, Long] = {
    import spark.implicits._
    graft.operators.Dedup
      .connectedComponents(pairs.toDF("id1", "id2"), "id1", "id2",
        smallGraphThreshold = smallGraphThreshold)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("chain needs multiple propagation rounds, still converges to the min") {
    // 1-2-3-4-5-6-7-8: diameter 7, min label must travel the whole chain
    val chain = (1L to 7L).map(i => (i, i + 1))
    val c = components(chain)
    assert(c.size == 8)
    assert(c.values.toSet == Set(1L))
  }

  test("disjoint clusters keep separate component ids; pairs direction-free") {
    val c = components(Seq((10L, 11L), (12L, 11L), (20L, 21L), (30L, 31L), (31L, 30L)))
    assert(c(10L) == 10L && c(11L) == 10L && c(12L) == 10L)
    assert(c(20L) == 20L && c(21L) == 20L)
    assert(c(30L) == 30L && c(31L) == 30L)
  }

  test("clique converges in one round") {
    val nodes = (1L to 5L)
    val clique = for (a <- nodes; b <- nodes if a < b) yield (a, b)
    val c = components(clique)
    assert(c.values.toSet == Set(1L))
  }

  test("small-graph fast path (driver union-find) matches the distributed result") {
    // deterministic pseudo-random graph: chains, cliques, singleton pairs,
    // direction flips, duplicate edges — every shape both paths must agree on
    val rnd = new scala.util.Random(42)
    val pairs = (
      (1L to 30L).map(i => (i * 7L, i * 7L + 1L)) ++          // 30 chains
      (0L until 5L).flatMap(k => for {
        a <- 0L until 4L; b <- 0L until 4L if a < b
      } yield (1000L + k * 10 + a, 1000L + k * 10 + b)) ++    // 5 cliques
      Seq((5000L, 5001L), (5001L, 5000L), (5000L, 5001L)) ++  // dupes/flips
      (1 to 40).map(_ => { val a = rnd.nextInt(200).toLong
        val b = rnd.nextInt(200).toLong; (a, b) })            // random mess
    )
    val slow = components(pairs, smallGraphThreshold = 0L)
    val fast = components(pairs, smallGraphThreshold = 100000L)
    assert(fast == slow)
  }

  test("fast path handles empty pair input (streaming clean-batch shape)") {
    val c = components(Seq.empty, smallGraphThreshold = 100000L)
    assert(c.isEmpty)
  }

  /** null-tolerant variant of [[components]]: java.lang.Long columns */
  private def componentsN(pairs: Seq[(java.lang.Long, java.lang.Long)],
                          smallGraphThreshold: Long): Map[Option[Long], Option[Long]] = {
    import spark.implicits._
    graft.operators.Dedup
      .connectedComponents(pairs.toDF("id1", "id2"), "id1", "id2",
        smallGraphThreshold = smallGraphThreshold)
      .collect()
      .map(r => (if (r.isNullAt(0)) None else Some(r.getLong(0))) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
  }

  test("fast path matches distributed on null-containing pairs") {
    def L(x: Long): java.lang.Long = java.lang.Long.valueOf(x)
    // half-null pairs (both orientations), a fully-null pair, and normal
    // edges — the round-12 fast path dropped half-null pairs entirely,
    // diverging from the distributed result (ADVICE round 12)
    val pairs = Seq[(java.lang.Long, java.lang.Long)](
      (L(1), L(2)), (L(2), L(3)),        // normal chain
      (L(5), null),                      // half-null: 5 must still appear
      (null, L(7)),                      // half-null, swapped orientation
      (null, null),                      // fully-null: contributes nothing
      (L(7), L(8)))                      // 7 also in a real component
    val slow = componentsN(pairs, smallGraphThreshold = 0L)
    val fast = componentsN(pairs, smallGraphThreshold = 100000L)
    assert(fast == slow, s"fast=$fast slow=$slow")
    // the pinned semantics themselves: 5 is a singleton, the null node
    // groups to the min label among its non-null partners' components
    assert(fast(Some(5L)) == Some(5L))
    assert(fast(Some(7L)) == Some(7L) && fast(Some(8L)) == Some(7L))
    assert(fast(None) == Some(5L))
  }

  test("fast path matches distributed when pairs are ONLY null-involving") {
    def L(x: Long): java.lang.Long = java.lang.Long.valueOf(x)
    val onlyFullNull = Seq[(java.lang.Long, java.lang.Long)]((null, null))
    assert(componentsN(onlyFullNull, 100000L) == componentsN(onlyFullNull, 0L))
    val onlyHalfNull = Seq[(java.lang.Long, java.lang.Long)]((L(9), null))
    val fast = componentsN(onlyHalfNull, 100000L)
    assert(fast == componentsN(onlyHalfNull, 0L))
    assert(fast == Map(Some(9L) -> Some(9L), None -> Some(9L)))
  }

  test("fast path widens mixed int/long key columns instead of throwing") {
    import spark.implicits._
    val df = Seq((1, 2L), (2, 3L)).toDF("id1", "id2")
    val fast = graft.operators.Dedup.connectedComponents(df, "id1", "id2",
      smallGraphThreshold = 100000L)
    assert(fast.schema("node").dataType == org.apache.spark.sql.types.LongType)
    val m = fast.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    val slow = graft.operators.Dedup.connectedComponents(df, "id1", "id2",
      smallGraphThreshold = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m == slow)
  }

  test("fast path preserves integer key type") {
    import spark.implicits._
    val df = graft.operators.Dedup.connectedComponents(
      Seq((1, 2), (2, 3)).toDF("id1", "id2"), "id1", "id2",
      smallGraphThreshold = 100000L)
    assert(df.schema("node").dataType == org.apache.spark.sql.types.IntegerType)
    assert(df.schema("lbl").dataType == org.apache.spark.sql.types.IntegerType)
    val m = df.collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    assert(m == Map(1 -> 1, 2 -> 1, 3 -> 1))
  }

  test("a graph above the small-graph bound computes its pair input once") {
    // the bounded collect that finds the graph too big and the distributed
    // path after it must share one evaluation of the upstream pair plan
    val evals = spark.sparkContext.longAccumulator("pair input rows")
    val tick = udf { (a: Long) => evals.add(1); a }
    val pairs = spark.range(1L, 40L)
      .select(tick(col("id")).as("id1"), (col("id") + 1).as("id2"))
      .distinct()
    val c = graft.operators.Dedup.connectedComponents(pairs, "id1", "id2",
        smallGraphThreshold = 10L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(c == (1L to 40L).map(_ -> 1L).toMap)
    assert(evals.value == 39L, s"pair input rows evaluated ${evals.value} times")
  }
}
