package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-provided parquet tables (TESTDATA.md).
  *
  * `events.parquet` stores `ts` as parquet TIMESTAMP(MICROS,
  * isAdjustedToUTC=false) — Spark reads it as TIMESTAMP_NTZ. The engine keeps
  * the reference's raw-nanosecond epoch contract for the column
  * (`natsMsg_GetTime()` returns ns, /root/reference/src/nats_scan.cpp:749),
  * so `load` rebuilds `ts` as LongType epoch-ns (µs × 1000 — exact, and
  * computed with NTZ-domain `timestampdiff` so the value is independent of
  * the session timezone). `loadEventsRaw` exposes the untouched
  * TIMESTAMP_NTZ column for stores that want parquet-pushable timestamp
  * predicates applied before the conversion.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** Per-session RELATION cache (round-18, optimization guide §1.2/§6):
    * every `spark.read.parquet(path)` call pays DataSource resolution —
    * file listing plus a driver-side footer schema-inference read —
    * measured at 100-300 ms per call on this suite, and a 261-query bench
    * resolves the same ten base tables hundreds of times. A catalog would
    * resolve each table once per session (Spark's own
    * `spark.sql.filesourceTableRelationCacheSize` does exactly this for
    * catalog tables; [[graft.operators.DedupIndex.ensureRegistered]] is
    * the in-repo precedent); this map is that catalog for the path-loaded
    * driver tables. It holds ANALYZED PLANS ONLY — schema + file listing —
    * never row data and never results: every action over a cached relation
    * still scans the parquet from disk (no `.cache()` anywhere here), so
    * bench timings remain full computations from the inputs.
    *
    * Staleness guard: each hit re-stats the table path (one cheap
    * driver-side `getFileStatus`) and re-resolves when mtime or length
    * changed, so a mutated directory can never serve a stale listing.
    * Session keys are weak — a stopped session's entries go with GC. */
  private val resolved = new java.util.WeakHashMap[SparkSession,
    java.util.concurrent.ConcurrentHashMap[String, (Long, Long, DataFrame)]]()

  private def sessionCache(spark: SparkSession)
      : java.util.concurrent.ConcurrentHashMap[String, (Long, Long, DataFrame)] =
    resolved.synchronized {
      var m = resolved.get(spark)
      if (m == null) {
        m = new java.util.concurrent.ConcurrentHashMap[String, (Long, Long, DataFrame)]()
        resolved.put(spark, m)
      }
      m
    }

  private def cachedRelation(spark: SparkSession, key: String, path: String)
                            (mk: => DataFrame): DataFrame = {
    val m = sessionCache(spark)
    val (mtime, len) =
      try {
        val p = new org.apache.hadoop.fs.Path(path)
        val st = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .getFileStatus(p)
        (st.getModificationTime, st.getLen)
      } catch { case _: java.io.IOException => (-1L, -1L) }
    val hit = m.get(key)
    if (hit != null && hit._1 == mtime && hit._2 == len && mtime >= 0) hit._3
    else {
      val df = mk
      m.put(key, (mtime, len, df))
      df
    }
  }

  /** epoch-ns LongType from the parquet TIMESTAMP(MICROS) column —
    * `timestampdiff` between two NTZ values never consults the session
    * timezone, unlike `unix_micros(cast(ts AS TIMESTAMP))` */
  private val tsEpochNs: Column = expr(
    "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', " +
      "cast(ts AS TIMESTAMP_NTZ)) * 1000")

  /** `events` read schema, pinned so `ts` is TIMESTAMP_NTZ regardless of
    * the session's `spark.sql.parquet.inferTimestampNTZ.enabled` (a user
    * turning that off would otherwise decode ts as session-TZ TIMESTAMP and
    * make the epoch-ns rebuild timezone-dependent). */
  private val eventsSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("event_id", LongType),
      StructField("ts", TimestampNTZType),
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType),
      StructField("props", StringType)))
  }

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events")
      cachedRelation(spark, s"ns:$dir/$name", s"$dir/$name.parquet")(
        loadEventsRaw(spark, dir).withColumn("ts", tsEpochNs))
    else
      cachedRelation(spark, s"tbl:$dir/$name", s"$dir/$name.parquet")(
        spark.read.parquet(s"$dir/$name.parquet"))

  /** `events` with `ts` left as the parquet TIMESTAMP_NTZ column (µs):
    * timestamp predicates on it reach the scan as PushedFilters, which the
    * ns-long computed column cannot */
  def loadEventsRaw(spark: SparkSession, dir: String): DataFrame =
    cachedRelation(spark, s"raw:$dir/events", s"$dir/events.parquet")(
      spark.read.schema(eventsSchema).parquet(s"$dir/events.parquet"))

  /** the id column of each table [[replicate]] scales */
  val replicaIds: Map[String, String] =
    Map("documents" -> "doc_id", "embeddings" -> "vec_id", "events" -> "event_id")

  /** table `name` replicated k×, the one corpus scale-up the scale benches
    * share: replica r offsets the id column by r×10⁷, and
    * `documents.source` gains the suffix `_r`, so source-blocked pair
    * joins treat the replicas as disjoint corpora. `events` keeps its
    * TIMESTAMP_NTZ `ts` ([[loadEventsRaw]]), so a written replica reads
    * back through [[load]] like the fixture. */
  def replicate(spark: SparkSession, dir: String, name: String, k: Int): DataFrame = {
    val id = replicaIds(name)
    val base = if (name == "events") loadEventsRaw(spark, dir) else load(spark, dir, name)
    val r = base.withColumn("r", explode(sequence(lit(0), lit(k - 1))))
      .withColumn(id, col(id) + col("r") * lit(10000000L))
    (if (name == "documents")
      r.withColumn("source", concat(col("source"), lit("_"), col("r")))
    else r).drop("r")
  }

  /** TIMESTAMP_NTZ literal at `us` epoch-µs (UTC epoch arithmetic only —
    * no session-timezone dependence) */
  def ntzMicros(us: Long): Column =
    lit(java.time.LocalDateTime.ofEpochSecond(
      Math.floorDiv(us, 1000000L),
      (Math.floorMod(us, 1000000L) * 1000L).toInt,
      java.time.ZoneOffset.UTC))
}
