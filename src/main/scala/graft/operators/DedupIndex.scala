package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persistent MinHash-LSH dedup index: sign the corpus once, save the band
  * relation BUCKETED by band key, reload and probe every arriving batch —
  * the other half of the `dedup_incremental` story. That query shows the
  * O(batch) join INTO an in-session index; this operator is what a
  * production pipeline actually persists between runs (reference behavior:
  * stream-scoped dedup state that outlives a query, cf. the durable
  * consumer cursors of `/root/reference/src/nats_scan.cpp`'s JetStream
  * scans — state survives the process, work per arrival stays O(new)).
  *
  * On-disk layout (all parquet, all bucketed):
  *   `indexDir/bands` — (bk STRING, doc_id LONG), bucketed + sorted by
  *       `bk` = "band:band_key". Bucketing is the 100 TB lever: a probe
  *       join on `bk` reuses the files' hash layout, so the BILLION-row
  *       index side never shuffles — only the arriving batch is exchanged
  *       (asserted in `DedupIndexSpec`). A fresh shuffle of the index side
  *       at every batch would dwarf the probe itself.
  *   `indexDir/sigs` — (doc_id LONG, sig ARRAY<LONG>), bucketed + sorted
  *       by `doc_id`: the verify join (candidate pairs → signature
  *       agreement) co-locates the same way.
  *   `indexDir/meta` — one row (num_hashes, bands, buckets, generation).
  *
  * Maintenance (round 13) is generation-addressed: [[compact]] and
  * [[remove]] rewrite both relations into fresh `bands_gN`/`sigs_gN`
  * dirs and flip `meta.generation` as the single commit point; gen 0 is
  * the original layout above. Appends and probes always address the LIVE
  * generation through the registered table locations. Round 14 hardens
  * the flip: meta commits by directory RENAME (never delete-then-write of
  * the live meta), racing writers resolve by an optimistic generation
  * check (one winner, one loud abort), and superseded generations are
  * RETAINED for a grace window (readers bound to them finish; audits can
  * time-travel via [[bandsRelationAt]]/[[probePairsAt]]) until
  * [[expireGenerations]] reclaims them. Round 15 makes the flip truly
  * ATOMIC ([[IndexCommit]]): rewrites stage into unique per-attempt dirs
  * and commit (CAS re-read → install → flip) under an atomic
  * create-if-absent commit lock, appends participate via an
  * intent/marker protocol the rewrite must observe before flipping, and
  * rebuilds stage into generation N+1 instead of overwriting the live
  * gen-0 dirs in place.
  *
  * Bucketed parquet needs a catalog entry to be read AS bucketed (the
  * bucket spec lives in the table definition, not the files), so
  * [[ensureRegistered]] re-issues `CREATE TABLE … CLUSTERED BY … INTO n
  * BUCKETS LOCATION …` DDL in any session that doesn't know the table yet
  * — sessions come and go, the index and its layout don't.
  *
  * `build(a); append(b)` is probe-identical to `build(a ∪ b)`: signatures
  * are a pure per-row function and appended files land in the same bucket
  * layout (saveAsTable append validates the spec) — `DedupIndexSpec`
  * asserts row identity, and `probePairs` results equal
  * [[Dedup.incrementalMinhashPairs]] over the same split (the
  * `dedup_index_probe` oracle reuses the `dedup_incremental` SQL shape).
  */
object DedupIndex {

  final case class Spec(numHashes: Int, bands: Int, buckets: Int)

  /** test seam: runs between a maintenance rewrite and its CAS commit, so
    * a spec can interleave a racing writer DETERMINISTICALLY (thread-based
    * racing is flaky by construction). No-op in production. */
  private[graft] var testBeforeCommit: () => Unit = () => ()

  /** One CANONICAL location per index: the filesystem-qualified absolute
    * path, so `./idx`, `idx/`, and `file:/cwd/idx` all name the same
    * catalog entry (a 32-bit String.hashCode over the raw spelling could
    * both collide across different paths and split one path into duplicate
    * tables). */
  private def canonical(spark: SparkSession, indexDir: String): String = {
    val p = new org.apache.hadoop.fs.Path(indexDir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .makeQualified(p).toString
  }

  /** deterministic per-location table names (catalog-safe identifier):
    * SHA-256 of the canonical path, truncated to 64 bits — collision odds
    * are birthday-bound at ~2^32 distinct indexes per catalog, vs the
    * routine collisions of a 32-bit hashCode */
  private def base(spark: SparkSession, indexDir: String): String = {
    val digest = java.security.MessageDigest.getInstance("SHA-256")
      .digest(canonical(spark, indexDir).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    "graft_dedup_idx_" + digest.take(8).map("%02x".format(_)).mkString
  }

  private def bandsTable(spark: SparkSession, indexDir: String): String =
    base(spark, indexDir) + "_bands"
  private def sigsTable(spark: SparkSession, indexDir: String): String =
    base(spark, indexDir) + "_sigs"

  /** THE band-bucket key encoding — every producer and prober of the index
    * (build, append, probePairs, the streaming gate) must derive `bk` from
    * this one definition or the candidate join silently matches nothing */
  def bk(band: org.apache.spark.sql.Column,
         bandKey: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    concat_ws(":", band, bandKey)

  private def bandRows(sig: DataFrame, idCol: String,
                       spec: Spec): (DataFrame, DataFrame) = {
    val sigs = sig.select(col(idCol).cast("long").as("doc_id"), col("sig"))
    val bands = Dedup.minhashBands(sig, idCol, spec.numHashes, spec.bands)
      .select(bk(col("band"), col("band_key")).as("bk"),
        col(idCol).cast("long").as("doc_id"))
    (bands, sigs)
  }

  def build(docs: DataFrame, idCol: String, textCol: String, spec: Spec,
            indexDir: String): Unit =
    // the two table writes are separate actions — materialize the
    // signature pass once instead of re-hashing the corpus per write
    buildFromSignatures(graft.Caches.tracked(
      Dedup.minhashSignatures(docs, idCol, textCol, spec.numHashes)),
      idCol, spec, indexDir)

  /** build from an already-computed `minhashSignatures` frame (callers
    * that signed the docs for their own joins — e.g. the streaming gate —
    * reuse the pass instead of re-hashing).
    *
    * A REBUILD over an existing index never touches the live generation
    * (round-14 advisory: the old in-place overwrite of the gen-0 dirs
    * meant a crash mid-rebuild destroyed the live index while meta still
    * pointed at it, and concurrent readers lost files mid-scan): the new
    * relations stage into generation N+1 and commit via the same locked
    * meta flip as [[compact]]/[[remove]] — meta carries BOTH spec and
    * generation, so a rebuild that changes the hash config swaps config
    * and data together, never a new spec decoding old rows. */
  def buildFromSignatures(sig: DataFrame, idCol: String, spec: Spec,
                          indexDir: String): Unit = {
    val spark = sig.sparkSession
    // fail BEFORE any data lands when the store can't give the commit
    // protocol its atomic rename / create-if-absent primitives
    IndexCommit.requireAtomicCommitStore(fs(spark, indexDir), indexDir)
    if (!exists(spark, indexDir)) {
      // fresh build: persist the index's stale horizon FIRST (the one
      // liveness number every later session derives its lock TTL,
      // heartbeat cadence and reap ages from — graft.index.staleHorizonMs
      // in the Hadoop conf, default 15 min), then gen-0 dirs, then meta.
      // A crash before the meta commit leaves "no index yet" — the truth,
      // since no prior state existed.
      IndexCommit.initHorizon(fs(spark, indexDir), indexDir,
        spark.sparkContext.hadoopConfiguration)
      spark.sql(s"DROP TABLE IF EXISTS ${bandsTable(spark, indexDir)}")
      spark.sql(s"DROP TABLE IF EXISTS ${sigsTable(spark, indexDir)}")
      val (bands, sigs) = bandRows(sig, idCol, spec)
      // the two relation writes are INDEPENDENT jobs over the same cached
      // signature pass — overlap them (guide §2.6; ParallelOps)
      ParallelOps.inParallel(
        bands.write.format("parquet").mode("overwrite")
          .bucketBy(spec.buckets, "bk").sortBy("bk")
          .option("path", dataDir(indexDir, "bands", 0))
          .saveAsTable(bandsTable(spark, indexDir)),
        sigs.write.format("parquet").mode("overwrite")
          .bucketBy(spec.buckets, "doc_id").sortBy("doc_id")
          .option("path", dataDir(indexDir, "sigs", 0))
          .saveAsTable(sigsTable(spark, indexDir)))
      IndexCommit.withCommitLock(fs(spark, indexDir), indexDir,
        "dedup build") {
        writeMeta(spark, spec, generation = 0, indexDir)
      }
    } else {
      val gen = loadMeta(spark, indexDir)._2
      // the horizon this rewrite TRUSTS is the one read at marker-listing
      // time (raise-only keeps a concurrent raise sound: reapers only
      // ever use a horizon >= this one)
      val horizon = IndexCommit.horizonMs(fs(spark, indexDir), indexDir)
      val markersListedAt = System.currentTimeMillis()
      val markersSeen = IndexCommit.commitMarkers(fs(spark, indexDir), indexDir)
      val (bands, sigs) = bandRows(sig, idCol, spec)
      stageAndCommit(spark, indexDir, spec, gen, markersSeen, markersListedAt,
        horizon, retainGenerations = 1) { (bandsStage, sigsStage) =>
        ParallelOps.inParallel(
          writeBucketed(spark, bands, "bk", spec, bandsStage),
          writeBucketed(spark, sigs, "doc_id", spec, sigsStage))
      }
    }
  }

  /** generation-addressed data dirs: gen 0 is the original `bands`/`sigs`
    * layout (append-in-place); each compaction writes generation N+1 into
    * fresh `<kind>_gN+1` dirs and flips `meta` — the single commit point —
    * so a reader never observes a half-rewritten index */
  private def dataDir(indexDir: String, kind: String, gen: Int): String =
    if (gen == 0) s"$indexDir/$kind" else s"$indexDir/${kind}_g$gen"

  private def fs(spark: SparkSession, path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Meta commit via rename, not write-in-place: `mode(overwrite)` on the
    * live `meta` is delete-then-write — a crash mid-write leaves NO meta,
    * and a missing meta used to read as "no index", silently
    * bootstrapping a fresh index over live data (round-13 advisory). The
    * meta is one JSON FILE (4 ints — round 14: a parquet dir here cost a
    * full Spark job per [[loadMeta]], and loadMeta runs several times per
    * index operation): it lands complete in `meta_tmp`, the swap is two
    * single-file RENAMES, and every state a crash can leave — `meta_tmp`
    * orphan, `meta_old` orphan, or the renames half-done — is either
    * self-healing or detected loudly by [[requireUnambiguous]]. Indexes
    * written before round 14 carry a parquet DIRECTORY at `meta`;
    * [[loadMeta]] reads both, and the next maintenance commit upgrades
    * the format (the dir renames aside exactly like a file). */
  private def writeMeta(spark: SparkSession, spec: Spec, generation: Int,
                        indexDir: String): Unit = {
    val f = fs(spark, indexDir)
    // COMMIT FENCE (round 16): abort before the flip if this holder's
    // lease was broken while it was stalled — see IndexCommit.assertLockHeld
    IndexCommit.assertLockHeld(f, indexDir)
    def p(s: String) = new org.apache.hadoop.fs.Path(s"$indexDir/$s")
    val content =
      s"""{"num_hashes":${spec.numHashes},"bands":${spec.bands},""" +
        s""""buckets":${spec.buckets},"generation":$generation}"""
    val out = f.create(p("meta_tmp"), true)
    try out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    f.delete(p("meta_old"), true) // failed prior swap
    if (f.exists(p("meta"))) {
      if (!f.rename(p("meta"), p("meta_old")))
        throw new IllegalStateException(
          s"dedup index meta commit: rename $indexDir/meta -> meta_old failed")
    }
    if (!f.rename(p("meta_tmp"), p("meta")))
      throw new IllegalStateException(
        s"dedup index meta commit: rename $indexDir/meta_tmp -> meta failed" +
          " — recover by renaming meta_old back to meta")
    f.delete(p("meta_old"), true)
    ()
  }

  /** Fail LOUDLY when meta is absent but evidence of a managed index is
    * present — the ambiguous crashed-mid-commit state. Treating it as "no
    * index" is the silent-loss path: a streaming gate would bootstrap a
    * fresh index and every previously-accepted document would re-enter.
    * Evidence = a commit that STARTED swapping the live meta (`meta_old`;
    * every rewrite commit renames meta aside before installing the new
    * one, so a crash inside the swap always leaves it) or maintenance
    * generation dirs (`bands_gN`) without any meta — an index that HAD a
    * committed meta lost it externally. NOT evidence: a bare `bands` dir
    * ([[graft.streaming.StreamingDedup]]'s plain-parquet mode keeps that
    * exact layout with no meta at all), or `meta_tmp` alone (an INITIAL
    * build that crashed before its first commit — no prior state existed,
    * so "no index yet" is the truth). */
  private def requireUnambiguous(spark: SparkSession, indexDir: String): Unit = {
    val f = fs(spark, indexDir)
    def has(s: String) =
      f.exists(new org.apache.hadoop.fs.Path(s"$indexDir/$s"))
    if (!has("meta") && (has("meta_old") ||
        generationsOnDisk(spark, indexDir).exists(_ > 0)))
      throw new IllegalStateException(
        s"dedup index at $indexDir has staging/generation dirs but no meta " +
          "— a crashed meta commit. Recover: if meta_old exists, rename it " +
          "back to meta; else rebuild the index. Refusing to treat it as " +
          "empty.")
  }

  /** one mapper for every meta read (thread-safe once configured) */
  private val metaMapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def loadMeta(spark: SparkSession, indexDir: String): (Spec, Int) = {
    requireUnambiguous(spark, indexDir)
    readMeta(spark, indexDir)
  }

  private def readMeta(spark: SparkSession, indexDir: String): (Spec, Int) = {
    val p = new org.apache.hadoop.fs.Path(s"$indexDir/meta")
    val f = fs(spark, indexDir)
    if (f.getFileStatus(p).isFile) {
      // round-14 format: one JSON file, read driver-side (no Spark job —
      // loadMeta runs several times per index operation)
      val in = f.open(p)
      val txt =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      val node = metaMapper.readTree(txt)
      (Spec(node.get("num_hashes").asInt(), node.get("bands").asInt(),
        node.get("buckets").asInt()), node.get("generation").asInt())
    } else {
      // legacy parquet-directory meta (pre-round-14 indexes)
      val df = spark.read.parquet(p.toString)
      val r = df.collect().head
      val spec = Spec(r.getAs[Int]("num_hashes"), r.getAs[Int]("bands"),
        r.getAs[Int]("buckets"))
      // indexes written before compaction existed carry no generation column
      val gen = if (df.schema.fieldNames.contains("generation"))
        r.getAs[Int]("generation") else 0
      (spec, gen)
    }
  }

  /** true once `build` has written this index's meta; throws (never a
    * silent `false`) on the crashed-mid-commit state where data dirs exist
    * without meta */
  def exists(spark: SparkSession, indexDir: String): Boolean = {
    requireUnambiguous(spark, indexDir)
    fs(spark, indexDir)
      .exists(new org.apache.hadoop.fs.Path(s"$indexDir/meta"))
  }

  /** the LIVE generation number (0 for a fresh build) */
  def liveGeneration(spark: SparkSession, indexDir: String): Int =
    loadMeta(spark, indexDir)._2

  /** every generation with band data still on disk, ascending — the live
    * one plus any superseded generations retained for in-flight readers
    * and time-travel ([[bandsRelationAt]]) until [[expireGenerations]] */
  def generationsOnDisk(spark: SparkSession, indexDir: String): Seq[Int] = {
    val f = fs(spark, indexDir)
    val root = new org.apache.hadoop.fs.Path(indexDir)
    if (!f.exists(root)) Seq.empty
    else {
      val gN = "bands_g(\\d+)".r
      f.listStatus(root).toSeq.filter(_.isDirectory)
        .map(_.getPath.getName)
        .collect { case "bands" => 0; case gN(n) => n.toInt }
        .sorted
    }
  }

  /** the band relation (bk, doc_id) as the registered BUCKETED table */
  def bandsRelation(spark: SparkSession, indexDir: String): DataFrame = {
    ensureRegistered(spark, indexDir)
    spark.table(bandsTable(spark, indexDir))
  }

  /** the signature relation (doc_id, sig) as the registered BUCKETED table */
  def sigsRelation(spark: SparkSession, indexDir: String): DataFrame = {
    ensureRegistered(spark, indexDir)
    spark.table(sigsTable(spark, indexDir))
  }

  def loadSpec(spark: SparkSession, indexDir: String): Spec =
    loadMeta(spark, indexDir)._1

  /** Last-seen data-dir mtimes per (session, index): the O(1) freshness
    * probe behind [[ensureRegistered]]'s cross-session staleness fix.
    * Keyed by the SESSION OBJECT through a WeakHashMap, not an identity
    * hash (round-15 advisory: `System.identityHashCode` values are not
    * unique — two live sessions in one JVM could collide, one session's
    * `put` masking the other's staleness and silently re-opening the
    * under-probe this cache exists to close — and hash keys never evict,
    * a slow leak in a session-churning JVM; weak keys make collisions
    * impossible by identity and let dead sessions' entries go with GC). */
  private val seenMtimes = new java.util.WeakHashMap[SparkSession,
    java.util.concurrent.ConcurrentHashMap[String, (Long, Long)]]()

  private def sessionMtimes(spark: SparkSession)
      : java.util.concurrent.ConcurrentHashMap[String, (Long, Long)] =
    seenMtimes.synchronized {
      var m = seenMtimes.get(spark)
      if (m == null) {
        m = new java.util.concurrent.ConcurrentHashMap[String, (Long, Long)]()
        seenMtimes.put(spark, m)
      }
      m
    }

  /** Re-register the bucketed tables in THIS session's catalog (no-op if
    * already known AND its cached DDL still matches the on-disk meta). The
    * DDL carries the bucket spec; the data files are untouched. A rebuild
    * with a different bucket count in ANOTHER session would otherwise
    * leave this session's DDL stale — and a stale bucket count silently
    * voids the exchange-free probe-join guarantee — so a registered
    * table whose bucket count or location disagrees with meta is dropped
    * and re-issued.
    *
    * CROSS-SESSION append freshness (round 15): Spark caches a catalog
    * table's resolved relation — file listing included — per session,
    * and only invalidates it for THIS session's own writes. An append
    * from ANOTHER session (a second gate, a batch loader) would be
    * invisible to this session's probes until a manual REFRESH TABLE —
    * a silently-incomplete dedup probe, the worst failure mode for a
    * gate. Maintenance flips are already covered (the generation changes
    * and the DDL re-issues); same-generation appends are detected by an
    * O(1) mtime probe of the live data dirs (a file landing in a
    * directory bumps its mtime on HDFS and POSIX alike) and the cached
    * relation is refreshed ONLY when something actually changed — no
    * per-probe re-listing tax when the index is quiet. */
  def ensureRegistered(spark: SparkSession, indexDir: String): Spec = {
    val (spec, gen) = loadMeta(spark, indexDir)
    registerAt(spark, indexDir, spec, gen)
    spec
  }

  /** [[ensureRegistered]]'s DDL and freshness half, for a meta already read */
  private def registerAt(spark: SparkSession, indexDir: String, spec: Spec,
                         gen: Int): Unit = {
    def register(table: String, dataDir: String, bucketCol: String): Unit = {
      if (spark.catalog.tableExists(table)) {
        val meta = spark.sessionState.catalog.getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier(table))
        val okBuckets = meta.bucketSpec.exists(_.numBuckets == spec.buckets)
        val okLoc = meta.storage.locationUri.exists(u =>
          canonical(spark, u.toString) == canonical(spark, dataDir))
        if (okBuckets && okLoc) return
        spark.sql(s"DROP TABLE $table") // stale DDL from a prior build
      }
      // FIXED schema, never inferred from the files: the relations' shapes
      // are this operator's own contract ([[bandRows]]), and inference
      // fails outright on a generation dir a remove-all left empty —
      // registering from DDL keeps an emptied index readable (zero rows)
      val ddlCols =
        if (bucketCol == "bk") "bk STRING, doc_id BIGINT"
        else "doc_id BIGINT, sig ARRAY<BIGINT>"
      spark.sql(
        s"""CREATE TABLE $table ($ddlCols) USING PARQUET
           |CLUSTERED BY ($bucketCol) SORTED BY ($bucketCol)
           |INTO ${spec.buckets} BUCKETS
           |LOCATION '$dataDir'""".stripMargin)
      ()
    }
    register(bandsTable(spark, indexDir), dataDir(indexDir, "bands", gen), "bk")
    register(sigsTable(spark, indexDir), dataDir(indexDir, "sigs", gen), "doc_id")
    val f = fs(spark, indexDir)
    def mtime(d: String): Long =
      try f.getFileStatus(new org.apache.hadoop.fs.Path(d)).getModificationTime
      catch { case _: java.io.FileNotFoundException => 0L }
    val now = (mtime(dataDir(indexDir, "bands", gen)),
      mtime(dataDir(indexDir, "sigs", gen)))
    if (sessionMtimes(spark).put(canonical(spark, indexDir), now) != now) {
      // files changed since this session last looked (another session's
      // append, or our own — a redundant refresh is lazy and cheap)
      spark.catalog.refreshTable(bandsTable(spark, indexDir))
      spark.catalog.refreshTable(sigsTable(spark, indexDir))
    }
  }

  /** An index as one caller saw it: hash config and the registered table
    * names. See [[resolve]]. */
  private[graft] final case class Resolved(spec: Spec, bandsTable: String,
                                           sigsTable: String)

  /** Resolve an index ONCE for a caller that probes it and then appends to
    * it in one call (the streaming gate): one [[requireUnambiguous]], one
    * meta read, one catalog registration and one cross-session freshness
    * check. None when no index has been built at `indexDir`. */
  private[graft] def resolve(spark: SparkSession,
                             indexDir: String): Option[Resolved] =
    if (!exists(spark, indexDir)) None
    else {
      val (spec, gen) = readMeta(spark, indexDir)
      registerAt(spark, indexDir, spec, gen)
      Some(Resolved(spec, bandsTable(spark, indexDir),
        sigsTable(spark, indexDir)))
    }

  /** COMPACTION: rewrite each table into ONE file per bucket — the
    * small-files answer for a long-lived index. Every [[append]] batch
    * adds one file per touched bucket, so after thousands of ingest
    * batches a probe opens thousands of parquet footers per bucket and
    * the NameNode/listing cost grows without bound; compaction collapses
    * a bucket's file set back to a single sorted file while preserving
    * the EXACT bucket layout (same hash, same count — [[probePairs]]
    * stays exchange-free on the index side, asserted in `DedupIndexSpec`).
    *
    * Cost: ONE clustered exchange of the index relations themselves —
    * `repartition(buckets, bucketCol)` uses the same murmur3 hash as the
    * bucketed-write assignment, so each task holds exactly one bucket and
    * writes exactly one file. The corpus is never re-signed, re-read, or
    * re-shuffled.
    *
    * Crash safety (generation scheme): the rewrite lands in fresh
    * `bands_gN/sigs_gN` dirs; `meta` flips to the new generation as the
    * single commit point. A crash before the flip leaves the old
    * generation live (orphan gN dirs are overwritten by the next
    * attempt); a crash after it leaves the new generation live with the
    * old generation retained — reclaimed by the retention policy
    * (`retainGenerations`) or an explicit [[expireGenerations]]. */
  def compact(spark: SparkSession, indexDir: String,
              retainGenerations: Int = 1): Unit =
    rewriteGeneration(spark, indexDir, identity, retainGenerations)

  /** REMOVE documents from the index — the right-to-be-forgotten /
    * rolling-window half of the lifecycle (a training pipeline that must
    * drop a revoked source cannot re-sign a 100 TB corpus to do it). The
    * ids arrive as a DataFrame (arbitrarily large: the filter is a
    * distributed LEFT ANTI join, never a collected set) and BOTH
    * relations are rewritten without them through the same generation
    * flip as [[compact]] — so a remove also compacts, and the bucket
    * layout survives (probe joins stay exchange-free). `probePairs`
    * after `remove(ids)` is row-identical to an index never containing
    * them (`DedupIndexSpec` + the lifecycle property test). */
  def remove(spark: SparkSession, indexDir: String, ids: DataFrame,
             idCol: String, retainGenerations: Int = 1): Unit = {
    // tracked: the drop set feeds BOTH relation rewrites (bands + sigs) —
    // an expensive caller-side derivation would otherwise run twice
    val drop = graft.Caches.tracked(
      ids.select(col(idCol).cast("long").as("doc_id")).distinct())
    rewriteGeneration(spark, indexDir,
      df => df.join(drop, Seq("doc_id"), "left_anti"), retainGenerations)
  }

  /** Rewrite both relations into generation N+1 (one clustered exchange
    * of the INDEX — the corpus is never re-read or re-signed) and flip
    * meta as the single commit point. `transform` filters/rewrites rows
    * (identity = pure compaction); both relations carry `doc_id`.
    *
    * Concurrency (round-14 + round-15 hardening, see [[IndexCommit]]):
    *  - WRITERS stage into UNIQUE per-attempt dirs and commit under the
    *    index's commit LOCK: generation re-read, staging install (rename)
    *    and meta flip execute under mutual exclusion, so two racing
    *    compact/remove calls resolve to one winner and one loud abort —
    *    never a silently-discarded rewrite (a lost remove() is a deletion
    *    request that LOOKS committed) and never a racer deleting a dir
    *    another writer already committed.
    *  - APPENDS racing the rewrite are observed: the rewrite lists append
    *    commit markers BEFORE its snapshot read and aborts inside the
    *    lock if any append is in flight (live intent) or committed since
    *    (new marker) — closing the round-14 window where a rewrite could
    *    flip a snapshot missing freshly-appended rows.
    *  - READERS planned against the old generation survive the flip:
    *    superseded generations are RETAINED (`retainGenerations` newest,
    *    default 1 — the log-structured-table snapshot-expiry pattern)
    *    instead of deleted at commit, and reclaimed later by
    *    [[expireGenerations]] or aged out by subsequent rewrites. */
  private def rewriteGeneration(spark: SparkSession, indexDir: String,
                                transform: DataFrame => DataFrame,
                                retainGenerations: Int): Unit = {
    require(retainGenerations >= 0,
      s"retainGenerations must be >= 0, got $retainGenerations")
    // markers BEFORE the relation read: any append whose rows this
    // rewrite's snapshot could miss has a marker NOT in this set (markers
    // land only after an append's data is durably committed), so the
    // locked marker-diff below catches it
    val horizon = IndexCommit.horizonMs(fs(spark, indexDir), indexDir)
    val markersListedAt = System.currentTimeMillis()
    val markersSeen = IndexCommit.commitMarkers(fs(spark, indexDir), indexDir)
    ensureRegistered(spark, indexDir)
    val (spec, gen) = loadMeta(spark, indexDir)
    val bT = bandsTable(spark, indexDir)
    val sT = sigsTable(spark, indexDir)
    // UNCONDITIONAL refresh AFTER the marker listing (round-15 advice):
    // the snapshot read below goes through the session catalog's CACHED
    // file listing, and ensureRegistered's mtime probe is not ordered
    // against the markers — a cross-session append landing between the
    // probe and the marker listing would have its marker in markersSeen
    // ("provably in the snapshot") while its files were absent from the
    // cached listing. Refreshing both tables HERE makes the file listing
    // provably postdate every marker in markersSeen.
    spark.catalog.refreshTable(bT)
    spark.catalog.refreshTable(sT)
    stageAndCommit(spark, indexDir, spec, gen, markersSeen, markersListedAt,
      horizon, retainGenerations) { (bandsStage, sigsStage) =>
      // independent single-relation rewrites — overlap them (guide §2.6)
      ParallelOps.inParallel(
        writeBucketed(spark, transform(spark.table(bT)), "bk", spec,
          bandsStage),
        writeBucketed(spark, transform(spark.table(sT)), "doc_id", spec,
          sigsStage))
    }
  }

  /** staged bucketed write of one relation. Partition by the EXPLICIT
    * bucket-id expression, not the raw column: `repartition(n, col)`
    * advertises the same HashPartitioning the bucketed table already
    * claims, so the planner elides the exchange — but the V1 write path
    * doesn't actually deliver bucket-aligned tasks (measured: 11
    * mixed-bucket files for 4 buckets). pmod(hash(col), n) is the
    * writer's own bucket-id function (murmur3), is not elidable, and puts
    * each bucket's rows wholly in one task → exactly one file per
    * non-empty bucket. */
  private def writeBucketed(spark: SparkSession, rows: DataFrame,
                            bucketCol: String, spec: Spec,
                            dir: String): Unit = {
    // bucketed writes need a catalog entry; the throwaway name carries the
    // staging dir's nonce so racing writers cannot collide on it
    val tmp = "graft_stage_" +
      dir.replaceAll("[^A-Za-z0-9]", "_").takeRight(48)
    spark.sql(s"DROP TABLE IF EXISTS $tmp")
    rows
      .repartition(spec.buckets, pmod(hash(col(bucketCol)), lit(spec.buckets)))
      .write.format("parquet")
      .bucketBy(spec.buckets, bucketCol).sortBy(bucketCol)
      .option("path", dir).saveAsTable(tmp)
    spark.sql(s"DROP TABLE IF EXISTS $tmp") // external: files stay
    ()
  }

  /** Write generation N+1 into unique per-attempt staging dirs via
    * `writeRelations(bandsStage, sigsStage)`, then commit under the index
    * commit lock: CAS re-read → append intent/marker checks → staging
    * install (rename to the canonical gN+1 paths) → meta flip. Unique
    * staging means a racing writer can never delete or overwrite a dir
    * another writer committed (round-14 advisory: both racers staged into
    * the SAME bands_gN+1 dir, so the loser's in-flight write could
    * clobber the winner's now-live data); an aborted attempt reclaims its
    * own staging on the way out, and a crashed attempt's orphans age out
    * via [[expireGenerations]]' stale-staging sweep. */
  private def stageAndCommit(spark: SparkSession, indexDir: String,
                             newSpec: Spec, gen: Int,
                             markersSeen: Set[String],
                             markersListedAtMs: Long,
                             horizonAtListingMs: Long,
                             retainGenerations: Int)(
                             writeRelations: (String, String) => Unit): Unit = {
    val newGen = gen + 1
    val n = IndexCommit.nonce()
    val bandsStage = dataDir(indexDir, "bands", newGen) + "_s" + n
    val sigsStage = dataDir(indexDir, "sigs", newGen) + "_s" + n
    val f = fs(spark, indexDir)
    try {
      writeRelations(bandsStage, sigsStage)
      testBeforeCommit()
      IndexCommit.withCommitLock(f, indexDir, s"dedup rewrite -> g$newGen") {
        // CAS under the LOCK (round 15): re-read + flip are now mutually
        // exclusive — the round-14 check-then-rename TOCTOU window is gone
        val genNow = loadMeta(spark, indexDir)._2
        if (genNow != gen)
          throw new java.util.ConcurrentModificationException(
            s"dedup index at $indexDir: generation advanced $gen -> $genNow " +
              "during this rewrite (concurrent compact/remove/rebuild). " +
              "This call's rewrite is DISCARDED — re-run it against the " +
              "new generation.")
        val intents = IndexCommit.liveIntents(f, indexDir)
        if (intents.nonEmpty)
          throw new java.util.ConcurrentModificationException(
            s"dedup index at $indexDir: append(s) in flight " +
              s"(${intents.mkString(", ")}) — committing this rewrite could " +
              "silently drop their rows. This call's rewrite is DISCARDED " +
              "— re-run after the appends finish.")
        // a rewrite that outlived the marker horizon can no longer trust
        // the diff below (an unseen marker may have been age-reaped)
        IndexCommit.requireMarkerHorizon(indexDir, markersListedAtMs,
          horizonAtListingMs)
        val newMarkers = IndexCommit.commitMarkers(f, indexDir) -- markersSeen
        if (newMarkers.nonEmpty)
          throw new java.util.ConcurrentModificationException(
            s"dedup index at $indexDir: append(s) committed during this " +
              s"rewrite (${newMarkers.mkString(", ")}) — its snapshot may " +
              "not contain their rows. This call's rewrite is DISCARDED — " +
              "re-run it (the new snapshot will include them).")
        // COMMIT FENCE before the first destructive op: install deletes
        // whatever sits at the canonical gN+1 path — under a STOLEN lease
        // that could be a new writer's just-committed generation, so a
        // holder that stalled past the TTL must abort here, not destroy it
        IndexCommit.assertLockHeld(f, indexDir)
        // install staging at the canonical gN+1 paths: any dir already
        // there is a prior FAILED attempt's orphan (gen == expected proves
        // no one committed gN+1), safe to clear under the lock
        def install(stage: String, canon: String): Unit = {
          val cp = new org.apache.hadoop.fs.Path(canon)
          f.delete(cp, true)
          if (!f.rename(new org.apache.hadoop.fs.Path(stage), cp))
            throw new IllegalStateException(
              s"dedup index rewrite: rename $stage -> $canon failed")
        }
        install(bandsStage, dataDir(indexDir, "bands", newGen))
        install(sigsStage, dataDir(indexDir, "sigs", newGen))
        writeMeta(spark, newSpec, newGen, indexDir) // COMMIT POINT
        // markers observed at snapshot time are baked into gN+1
        IndexCommit.clearMarkers(f, indexDir, markersSeen)
        IndexCommit.clearMaintenanceDue(f, indexDir)
      }
    } catch {
      case e: Throwable =>
        // reclaim this attempt's staging (best-effort; a hard crash leaves
        // orphans for the stale-staging sweep)
        Seq(bandsStage, sigsStage).foreach { d =>
          try { f.delete(new org.apache.hadoop.fs.Path(d), true); () }
          catch { case _: Exception => () }
        }
        throw e
    }
    // stale DDL points at the old generation; re-register at the new one
    spark.sql(s"DROP TABLE IF EXISTS ${bandsTable(spark, indexDir)}")
    spark.sql(s"DROP TABLE IF EXISTS ${sigsTable(spark, indexDir)}")
    ensureRegistered(spark, indexDir)
    // age out superseded generations beyond the retention window (never
    // the one just superseded when retainGenerations >= 1 — in-flight
    // readers bound to it finish their scans)
    expireGenerations(spark, indexDir, retainGenerations)
    ()
  }

  /** what [[expireGenerations]] actually did: `reclaimed` dirs are gone,
    * `failed` dirs could not be deleted (permissions, locks) and WILL be
    * retried by the next expiry — surfaced so a deployment can alert on
    * storage that silently stops shrinking (round-14 advisory: the old
    * `Unit` + swallow meant superseded generations could accumulate
    * forever with zero signal) */
  final case class GcResult(reclaimed: Seq[String], failed: Seq[String])

  /** Delete superseded generations, keeping the live one plus the
    * `retain` newest superseded ones (grace window for concurrent readers
    * whose plans are bound to an old generation, and for time-travel
    * audits via [[bandsRelationAt]]). Also sweeps staging orphans of
    * CRASHED writers (unique `_s<nonce>` dirs untouched for longer than
    * the stale window — an aborted writer reclaims its own staging; only
    * a hard crash leaves one). Best-effort: a missing/locked dir never
    * fails the maintenance call that triggered the GC — failures are
    * logged and returned, not thrown. */
  def expireGenerations(spark: SparkSession, indexDir: String,
                        retain: Int = 0): GcResult = {
    val live = loadMeta(spark, indexDir)._2
    val f = fs(spark, indexDir)
    // only generations BELOW live are superseded; anything above it is an
    // in-flight writer's staging (or an aborted writer's orphan, which the
    // next rewrite overwrites) — deleting it here could destroy a
    // concurrent rewrite, and letting it consume a retention slot would
    // evict a genuinely-retained generation early
    val doomed = generationsOnDisk(spark, indexDir)
      .filter(_ < live).sortBy(g => -g).drop(retain)
      .flatMap(g => Seq(dataDir(indexDir, "bands", g),
        dataDir(indexDir, "sigs", g))) ++
      IndexCommit.staleStagingDirs(f, indexDir, Seq("bands", "sigs"))
    val (reclaimed, failed) =
      doomed.partition(d => IndexCommit.tryReclaim(f, d))
    GcResult(reclaimed, failed)
  }

  /** true while a deferred-maintenance signal is pending (the streaming
    * gate's `deferMaintenance` mode records "compaction due" instead of
    * compacting inside the micro-batch; an out-of-band maintainer polls
    * this and runs [[compact]], whose successful flip clears it) */
  def maintenanceDue(spark: SparkSession, indexDir: String): Boolean =
    IndexCommit.maintenanceDue(fs(spark, indexDir), indexDir)

  /** record "compaction due" for an out-of-band maintainer (idempotent) */
  def signalMaintenanceDue(spark: SparkSession, indexDir: String): Unit =
    IndexCommit.signalMaintenanceDue(fs(spark, indexDir), indexDir)

  /** the index's agreed stale horizon (ms) — see
    * [[IndexCommit.horizonMs]]; every session's lock TTL, heartbeat
    * cadence, reap ages and rewrite-span guard derive from it */
  def staleHorizonMs(spark: SparkSession, indexDir: String): Long =
    IndexCommit.horizonMs(fs(spark, indexDir), indexDir)

  /** RAISE the index's stale horizon — the knob for rewrites whose
    * staged write legitimately exceeds the current horizon (a compact
    * of a 100 TB-class index runs hours). Lock-guarded, raise-only,
    * persisted in the index root and read fresh by every session — see
    * [[IndexCommit.setStaleHorizon]]. */
  def setStaleHorizon(spark: SparkSession, indexDir: String,
                      ms: Long): Unit =
    IndexCommit.setStaleHorizon(fs(spark, indexDir), indexDir, ms)

  /** one-row lock/liveness surface: horizon, commit-lock presence / age
    * / holder, live intents, commit markers, pending maintenance — see
    * [[IndexCommit.describeLocks]] */
  def describeLocks(spark: SparkSession, indexDir: String): DataFrame =
    IndexCommit.describeLocks(spark, indexDir)

  /** INCREMENTAL append: sign ONLY the new docs and add their band/sig
    * rows into the existing bucket layout — O(new docs) work, the resident
    * index files are never read or rewritten. */
  def append(docs: DataFrame, idCol: String, textCol: String,
             indexDir: String): Unit = {
    val spark = docs.sparkSession
    val spec = ensureRegistered(spark, indexDir) // one meta read per append
    appendImpl(graft.Caches.tracked(
      Dedup.minhashSignatures(docs, idCol, textCol, spec.numHashes)),
      idCol, indexDir, spec)
  }

  /** Append from an already-computed `minhashSignatures` frame. The caller
    * states the hash config it signed with; a mismatch vs the stored spec
    * fails FAST here — appending 32-hash rows into a 16-hash index would
    * otherwise silently halve every later est-Jaccard (zip_with pads the
    * shorter array with nulls) and permanently mix incompatible band keys. */
  def appendFromSignatures(sig: DataFrame, idCol: String, indexDir: String,
                           numHashes: Int, bands: Int): Unit = {
    val spec = ensureRegistered(sig.sparkSession, indexDir)
    require(spec.numHashes == numHashes && spec.bands == bands,
      s"dedup index at $indexDir was built with numHashes=${spec.numHashes}" +
        s" bands=${spec.bands}; cannot append signatures computed with " +
        s"numHashes=$numHashes bands=$bands")
    appendImpl(sig, idCol, indexDir, spec)
  }

  /** the append itself, for a `spec` the caller has read and checked
    * (the streaming gate passes its once-resolved index) */
  private[graft] def appendImpl(sig: DataFrame, idCol: String,
                                indexDir: String, spec: Spec): Unit = {
    val spark = sig.sparkSession
    val f = fs(spark, indexDir)
    // INTENT before any write (round 15, [[IndexCommit]]): a maintenance
    // rewrite refuses to flip while this intent is live, and the COMMIT
    // MARKER dropped after the data lands makes an append that completes
    // mid-rewrite visible to the rewrite's locked marker-diff — together
    // they close the round-14 post-check's remaining TOCTOU (a rewrite
    // that snapshotted before our rows landed but flipped after our
    // generation re-read went undetected).
    testBeforeAppend()
    val token = IndexCommit.beginAppend(f, indexDir)
    try {
      val gen = loadMeta(spark, indexDir)._2
      // write into THAT generation: a maintainer in another process may
      // have flipped it since the caller registered the tables, and this
      // JVM's catalog would still name the superseded generation's dirs —
      // the post-check below compares generations, not write locations.
      // A no-op when the registration is current.
      registerAt(spark, indexDir, spec, gen)
      // no path option: the registered table's location names the CURRENT
      // generation dir (a stale literal path would disagree after compact)
      val (bands, sigs) = bandRows(sig, idCol, spec)
      // two independent append jobs over the same cached signature pass —
      // overlap them (guide §2.6; both must land before the marker drops)
      ParallelOps.inParallel(
        bands.write.format("parquet").mode("append")
          .bucketBy(spec.buckets, "bk").sortBy("bk")
          .saveAsTable(bandsTable(spark, indexDir)),
        sigs.write.format("parquet").mode("append")
          .bucketBy(spec.buckets, "doc_id").sortBy("doc_id")
          .saveAsTable(sigsTable(spark, indexDir)))
      testAfterAppendWrite()
      // belt for the millisecond window where a rewrite's intent check ran
      // before our intent landed: its flip is then caught HERE, loudly.
      // Whether the rewrite saw the rows is genuinely ambiguous, so
      // recovery is remove(ids)+append (remove is idempotent) rather than
      // a blind re-append (which could double band rows).
      val genNow = loadMeta(spark, indexDir)._2
      if (genNow != gen)
        throw new java.util.ConcurrentModificationException(
          s"dedup index at $indexDir: generation advanced $gen -> $genNow " +
            "while this append wrote — the appended rows may sit only in the " +
            "superseded generation. Recover: remove(theseIds) then re-append.")
      IndexCommit.finishAppend(f, indexDir, token) // marker, then intent drop
    } catch {
      case e: Throwable =>
        IndexCommit.abortAppend(f, indexDir, token)
        throw e
    }
  }

  /** test seam: runs between an append's data write and its generation
    * post-check — a spec interleaves a racing rewrite deterministically */
  private[graft] var testAfterAppendWrite: () => Unit = () => ()

  /** test seam: runs before an append drops its intent — a spec flips the
    * generation after the caller registered the tables */
  private[graft] var testBeforeAppend: () => Unit = () => ()

  /** max band files in any single bucket of the LIVE generation — the
    * fragmentation signal an auto-compaction policy thresholds on (one
    * directory listing, no data read). Bucketed files carry their bucket
    * id as the `_NNNNN` filename suffix. */
  def maxFilesPerBucket(spark: SparkSession, indexDir: String): Int = {
    val (_, gen) = loadMeta(spark, indexDir)
    val dir = new org.apache.hadoop.fs.Path(dataDir(indexDir, "bands", gen))
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) 0
    else {
      val bucketOf = "_(\\d{5})\\.".r
      fs.listStatus(dir).toSeq.map(_.getPath.getName)
        .filter(_.endsWith(".parquet"))
        .flatMap(n => bucketOf.findFirstMatchIn(n).map(_.group(1)))
        .groupBy(identity).values.foldLeft(0)((m, g) => math.max(m, g.size))
    }
  }

  /** Probe an arriving batch against the persisted index: band-key join →
    * distinct candidate pairs → signature-agreement estimate ≥ `minEst`.
    * Row-identical to [[Dedup.incrementalMinhashPairs]](batch, corpus) for
    * an index built over the same corpus. Only the batch side shuffles on
    * `bk`; the index scan arrives pre-hashed (bucketed) and pre-sorted. */
  def probePairs(spark: SparkSession, indexDir: String, batch: DataFrame,
                 idCol: String, textCol: String,
                 minEst: Double = 0.5): DataFrame = {
    val spec = ensureRegistered(spark, indexDir)
    probeAgainst(batch, idCol, textCol, minEst, spec,
      spark.table(bandsTable(spark, indexDir)),
      spark.table(sigsTable(spark, indexDir)))
  }

  /** TIME-TRAVEL probe: probe a RETAINED superseded generation — the
    * reproducibility audit ("which index state gated this training
    * batch?"). Generations are immutable once superseded (appends land in
    * the live generation's dirs only), so gen N re-reads byte-identical
    * until [[expireGenerations]] reclaims it. Audit reads go through plain
    * parquet (no catalog DDL): correctness-identical to the bucketed path;
    * only the LIVE probe needs the exchange-free layout. */
  def probePairsAt(spark: SparkSession, indexDir: String, gen: Int,
                   batch: DataFrame, idCol: String, textCol: String,
                   minEst: Double = 0.5): DataFrame = {
    val spec = loadMeta(spark, indexDir)._1
    probeAgainst(batch, idCol, textCol, minEst, spec,
      bandsRelationAt(spark, indexDir, gen),
      sigsRelationAt(spark, indexDir, gen))
  }

  /** the band relation of a specific on-disk generation (live or retained)
    * as plain parquet — see [[probePairsAt]] */
  def bandsRelationAt(spark: SparkSession, indexDir: String,
                      gen: Int): DataFrame =
    generationRead(spark, indexDir, "bands", gen)

  /** the signature relation of a specific on-disk generation */
  def sigsRelationAt(spark: SparkSession, indexDir: String,
                     gen: Int): DataFrame =
    generationRead(spark, indexDir, "sigs", gen)

  private def generationRead(spark: SparkSession, indexDir: String,
                             kind: String, gen: Int): DataFrame = {
    // a reclaimed generation must fail POINTEDLY (never read as an empty
    // index — an audit that silently sees zero rows would conclude the
    // batch was gated by an empty index), naming the knob that controls
    // how much history survives
    val onDisk = generationsOnDisk(spark, indexDir)
    require(onDisk.contains(gen),
      s"dedup index at $indexDir has no generation $gen on disk " +
        s"(present: ${onDisk.mkString(", ")}) — it was never written, or " +
        "the retention window already reclaimed it. Audit reads need the " +
        "generation retained: raise retainGenerations on compact/remove " +
        "(and avoid explicit expireGenerations) for as long as time-travel " +
        "must reach back.")
    spark.read.parquet(dataDir(indexDir, kind, gen))
  }

  /** One-row operability surface — the EXPLAIN-for-indexes a deployment
    * reaches for first: hash config, live generation, what is on disk
    * (generations, files, bytes — from directory listings), row counts,
    * fragmentation ([[maxFilesPerBucket]], the auto-compaction signal)
    * and whether a deferred-maintenance request is pending. O(metadata),
    * zero Spark jobs (spec-asserted): row counts come from the parquet
    * FOOTERS of the same file listing the size stats already walk
    * (round-15 verdict: the previous `count()` per relation launched a
    * scan job each — describe cost grew with the index). */
  def describeIndex(spark: SparkSession, indexDir: String): DataFrame = {
    import spark.implicits._
    val (spec, gen) = loadMeta(spark, indexDir)
    val gens = generationsOnDisk(spark, indexDir)
    val f = fs(spark, indexDir)
    val conf = spark.sparkContext.hadoopConfiguration
    def stats(d: String): (Long, Long, Long) = {
      val p = new org.apache.hadoop.fs.Path(d)
      if (!f.exists(p)) (0L, 0L, 0L)
      else {
        val sts = f.listStatus(p).toSeq
          .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
        (sts.length.toLong, sts.map(_.getLen).sum,
          IndexCommit.footerRowCount(conf, sts))
      }
    }
    val (bandFiles, bandBytes, bandRows) =
      stats(dataDir(indexDir, "bands", gen))
    val (sigFiles, sigBytes, sigRows) = stats(dataDir(indexDir, "sigs", gen))
    ensureRegistered(spark, indexDir)
    Seq((spec.numHashes, spec.bands, spec.buckets, gen,
      gens.mkString(","), gens.length,
      bandRows, sigRows,
      bandFiles, bandBytes, sigFiles, sigBytes,
      maxFilesPerBucket(spark, indexDir),
      IndexCommit.maintenanceDue(f, indexDir)))
      .toDF("num_hashes", "bands", "buckets", "live_generation",
        "generations_on_disk", "n_generations", "band_rows", "sig_rows",
        "band_files", "band_bytes", "sig_files", "sig_bytes",
        "max_files_per_bucket", "maintenance_due")
  }

  private def probeAgainst(batch: DataFrame, idCol: String, textCol: String,
                           minEst: Double, spec: Spec,
                           bandsIdx: DataFrame,
                           sigsIdx: DataFrame): DataFrame = {
    val sigNew = graft.Caches.tracked(
      Dedup.minhashSignatures(batch, idCol, textCol, spec.numHashes))
    val bNew = Dedup.minhashBands(sigNew, idCol, spec.numHashes, spec.bands)
      .select(bk(col("band"), col("band_key")).as("bk"),
        col(idCol).cast("long").as("new_id"))
    val bIdx = bandsIdx
      .select(col("bk"), col("doc_id").as("index_id"))
    val cand = bNew.join(bIdx, "bk")
      .select("new_id", "index_id").distinct()
    val sigIdx = sigsIdx
    cand
      .join(sigNew.select(col(idCol).cast("long").as("new_id"),
        col("sig").as("s1")), "new_id")
      .join(sigIdx.select(col("doc_id").as("index_id"),
        col("sig").as("s2")), "index_id")
      .withColumn("est_jaccard",
        Dedup.estJaccard(col("s1"), col("s2"), spec.numHashes))
      .filter(col("est_jaccard") >= minEst)
      .select("new_id", "index_id", "est_jaccard")
  }
}
