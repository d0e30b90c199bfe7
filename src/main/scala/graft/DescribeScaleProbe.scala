package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.operators.DedupIndex

/** Isolates the `describeIndex` STEP from the build/append/compact
  * fixture the `*_index_describe` bench queries run around it: builds a
  * dedup index over the corpus at 1× and k× (untimed), then times
  * `describeIndex` alone at each scale (min of `reps`). The lifecycle
  * queries' 10× ratio is dominated by the O(data) fixture by design;
  * this probe is the direct evidence that the describe step itself is
  * O(metadata) after the round-16 footer-count change (row counts from
  * parquet footers — zero Spark jobs, also spec-asserted with a
  * SparkListener in `DedupIndexSpec`/`VectorIndexSpec`).
  *
  * Run: `sbt "runMain graft.DescribeScaleProbe [k] [reps]"`
  * (env SPARK_GRAFT_SF_DIR for the base corpus, default sf0.1). */
object DescribeScaleProbe {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val k = args.headOption.map(_.toInt).getOrElse(10)
    val reps = args.drop(1).headOption.map(_.toInt).getOrElse(5)
    val spark = DeploymentProfile.configure(SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val spec = DedupIndex.Spec(numHashes = 16, bands = 4, buckets = 32)

    def timed[T](body: => T): (Double, T) = {
      val t0 = System.nanoTime()
      val r = body
      ((System.nanoTime() - t0) / 1e9, r)
    }

    // COLD = the first describe after the build (every parquet footer is
    // unseen by the round-17 (path, length, mtime) count cache — the
    // 16-way footer pool is what bounds it); WARM = min of `reps`
    // repeats (cache hits — zero footer reads, pure listing cost).
    def timeDescribe(scale: Int): (Double, Double, Long) = {
      val dir = Scratch.dir(s"graft_descprobe_${scale}x")
      val corpus =
        if (scale == 1) docs
        else docs.withColumn("r", explode(sequence(lit(0), lit(scale - 1))))
          .withColumn("doc_id", col("doc_id") + col("r") * lit(10000000L))
          .drop("r")
      DedupIndex.build(corpus, "doc_id", "text", spec, dir) // untimed
      val (cold, _) = timed(DedupIndex.describeIndex(spark, dir).collect())
      val warm = (1 to reps)
        .map(_ => timed(DedupIndex.describeIndex(spark, dir).collect())._1)
        .min
      val rows = DedupIndex.describeIndex(spark, dir)
        .collect().head.getAs[Long]("band_rows")
      (cold, warm, rows)
    }

    val (c1, t1, r1) = timeDescribe(1)
    val (ck, tk, rk) = timeDescribe(k)
    println(f"""{"metric":"describe_scale","k":$k,"cold_1x":$c1%.4f,""" +
      f""""warm_1x":$t1%.4f,"cold_${k}x":$ck%.4f,"warm_${k}x":$tk%.4f,""" +
      f""""cold_ratio":${ck / c1}%.3f,"warm_ratio":${tk / t1}%.3f,""" +
      s""""band_rows_1x":$r1,"band_rows_${k}x":$rk}""")

    // FRAGMENTED describe — the round-16 weak spot: a never-compacted
    // gate index holds one file per append, and footer counting was a
    // serial driver loop of ranged reads hitting exactly when an
    // operator asks "how fragmented is this index?". Stage a band dir
    // with `fragFiles` real parquet files (one band file copied — the
    // footers are real), then time the first describe (cold: every
    // footer read once, on the bounded pool) and the repeat (warm:
    // per-(path,len,mtime) cache, zero reads).
    val fragFiles = 5000
    val fragDir = Scratch.dir("graft_descprobe_frag")
    DedupIndex.build(docs.limit(2000), "doc_id", "text", spec, fragDir)
    val bandsPath = new org.apache.hadoop.fs.Path(s"$fragDir/bands")
    val fs = bandsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val seed = fs.listStatus(bandsPath)
      .filter(_.getPath.getName.endsWith(".parquet")).head.getPath
    val src = java.nio.file.Paths.get(seed.toUri.getPath)
    val existing = fs.listStatus(bandsPath)
      .count(_.getPath.getName.endsWith(".parquet"))
    (1 to (fragFiles - existing)).foreach { i =>
      java.nio.file.Files.copy(src, java.nio.file.Paths.get(
        new org.apache.hadoop.fs.Path(bandsPath,
          f"frag_$i%05d_00001.parquet").toUri.getPath))
    }
    val (fragCold, _) =
      timed(DedupIndex.describeIndex(spark, fragDir).collect())
    val fragWarm = (1 to reps)
      .map(_ => timed(DedupIndex.describeIndex(spark, fragDir).collect())._1)
      .min
    println(f"""{"metric":"describe_fragmented","files":$fragFiles,""" +
      f""""cold_sec":$fragCold%.4f,"warm_sec":$fragWarm%.4f}""")
    spark.stop()
  }
}
