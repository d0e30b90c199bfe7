package graft

import org.apache.spark.sql.functions._

import graft.transport.FakeJetStream

/** Slice-count sweep over the LIVE transport path: the same bounded stream
  * scanned at 1 → 64 slices, timing the full materialization and counting
  * the server's dials and RPCs. The claims under test (the 100 TB design
  * properties of docs/LIVE_NATS.md):
  *
  *   - THROUGHPUT scales with partitions until the box saturates — each
  *     slice is an independent cursor, so a 1000-executor cluster is 1000
  *     concurrent bounded fetch loops, not one pinned thread (the
  *     reference pins MaxThreads()=1, nats_scan.cpp:197-199).
  *   - PLANNING work is flat in slice count: one pooled streamInfo RPC per
  *     query — never an enumeration of messages — plus O(log n) probes only
  *     when a timestamp bound must resolve.
  *   - RPC volume is ceil(msgs/2048) batched fetches spread across slices
  *     (+ ≤1 tail-check per slice), and DIALS stay ≤2 per query no matter
  *     how many slices run (pooled executor connection).
  *
  * Run: sbt "runMain graft.TransportScaleProbe" (env SPARK_GRAFT_TSP_MSGS
  * to change the stream size; default 262144).
  */
object TransportScaleProbe {
  def main(args: Array[String]): Unit = {
    val n = sys.env.getOrElse("SPARK_GRAFT_TSP_MSGS", "262144").toLong
    val spark = Measure.session()

    val url = "nats://transport-scale-probe:4222"
    val srv = FakeJetStream.listen(url)
    var seq = 1L
    while (seq <= n) {
      srv.publish("probe", seq, s"probe.${seq % 13}",
        1700000000000000000L + seq * 1000000L,
        s"""{"seq":$seq,"pad":"xxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxx"}""".getBytes)
      seq += 1
    }

    def scan(sliceWidth: Long) = spark.read.format("nats_scan")
      .option("url", url).option("stream", "probe")
      .option("slice_width", sliceWidth.toString).load()

    // warmup (JVM + codegen + pool)
    Bench.materialize(scan(n).select("seq"))

    println(f"${"slices"}%7s ${"wall_s"}%8s ${"rows"}%9s ${"dials"}%6s " +
      f"${"rpcs"}%7s ${"rpc_per_kmsg"}%13s ${"plan_rpcs"}%10s ${"probe_rpcs_ts"}%14s")
    Seq(1, 2, 4, 8, 16, 32, 64).foreach { slices =>
      val width = math.max(1L, (n + slices - 1) / slices)
      // planning-only RPC cost: partitions forced, no tasks run
      val planBefore = srv.rpcCountTotal
      val planned = scan(width).select("seq").rdd.getNumPartitions
      val planRpcs = srv.rpcCountTotal - planBefore

      val d0 = srv.connectCount
      val r0 = srv.rpcCountTotal
      val t0 = System.nanoTime()
      // full-materialization fold (NOT count() — a bare count is answered
      // by the aggregate pushdown from streamInfo with zero fetches)
      Bench.materialize(scan(width)
        .select(col("seq"), col("subject"),
          expr("octet_length(payload)").as("pb")))
      val wall = (System.nanoTime() - t0) / 1e9
      val rows = n
      val dials = srv.connectCount - d0
      val rpcs = srv.rpcCountTotal - r0

      // timestamp-bounded planning: binary-search probes must stay O(log n)
      // regardless of slice count
      val p0 = srv.rpcCountTotal
      scan(width)
        .filter(col("ts_nats") >=
          lit(java.sql.Timestamp.valueOf("2023-11-15 00:00:00")))
        .select("seq").rdd.getNumPartitions
      val probeRpcs = srv.rpcCountTotal - p0

      println(f"$planned%7d $wall%8.2f $rows%9d $dials%6d $rpcs%7d " +
        f"${rpcs * 1000.0 / n}%13.2f $planRpcs%10d $probeRpcs%14d")
    }

    // --- continuous push mode: shard sweep ------------------------------
    // Claims under test (docs/LIVE_NATS.md "Push-based delivery"):
    //   - end-to-end delivery latency for a pre-filled stream stays flat or
    //     improves as shards grow (long-running readers drain in parallel);
    //   - fetch RPC volume grows ≈ shards × ceil(msgs/2048) — the
    //     documented every-shard-fetches-all trade of modulo distribution
    //     (set shards to consumer parallelism, not cluster width).
    val cn = sys.env.getOrElse("SPARK_GRAFT_TSP_CONT_MSGS", "65536").toLong
    val curl = "nats://transport-scale-probe-cont:4222"
    val csrv = FakeJetStream.listen(curl)
    var cseq = 1L
    while (cseq <= cn) {
      csrv.publish("cprobe", cseq, s"c.${cseq % 13}",
        1700000000000000000L + cseq * 1000000L,
        s"""{"seq":$cseq,"pad":"xxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxx"}""".getBytes)
      cseq += 1
    }
    println()
    println("continuous (push-based) shard sweep:")
    println(f"${"shards"}%7s ${"wall_s"}%8s ${"rows"}%9s ${"rpcs"}%7s " +
      f"${"rpc_per_kmsg"}%13s ${"krows_per_s"}%12s")
    Seq(1, 2, 4, 8).foreach { shards =>
      TransportScaleProbe.delivered.clear()
      val r0 = csrv.rpcCountTotal
      val t0 = System.nanoTime()
      val q = spark.readStream.format("nats_scan")
        .option("url", curl).option("stream", "cprobe")
        .option("continuous_shards", shards.toString)
        .load().selectExpr("seq")
        .writeStream
        .foreach(new org.apache.spark.sql.ForeachWriter[org.apache.spark.sql.Row] {
          override def open(partitionId: Long, epochId: Long): Boolean = true
          override def process(r: org.apache.spark.sql.Row): Unit =
            TransportScaleProbe.delivered.add(r.getLong(0))
          override def close(errorOrNull: Throwable): Unit = ()
        })
        .trigger(org.apache.spark.sql.streaming.Trigger
          .Continuous("500 milliseconds"))
        .start()
      val deadline = System.nanoTime() + 300L * 1000000000L
      while (TransportScaleProbe.delivered.size() < cn &&
          System.nanoTime() < deadline)
        Thread.sleep(20L)
      val wall = (System.nanoTime() - t0) / 1e9
      q.stop()
      val rpcs = csrv.rpcCountTotal - r0
      println(f"$shards%7d $wall%8.2f ${TransportScaleProbe.delivered.size()}%9d " +
        f"$rpcs%7d ${rpcs * 1000.0 / cn}%13.2f ${cn / wall / 1000.0}%12.1f")
    }

    // --- last_by_subject (KV) sweep -------------------------------------
    // Claim under test: the KV read's wire volume is O(distinct subjects),
    // NEVER O(messages) — growing the stream 16× at fixed key count must
    // leave the KV scan's RPCs flat while the full scan's grow linearly.
    println()
    println("last_by_subject (KV) sweep, 1000 keys, kv_buckets=16:")
    println(f"${"msgs"}%9s ${"kv_rows"}%8s ${"kv_rpcs"}%8s ${"kv_wall_s"}%10s " +
      f"${"fullscan_rpcs"}%14s")
    Seq(16384L, 65536L, 262144L).foreach { m =>
      val kurl = s"nats://transport-scale-probe-kv-$m:4222"
      val ksrv = FakeJetStream.listen(kurl)
      var ks = 1L
      while (ks <= m) {
        ksrv.publish("kv", ks, s"key.${ks % 1000}",
          1700000000000000000L + ks * 1000000L,
          s"""{"seq":$ks,"pad":"xxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxx"}""".getBytes)
        ks += 1
      }
      def kscan(lbs: Boolean) = {
        val b = spark.read.format("nats_scan")
          .option("url", kurl).option("stream", "kv")
          .option("slice_width", ((m + 31) / 32).toString)
        (if (lbs) b.option("last_by_subject", "true")
          .option("kv_buckets", "16") else b).load()
      }
      val r0 = ksrv.rpcCountTotal
      val t0 = System.nanoTime()
      val kvRows = kscan(lbs = true).select("subject", "seq").collect().length
      val kvWall = (System.nanoTime() - t0) / 1e9
      val kvRpcs = ksrv.rpcCountTotal - r0
      val f0 = ksrv.rpcCountTotal
      Bench.materialize(kscan(lbs = false).select("seq", "subject"))
      val fullRpcs = ksrv.rpcCountTotal - f0
      println(f"$m%9d $kvRows%8d $kvRpcs%8d $kvWall%10.2f $fullRpcs%14d")
    }

    // --- subject-index KEY-CARDINALITY sweep (round-8 judge task 5) -----
    // The KV/current-state and GROUP BY subject pushdown paths were only
    // measured at a fixed 1000 subjects; sweep 1k → 100k distinct keys at a
    // FIXED message count to prove the O(keys) wire contract holds as the
    // key space grows: RPCs ≈ buckets × ceil(keys/bucket/2048 + 1) (page +
    // terminal short-page per bucket), per-key wall cost flat.
    println()
    println("subject-index key-cardinality sweep, 262144 msgs, kv_buckets=16:")
    println(f"${"keys"}%8s ${"kv_rows"}%8s ${"kv_rpcs"}%8s ${"kv_wall_s"}%10s " +
      f"${"us_per_key"}%11s ${"stats_rows"}%11s ${"stats_rpcs"}%11s ${"stats_wall_s"}%13s")
    val cardMsgs = 262144L
    Seq(1000L, 10000L, 100000L).foreach { keys =>
      val kurl = s"nats://transport-scale-probe-card-$keys:4222"
      val ksrv = FakeJetStream.listen(kurl)
      var ks = 1L
      while (ks <= cardMsgs) {
        ksrv.publish("card", ks, s"key.${ks % keys}",
          1700000000000000000L + ks * 1000000L,
          s"""{"seq":$ks}""".getBytes)
        ks += 1
      }
      def base = spark.read.format("nats_scan")
        .option("url", kurl).option("stream", "card")
      val r0 = ksrv.rpcCountTotal
      val t0 = System.nanoTime()
      val kvRows = base.option("last_by_subject", "true")
        .option("kv_buckets", "16").load()
        .select("subject", "seq").collect().length
      val kvWall = (System.nanoTime() - t0) / 1e9
      val kvRpcs = ksrv.rpcCountTotal - r0
      // GROUP BY subject aggregate pushdown: answered from the server's
      // subjects index, zero message fetches at any cardinality
      val s0 = ksrv.rpcCountTotal
      val st0 = System.nanoTime()
      val statsRows = base.load().groupBy("subject")
        .agg(count(lit(1)).as("n"), max("seq").as("last_seq"))
        .collect().length
      val statsWall = (System.nanoTime() - st0) / 1e9
      val statsRpcs = ksrv.rpcCountTotal - s0
      println(f"$keys%8d $kvRows%8d $kvRpcs%8d $kvWall%10.2f " +
        f"${kvWall * 1e6 / keys}%11.1f $statsRows%11d $statsRpcs%11d $statsWall%13.2f")
    }

    // --- wire client lane sweep -----------------------------------------
    // The REAL socket path: the same bounded scan through NatsWireClient →
    // MiniNatsServer on loopback, socket-lane pool swept 1 → 8. Claim: with
    // one lane the 32 slice readers serialize on a single request-reply
    // socket; throughput scales with lanes until the loopback saturates.
    println()
    println("wire client lane sweep (real TCP loopback), 262144 msgs, 32 slices:")
    println(f"${"lanes"}%6s ${"wall_s"}%8s ${"rows"}%9s ${"krows_per_s"}%12s")
    locally {
      val backing = new graft.transport.FakeJetStreamServer
      var ws = 1L
      while (ws <= n) {
        backing.publish("wire", ws, s"w.${ws % 13}",
          1700000000000000000L + ws * 1000000L,
          s"""{"seq":$ws,"pad":"xxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxx"}""".getBytes)
        ws += 1
      }
      val wsrv = new graft.transport.MiniNatsServer(backing)
      wsrv.start()
      // warmup: the wire codec's JIT cost must not be charged to lanes=1
      Bench.materialize(spark.read.format("nats_scan")
        .option("url", wsrv.url).option("stream", "wire")
        .option("slice_width", ((n + 31) / 32).toString).load()
        .select("seq", "subject"))
      Seq(1, 2, 4, 8).foreach { lanes =>
        System.setProperty("graft.wire.lanes", lanes.toString)
        graft.transport.TransportPool.clear() // force a fresh client
        val df = spark.read.format("nats_scan")
          .option("url", wsrv.url).option("stream", "wire")
          .option("slice_width", ((n + 31) / 32).toString).load()
          .select("seq", "subject")
        val t0 = System.nanoTime()
        Bench.materialize(df)
        val wall = (System.nanoTime() - t0) / 1e9
        println(f"$lanes%6d $wall%8.2f $n%9d ${n / wall / 1000.0}%12.1f")
      }
      System.clearProperty("graft.wire.lanes")
      graft.transport.TransportPool.clear()
      wsrv.stop()
    }


    // --- queue-group (deliver_group) drain sweep ------------------------
    // New operator this round → measured the same session (project rule).
    // Claim: a group drain's wire volume is O(messages) regardless of the
    // member count — claims are ceil(msgs/2048) batches split across
    // members, plus O(members) termination checks; contrast the continuous
    // shard sweep above where RPCs grow ≈ shards × ceil(msgs/2048).
    println()
    println("queue-group drain sweep, group_members=8:")
    println(f"${"msgs"}%9s ${"rows"}%9s ${"wall_s"}%8s ${"rpcs"}%7s " +
      f"${"rpc_per_kmsg"}%13s ${"krows_per_s"}%12s")
    // member sweep at fixed size: total RPC volume must be INVARIANT in
    // the member count (the defining contrast with continuous_shards,
    // whose RPCs grow linearly with shards)
    println()
    println("queue-group member sweep, 65536 msgs:")
    println(f"${"members"}%8s ${"rows"}%9s ${"wall_s"}%8s ${"rpcs"}%7s " +
      f"${"rpc_per_kmsg"}%13s")
    locally {
      val murl = "nats://transport-scale-probe-grpm:4222"
      val msrv = FakeJetStream.listen(murl)
      var ms = 1L
      while (ms <= 65536L) {
        msrv.publish("gm", ms, s"g.${ms % 13}",
          1700000000000000000L + ms * 1000000L,
          s"""{"seq":$ms,"pad":"xxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxx"}""".getBytes)
        ms += 1
      }
      Seq(1, 2, 4, 8, 16).foreach { members =>
        val r0 = msrv.rpcCountTotal
        val t0 = System.nanoTime()
        val rows = spark.read.format("nats_scan")
          .option("url", murl).option("stream", "gm")
          .option("deliver_group", s"probe-m$members")
          .option("group_members", members.toString)
          .load().select("seq").collect().length
        val wall = (System.nanoTime() - t0) / 1e9
        val rpcs = msrv.rpcCountTotal - r0
        require(rows == 65536, s"member sweep lost rows: $rows")
        println(f"$members%8d $rows%9d $wall%8.2f $rpcs%7d " +
          f"${rpcs * 1000.0 / 65536L}%13.2f")
      }
    }

    // WIRE member sweep: the same invariance claim proven on the path a
    // cluster actually runs — NatsWireClient → MiniNatsServer over real
    // loopback sockets (the round-9 table ran on the in-JVM seam only).
    // Conversations = request-reply exchanges + ack flushes, counted
    // client-side (one lane checkout = one socket burst); the DATA term
    // (claim batches + ack flushes) must stay constant as members grow.
    println()
    println("queue-group WIRE member sweep, 65536 msgs (real sockets):")
    println(f"${"members"}%8s ${"rows"}%9s ${"wall_s"}%8s ${"convs"}%7s " +
      f"${"conv_per_kmsg"}%14s")
    locally {
      val wb = new graft.transport.FakeJetStreamServer
      var ws = 1L
      while (ws <= 65536L) {
        wb.publish("wgm", ws, s"g.${ws % 13}",
          1700000000000000000L + ws * 1000000L,
          s"""{"seq":$ws,"pad":"xxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxx"}""".getBytes)
        ws += 1
      }
      val wmsrv = new graft.transport.MiniNatsServer(wb)
      wmsrv.start()
      Seq(1, 2, 4, 8, 16).foreach { members =>
        graft.transport.TransportPool.clear() // fresh client, zeroed counter
        val t0 = System.nanoTime()
        val rows = spark.read.format("nats_scan")
          .option("url", wmsrv.url).option("stream", "wgm")
          .option("deliver_group", s"wprobe-m$members")
          .option("group_members", members.toString)
          .load().select("seq").collect().length
        val wall = (System.nanoTime() - t0) / 1e9
        val convs = graft.transport.TransportPool
          .get(wmsrv.url, 5000L).asInstanceOf[graft.transport.NatsWireClient]
          .conversationCount
        require(rows == 65536, s"wire member sweep lost rows: $rows")
        println(f"$members%8d $rows%9d $wall%8.2f $convs%7d " +
          f"${convs * 1000.0 / 65536L}%14.2f")
      }
      graft.transport.TransportPool.clear()
      wmsrv.stop()
    }

    // --- object-store bucket sweep (nats_obj DSv2, new this session) ----
    // Claims under test (the data/metadata cliff of ObjectStoreSource):
    //   - META-ONLY listing is O(objects) index pages — RPCs grow with the
    //     object COUNT, never with the bucket's BYTES, and zero chunk
    //     messages move;
    //   - the DATA scan adds ceil(chunks/64) batched fetches per object and
    //     its per-object wall cost stays flat as the bucket grows (each of
    //     the 8 shard tasks streams its own objects independently);
    //   - a name-pushdown point lookup stays O(1) at every bucket size;
    //   - the WATCH replays the meta changelog in O(objects) — its RPC
    //     count tracks meta pages + per-slice cursors, never chunk count
    //     (the bucket is 64 chunk messages per meta; a watch that touched
    //     chunks would show ~65× the RPCs).
    println()
    println("object-store bucket sweep, 8 KiB objects (64 chunks @ 128 B), shards=8:")
    println(f"${"objects"}%8s ${"meta_wall_s"}%12s ${"meta_rpcs"}%10s " +
      f"${"data_wall_s"}%12s ${"data_rpcs"}%10s ${"rpc_per_obj"}%12s " +
      f"${"obj_per_s"}%10s ${"point_rpcs"}%11s ${"watch_wall_s"}%13s " +
      f"${"watch_rpcs"}%11s")
    Seq(1024, 4096, 16384).foreach { nObj =>
      val ourl = s"nats://transport-scale-probe-obj-$nObj:4222"
      val osrv = FakeJetStream.listen(ourl)
      val ostore = new graft.transport.ObjectStore(
        graft.transport.Transport.connect(ourl), s"probe$nObj", 128)
      val payload = Array.tabulate[Byte](8192)(i => (i % 251).toByte)
      var oi = 0
      while (oi < nObj) {
        ostore.put(f"obj/$oi%06d", payload, mtimeNs = oi.toLong)
        oi += 1
      }
      def oread = spark.read.format("nats_obj").option("url", ourl)
        .option("bucket", s"probe$nObj").option("shards", "8").load()
      val m0 = osrv.rpcCountTotal
      val mt0 = System.nanoTime()
      val metaRows = oread.select("name", "size", "digest").collect().length
      val metaWall = (System.nanoTime() - mt0) / 1e9
      val metaRpcs = osrv.rpcCountTotal - m0
      require(metaRows == nObj, s"obj meta sweep lost rows: $metaRows of $nObj")
      val d0 = osrv.rpcCountTotal
      val dt0 = System.nanoTime()
      Bench.materialize(oread.select(col("name"),
        expr("octet_length(data)").as("bytes")))
      val dataWall = (System.nanoTime() - dt0) / 1e9
      val dataRpcs = osrv.rpcCountTotal - d0
      val p0 = osrv.rpcCountTotal
      val pointRows = oread.filter(col("name") === f"obj/${nObj / 2}%06d")
        .select("name", "size").collect().length
      val pointRpcs = osrv.rpcCountTotal - p0
      require(pointRows == 1, s"obj point lookup got $pointRows rows")
      // WATCH replay: the full meta changelog, AvailableNow, meta-only
      val wckpt = graft.Scratch.dir("probe_watch_ck")
      val w0 = osrv.rpcCountTotal
      val wt0 = System.nanoTime()
      val wq = spark.readStream.format("nats_obj").option("url", ourl)
        .option("bucket", s"probe$nObj").option("watch", "true")
        .option("shards", "8").load()
        .select("seq", "name", "size")
        .writeStream.format("noop").option("checkpointLocation", wckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      wq.awaitTermination(600000)
      val watchWall = (System.nanoTime() - wt0) / 1e9
      val watchRpcs = osrv.rpcCountTotal - w0
      val watchRows = wq.recentProgress.map(_.numInputRows).sum
      require(watchRows == nObj.toLong,
        s"obj watch replay lost rows: $watchRows of $nObj")
      println(f"$nObj%8d $metaWall%12.2f $metaRpcs%10d $dataWall%12.2f " +
        f"$dataRpcs%10d ${dataRpcs.toDouble / nObj}%12.2f " +
        f"${nObj / dataWall}%10.1f $pointRpcs%11d $watchWall%13.2f " +
        f"$watchRpcs%11d")
    }

    // --- BULK vs per-object ingest over REAL sockets (round 11) ---------
    // putBulk pipelines a window of objects' chunks + metas through two
    // publishBatch round-trips, vs put()'s 3 conversations per object
    // (prior-meta lookup, chunk batch, meta publish). On a real network
    // the RTT term dominates a loader, so the wire path is where the API
    // earns its keep; the require pins read-identity between the paths.
    println()
    println("object-store INGEST over real sockets (MiniNatsServer), " +
      "2 KiB objects (16 chunks @ 128 B):")
    println(f"${"objects"}%8s ${"put_wall_s"}%11s ${"put_obj_s"}%10s " +
      f"${"bulk_wall_s"}%12s ${"bulk_obj_s"}%11s ${"speedup"}%8s")
    Seq(512, 2048).foreach { nObj =>
      val backing = new graft.transport.FakeJetStreamServer
      val bsrv = new graft.transport.MiniNatsServer(backing)
      bsrv.start()
      val t = graft.transport.Transport.connect(bsrv.url, timeoutMs = 5000L)
      val payload = Array.tabulate[Byte](2048)(i => (i % 251).toByte)
      val one = new graft.transport.ObjectStore(t, "ing1", 128)
      val pt0 = System.nanoTime()
      var i = 0
      while (i < nObj) { one.put(f"o/$i%06d", payload, i.toLong); i += 1 }
      val putWall = (System.nanoTime() - pt0) / 1e9
      val bulk = new graft.transport.ObjectStore(t, "ing2", 128)
      val bt0 = System.nanoTime()
      bulk.putBulk((0 until nObj).iterator.map(j =>
        (f"o/$j%06d", payload, j.toLong)))
      val bulkWall = (System.nanoTime() - bt0) / 1e9
      // read-identity: same names, sizes, digests either way
      val a = one.list().map(m => (m.name, m.size, m.digest)).sortBy(_._1)
      val b = bulk.list().map(m => (m.name, m.size, m.digest)).sortBy(_._1)
      require(a == b, "bulk ingest diverged from per-object puts")
      require(java.util.Arrays.equals(
        bulk.get(f"o/${nObj / 2}%06d"), payload), "bulk content mismatch")
      println(f"$nObj%8d $putWall%11.2f ${nObj / putWall}%10.1f " +
        f"$bulkWall%12.2f ${nObj / bulkWall}%11.1f " +
        f"${putWall / bulkWall}%8.1f")
      t.close(); bsrv.stop()
    }
    // KV loader, same wire comparison (one conversation per key → one per
    // window; 256 B values, history=0 so neither path pays trim RPCs)
    println()
    println("kv INGEST over real sockets (256 B values, history=0):")
    println(f"${"keys"}%8s ${"put_wall_s"}%11s ${"put_key_s"}%10s " +
      f"${"bulk_wall_s"}%12s ${"bulk_key_s"}%11s ${"speedup"}%8s")
    Seq(4096).foreach { nKeys =>
      val backing = new graft.transport.FakeJetStreamServer
      val bsrv = new graft.transport.MiniNatsServer(backing)
      bsrv.start()
      val t = graft.transport.Transport.connect(bsrv.url, timeoutMs = 5000L)
      val value = Array.tabulate[Byte](256)(i => (i % 251).toByte)
      val one = new graft.transport.KvStore(t, "king1", 0)
      val pt0 = System.nanoTime()
      var i = 0
      while (i < nKeys) { one.put(f"k/$i%06d", value, i.toLong); i += 1 }
      val putWall = (System.nanoTime() - pt0) / 1e9
      val bulk = new graft.transport.KvStore(t, "king2", 0)
      val bt0 = System.nanoTime()
      bulk.putBulk((0 until nKeys).iterator.map(j =>
        (f"k/$j%06d", value, j.toLong)))
      val bulkWall = (System.nanoTime() - bt0) / 1e9
      require(one.entries().map(_.key) == bulk.entries().map(_.key),
        "kv bulk ingest diverged from per-key puts")
      println(f"$nKeys%8d $putWall%11.2f ${nKeys / putWall}%10.1f " +
        f"$bulkWall%12.2f ${nKeys / bulkWall}%11.1f " +
        f"${putWall / bulkWall}%8.1f")
      t.close(); bsrv.stop()
    }

    // overwrite-churn reclamation: chunk purge + meta rollup keep the
    // stream at exactly (current chunks + one meta per name) while the
    // WRITE count grows — the pre-purge design grew O(writes ever made).
    // The require is the claim: message count identical at 1 and 16
    // rewrites of the whole bucket.
    println()
    println("object-store overwrite churn (512 objects, 8 chunks @ 128 B each):")
    println(f"${"rewrites"}%9s ${"wall_s"}%8s ${"stream_msgs"}%12s ${"puts_per_s"}%11s")
    Seq(1, 4, 16).foreach { r =>
      val curl = s"nats://transport-scale-probe-churn-$r:4222"
      FakeJetStream.listen(curl)
      val ct = graft.transport.Transport.connect(curl)
      val cstore = new graft.transport.ObjectStore(ct, s"churn$r", 128)
      val cpayload = Array.tabulate[Byte](1024)(i => (i % 251).toByte)
      val ct0 = System.nanoTime()
      var pass = 0
      while (pass <= r) { // initial put + r full-bucket rewrites
        var i = 0
        while (i < 512) {
          cstore.put(f"obj/$i%04d", cpayload, (pass * 512 + i).toLong)
          i += 1
        }
        pass += 1
      }
      val cwall = (System.nanoTime() - ct0) / 1e9
      val cmsgs = ct.streamInfo(cstore.stream).messages
      require(cmsgs == 512L * 9L,
        s"churn leaked storage: $cmsgs messages, expected ${512 * 9}")
      println(f"$r%9d $cwall%8.2f $cmsgs%12d ${512.0 * (r + 1) / cwall}%11.1f")
    }

    // --- KV bucket sweep (nats_kv DSv2, round 10) -----------------------
    // Claims: the current-state scan is O(live keys) — RPCs track the key
    // count, never the write count (history trims keep the stream at
    // keys × history); a key point lookup is O(1) at every bucket size;
    // storage stays bounded under update churn (the require).
    println()
    println("kv bucket sweep (history=1, 25% of keys updated 4x), shards=8:")
    println(f"${"keys"}%8s ${"scan_wall_s"}%12s ${"scan_rpcs"}%10s " +
      f"${"keys_per_s"}%11s ${"point_rpcs"}%11s ${"stream_msgs"}%12s " +
      f"${"watch_wall_s"}%13s ${"watch_rpcs"}%11s")
    Seq(4096, 16384, 65536).foreach { nKeys =>
      val kurl = s"nats://transport-scale-probe-kv-$nKeys:4222"
      val ksrv = FakeJetStream.listen(kurl)
      val kstore = new graft.transport.KvStore(
        graft.transport.Transport.connect(kurl), s"kprobe$nKeys", 1)
      val kpayload = Array.tabulate[Byte](256)(i => (i % 251).toByte)
      var ki = 0
      while (ki < nKeys) {
        kstore.put(f"key/$ki%06d", kpayload, ki.toLong); ki += 1
      }
      var pass = 0
      while (pass < 4) { // churn: rewrite a quarter of the keyspace
        ki = 0
        while (ki < nKeys / 4) {
          kstore.put(f"key/${ki * 4}%06d", kpayload, (pass * nKeys + ki).toLong)
          ki += 1
        }
        pass += 1
      }
      val kmsgs = graft.transport.Transport.connect(kurl)
        .streamInfo(kstore.stream).messages
      require(kmsgs == nKeys.toLong,
        s"kv churn leaked storage: $kmsgs messages for $nKeys keys @ history=1")
      def kread = spark.read.format("nats_kv").option("url", kurl)
        .option("bucket", s"kprobe$nKeys").option("shards", "8").load()
      val k0 = ksrv.rpcCountTotal
      val kt0 = System.nanoTime()
      val kRows = kread.select("key", "revision").collect().length
      val kWall = (System.nanoTime() - kt0) / 1e9
      val kRpcs = ksrv.rpcCountTotal - k0
      require(kRows == nKeys, s"kv sweep lost rows: $kRows of $nKeys")
      val kp0 = ksrv.rpcCountTotal
      val pointRows = kread.filter(col("key") === f"key/${nKeys / 2}%06d")
        .select("key").collect().length
      val kPointRpcs = ksrv.rpcCountTotal - kp0
      require(pointRows == 1, s"kv point lookup got $pointRows rows")
      // WATCH replay of the retained changelog (== keys at history=1)
      val kwck = graft.Scratch.dir("probe_kvwatch")
      val kw0 = ksrv.rpcCountTotal
      val kwt0 = System.nanoTime()
      val kwq = spark.readStream.format("nats_kv").option("url", kurl)
        .option("bucket", s"kprobe$nKeys").option("watch", "true")
        .option("shards", "8").load()
        .select("revision", "key", "op")
        .writeStream.format("noop").option("checkpointLocation", kwck)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      kwq.awaitTermination(600000)
      val kwWall = (System.nanoTime() - kwt0) / 1e9
      val kwRpcs = ksrv.rpcCountTotal - kw0
      val kwRows = kwq.recentProgress.map(_.numInputRows).sum
      require(kwRows == nKeys.toLong,
        s"kv watch replay lost rows: $kwRows of $nKeys")
      println(f"$nKeys%8d $kWall%12.2f $kRpcs%10d ${nKeys / kWall}%11.1f " +
        f"$kPointRpcs%11d $kmsgs%12d $kwWall%13.2f $kwRpcs%11d")
    }

    Seq(16384L, 65536L, 262144L).foreach { m =>
      val gurl = s"nats://transport-scale-probe-grp-$m:4222"
      val gsrv = FakeJetStream.listen(gurl)
      var gs = 1L
      while (gs <= m) {
        gsrv.publish("gq", gs, s"g.${gs % 13}",
          1700000000000000000L + gs * 1000000L,
          s"""{"seq":$gs,"pad":"xxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxx"}""".getBytes)
        gs += 1
      }
      val r0 = gsrv.rpcCountTotal
      val t0 = System.nanoTime()
      val rows = spark.read.format("nats_scan")
        .option("url", gurl).option("stream", "gq")
        .option("deliver_group", "probe").option("group_members", "8")
        .load().select("seq").collect().length
      val wall = (System.nanoTime() - t0) / 1e9
      val rpcs = gsrv.rpcCountTotal - r0
      require(rows == m, s"group drain lost rows: $rows of $m")
      println(f"$m%9d $rows%9d $wall%8.2f $rpcs%7d " +
        f"${rpcs * 1000.0 / m}%13.2f ${m / wall / 1000.0}%12.1f")
    }

    // --- KV WATCH under CONCURRENT writer churn (round-10 judge task 5) --
    // Claim: the watch's wire volume is O(changes) regardless of HOW MANY
    // writers produce those changes concurrently — the 100 TB live-
    // pipeline case where a watch-fed job tails a bucket that ingest
    // workers churn at the same time. Fixed total change volume (8192
    // puts + 1 seed) split across 1/4/16 writer threads; the watch runs
    // LIVE (100 ms micro-batches) throughout. Watch RPCs = server total
    // minus the writers' own per-transport counts, so writer traffic
    // never pollutes the number. Flat rpc_per_kchange across rows = the
    // claim holds.
    println()
    val totalChanges = 8192
    println(s"kv watch under churn ($totalChanges puts total, watch live " +
      "at 100ms batches, shards=8):")
    println(f"${"writers"}%8s ${"changes_s"}%10s ${"watch_rows"}%11s " +
      f"${"watch_rpcs"}%11s ${"rpc_per_kchange"}%16s")
    Seq(1, 4, 16).foreach { nw =>
      val wurl = s"nats://transport-scale-probe-wchurn-$nw:4222"
      val wsrv = FakeJetStream.listen(wurl)
      val bucket = s"wch$nw"
      // history unlimited: every rewrite stays a changelog entry (a trim
      // mid-watch would race the reader by design; churn VISIBILITY is
      // what this probe measures)
      val seedKv = new graft.transport.KvStore(
        graft.transport.Transport.connect(wurl), bucket, 0)
      seedKv.put("seed", Array[Byte](1), 0L)
      val perWriter = totalChanges / nw
      val writerTransports = (0 until nw)
        .map(_ => graft.transport.Transport.connect(wurl))
      val writers = writerTransports.zipWithIndex.map { case (t, w) =>
        new Thread(() => {
          val kv = new graft.transport.KvStore(t, bucket, 0)
          var i = 0
          while (i < perWriter) {
            // 256-key working set per writer: genuine rewrite churn
            kv.put(f"k/$w%02d/${i % 256}%03d",
              Array[Byte]((i % 127).toByte), (w * perWriter + i).toLong)
            i += 1
          }
        })
      }
      val ckpt =
        graft.Scratch.dir(s"probe_wchurn$nw")
      val r0 = wsrv.rpcCountTotal
      val w0 = writerTransports.map(
        _.asInstanceOf[graft.transport.FakeTransport].rpcCount).sum
      val expect = totalChanges.toLong + 1L // + seed
      val q = spark.readStream.format("nats_kv").option("url", wurl)
        .option("bucket", bucket).option("watch", "true")
        .option("shards", "8").load()
        .select("revision", "key", "op")
        .writeStream.format("noop").option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger
          .ProcessingTime("100 milliseconds")).start()
      val t0 = System.nanoTime()
      writers.foreach(_.start())
      writers.foreach(_.join())
      val churnWall = (System.nanoTime() - t0) / 1e9
      def rows = q.recentProgress.map(_.numInputRows).sum
      val deadline = System.nanoTime() + 120L * 1000000000L
      while (rows < expect && System.nanoTime() < deadline)
        Thread.sleep(50L)
      q.stop()
      require(rows == expect, s"watch lost churn rows: $rows of $expect")
      val writerRpcs = writerTransports.map(
        _.asInstanceOf[graft.transport.FakeTransport].rpcCount).sum - w0
      val watchRpcs = (wsrv.rpcCountTotal - r0) - writerRpcs
      println(f"$nw%8d ${totalChanges / churnWall}%10.1f $rows%11d " +
        f"$watchRpcs%11d ${watchRpcs * 1000.0 / totalChanges}%16.2f")
    }

    spark.stop()
  }

  /** cross-task delivery collector for the continuous sweep (local mode) */
  val delivered: java.util.Set[java.lang.Long] =
    java.util.concurrent.ConcurrentHashMap.newKeySet[java.lang.Long]()
}
