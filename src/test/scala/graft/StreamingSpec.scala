package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.shopping.Enrich
import graft.streaming.Streams

/** Raw input record matching Streams.eventSchema. */
case class RawEvent(event_id: Long, ts: Timestamp, user_id: Long,
                    event_type: String, value: Double, props: String)

/** Fingerprinted record for the streaming simhash near-dup signal. */
case class FpEvent(event_id: Long, ts: Timestamp, fp: Long)

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def mkEvents(ids: Range): Seq[RawEvent] = ids.map { i =>
    RawEvent(i.toLong, Timestamp.valueOf(f"2024-03-0${i % 9 + 1}%d 0${i % 9}%d:15:00"),
      i % 23, Seq("click", "purchase", "error", "view")(i % 4),
      (i * 37 % 330) + 0.25, s"""{"k": ${i % 97}}""")
  }

  test("stream enrichment equals batch enrichment on the same records") {
    val input = MemoryStream[RawEvent](spark)
    val events = mkEvents(0 until 60)
    input.addData(events: _*)

    // pin processed_time to event time on both sides so rows are comparable
    val q = Enrich.enrich(input.toDF(), processedTime = col("ts"))
      .writeStream.format("memory").queryName("stream_enriched")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)

    val streamRows = spark.table("stream_enriched").orderBy("event_id").collect()
    val batchRows = Enrich.enrich(events.toDF(), processedTime = col("ts"))
      .orderBy("event_id").collect()
    assert(streamRows.length === 60)
    assert(streamRows.toSeq === batchRows.toSeq)
  }

  /** Drop a DataFrame into the watched dir as ONE flat parquet file. */
  private def addFile(df: org.apache.spark.sql.DataFrame, dir: String, name: String): Unit =
    writeParquetFile(df, java.nio.file.Paths.get(dir, name))

  test("foreachBatch consumer appends to sink and refreshes views per batch") {
    val base = Files.createTempDirectory("graft-stream").toString
    val in = s"$base/in"; val sink = s"$base/sink"; val ckpt = s"$base/ckpt"
    Files.createDirectories(java.nio.file.Paths.get(in))

    @volatile var lastCount = -1L
    val refresh: org.apache.spark.sql.DataFrame => Unit = { full =>
      full.groupBy("event_type").agg(count(lit(1)).as("n"))
        .createOrReplaceTempView("v_stream_counts")
      lastCount = full.count()
    }

    // batch 1
    addFile(mkEvents(0 until 40).toDF(), in, "b1.parquet")
    val q = Streams.startConsumerWithViewRefresh(
      spark, in, sink, ckpt, refresh, Trigger.AvailableNow())
    q.awaitTermination(120000)
    assert(lastCount === 40)

    // batch 2: new file, new incremental run (AvailableNow terminates per run)
    addFile(mkEvents(40 until 100).toDF(), in, "b2.parquet")
    val q2 = Streams.startConsumerWithViewRefresh(
      spark, in, sink, ckpt, refresh, Trigger.AvailableNow())
    q2.awaitTermination(120000)
    assert(lastCount === 100, "second batch appends, views see the full table")

    val sunk = spark.read.parquet(sink)
    assert(sunk.count() === 100)
    assert(sunk.columns.contains("final_amount_usd") && sunk.columns.contains("loyalty_score"))
    // the published temp view reflects the full sink
    assert(spark.table("v_stream_counts").agg(sum("n")).head.getLong(0) === 100)
  }

  test("plain consumer appends enriched records to the parquet sink") {
    val base = Files.createTempDirectory("graft-consumer").toString
    val in = s"$base/in"; val sink = s"$base/sink"; val ckpt = s"$base/ckpt"
    Files.createDirectories(java.nio.file.Paths.get(in))
    addFile(mkEvents(0 until 30).toDF(), in, "a.parquet")
    val q = Streams.startConsumer(spark, in, sink, ckpt, Trigger.AvailableNow())
    q.awaitTermination(120000)
    val out = spark.read.parquet(sink)
    assert(out.count() === 30)
    assert(out.columns.contains("processed_time") && out.columns.contains("season_type"))
  }

  test("sliding windows cover each event size/slide times") {
    val input = MemoryStream[RawEvent](spark)
    val events = mkEvents(0 until 50)
    input.addData(events: _*)
    val q = graft.streaming.Streams.slidingWindowCounts(input.toDF(), "1 hour", "15 minutes")
      .writeStream.format("memory").queryName("stream_sliding")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val total = spark.table("stream_sliding").agg(sum("n")).head.getLong(0)
    assert(total === events.length * 4, "every event lands in 4 overlapping windows")
  }

  test("session windows fuse events within the gap per user") {
    val mk = (id: Long, u: Long, t: String) =>
      RawEvent(id, Timestamp.valueOf(t), u, "click", 10.0, """{"k": 1}""")
    val events = Seq(
      mk(1, 1, "2024-03-01 10:00:00"), mk(2, 1, "2024-03-01 10:10:00"), // session A
      mk(3, 1, "2024-03-01 11:30:00"),                                  // session B (gap > 30m)
      mk(4, 2, "2024-03-01 10:05:00"))                                  // user 2
    val input = MemoryStream[RawEvent](spark)
    input.addData(events: _*)
    val q = graft.streaming.Streams.userSessions(input.toDF(), "30 minutes")
      .writeStream.format("memory").queryName("stream_sessions")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val rows = spark.table("stream_sessions")
      .orderBy("user_id", "session_start").collect()
    assert(rows.length === 3)
    assert(rows.map(r => (r.getLong(0), r.getLong(3))).toSeq === Seq((1L, 2L), (1L, 1L), (2L, 1L)))
  }

  test("append-mode session replay drains the COMPLETE batch session set") {
    def replay() = graft.streaming.StreamingCatalog
      .replaySessionWindows(spark, sf).collect().toSeq
    val want = Streams.userSessions(
        graft.engine.Tables(spark, sf).events, "30 minutes")
      .select(col("user_id"),
        graft.ops.Relational.tsStr(col("session_start")).as("session_start"),
        col("n_events"), col("session_value"))
      .orderBy("user_id", "session_start").collect().toSeq
    assert(want.nonEmpty)
    assert(replay() === want,
      "every session emits exactly once through the watermark flush")
    // the state store is an execution detail: the same replay on the
    // disk-backed provider drains the same session set
    assert(withStateStore(RocksDbStateStore)(replay()) === want,
      "every session emits exactly once on the RocksDB state store")
  }

  test("incremental cube state equals the batch cube after multiple batches") {
    val input = MemoryStream[RawEvent](spark)
    val b1 = mkEvents(0 until 40); val b2 = mkEvents(40 until 90)
    val ckpt = Files.createTempDirectory("graft-cube-ckpt").toString
    def runOnce(): Unit = {
      val run = Streams.incrementalCube(
          graft.shopping.Enrich.enrich(input.toDF(), processedTime = col("ts")),
          Seq("event_type", "customer_segment"))
        .writeStream.format("memory").queryName("stream_cube")
        .outputMode("complete")
        .option("checkpointLocation", ckpt) // run 2 resumes state, reads only b2
        .trigger(Trigger.AvailableNow()).start()
      run.awaitTermination(60000)
    }
    input.addData(b1: _*)
    runOnce()
    input.addData(b2: _*)
    runOnce()

    val streamed = spark.table("stream_cube")
      .select(col("event_type"), col("customer_segment"), col("cnt"),
        col("amount_dec").cast("double").as("amt"))
      .orderBy("event_type", "customer_segment").collect()
    val batch = Streams.incrementalCube(
        graft.shopping.Enrich.enrich((b1 ++ b2).toDF(), processedTime = col("ts")),
        Seq("event_type", "customer_segment"))
      .select(col("event_type"), col("customer_segment"), col("cnt"),
        col("amount_dec").cast("double").as("amt"))
      .orderBy("event_type", "customer_segment").collect()
    assert(streamed.toSeq === batch.toSeq,
      "incremental aggregation state is exact vs batch recompute")
  }

  /** The RocksDB state store for the stateful streaming paths
    * (`incrementalCube`, `dedupStream`, `simHashNearDupFlags`,
    * `userSessions`): state on native memory + local disk instead of the
    * executor heap. The default HDFS-backed provider holds each
    * partition's whole state map on-heap, which caps state size at
    * executor memory — at 100× the incremental-view cube and the dedup key
    * set outgrow a heap, while RocksDB spills to disk with bounded
    * block-cache memory. Session-level confs, read at query start;
    * changelog checkpointing keeps per-batch commit cost proportional to
    * the CHANGED keys, not a full state-file upload.
    */
  private val RocksDbStateStore: Map[String, String] = Map(
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" ->
      "true")

  /** Run `body` with the state-store `confs` set (restored after), and
    * REQUIRE that a streaming progress event carried a RocksDB-specific
    * state-operator metric — a typo'd provider class or an ignored conf
    * fails the test rather than silently running on the default heap
    * store.
    */
  private def withStateStore[A](confs: Map[String, String])(body: => A): A = {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.streaming.StreamingQueryListener
    val prev = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    val seen = new java.util.concurrent.atomic.AtomicBoolean(false)
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (e.progress.stateOperators.exists(_.customMetrics.keySet().asScala
            .exists(_.toLowerCase.contains("rocksdb")))) seen.set(true)
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    try {
      val r = body
      // progress events post asynchronously on the listener bus; the
      // body's queries have already terminated, so just drain briefly
      val deadline = System.currentTimeMillis() + 30000
      while (!seen.get() && System.currentTimeMillis() < deadline) Thread.sleep(50)
      assert(seen.get(),
        "RocksDB state-store metrics never appeared in streaming progress")
      r
    } finally {
      spark.streams.removeListener(listener)
      prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None)    => spark.conf.unset(k)
      }
    }
  }

  test("incremental cube on the RocksDB state store: exact result, rocksdb metrics present") {
    withStateStore(RocksDbStateStore) {
      val input = MemoryStream[RawEvent](spark)
      val events = mkEvents(0 until 90)
      input.addData(events: _*)
      val run = Streams.incrementalCube(
          Enrich.enrich(input.toDF(), processedTime = col("ts")),
          Seq("event_type", "customer_segment"))
        .writeStream.format("memory").queryName("stream_cube_rocksdb")
        .outputMode("complete")
        .option("checkpointLocation",
          Files.createTempDirectory("graft-cube-rocksdb").toString)
        .trigger(Trigger.AvailableNow()).start()
      run.awaitTermination(60000)
      val streamed = spark.table("stream_cube_rocksdb")
        .select(col("event_type"), col("customer_segment"), col("cnt"),
          col("amount_dec").cast("double").as("amt"))
        .orderBy("event_type", "customer_segment").collect()
      val batch = Streams.incrementalCube(
          Enrich.enrich(events.toDF(), processedTime = col("ts")),
          Seq("event_type", "customer_segment"))
        .select(col("event_type"), col("customer_segment"), col("cnt"),
          col("amount_dec").cast("double").as("amt"))
        .orderBy("event_type", "customer_segment").collect()
      assert(streamed.toSeq === batch.toSeq,
        "RocksDB-backed incremental state must equal the batch recompute")
    }
  }

  test("streaming dedup on the RocksDB state store drops the replayed keys") {
    withStateStore(RocksDbStateStore) {
      val input = MemoryStream[RawEvent](spark)
      val base = mkEvents(0 until 20)
      input.addData(base: _*)
      input.addData(base.take(10): _*)
      val q = Streams.dedupStream(input.toDF(), Seq("event_id"))
        .writeStream.format("memory").queryName("stream_dedup_rocksdb")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
      val ids = spark.table("stream_dedup_rocksdb")
        .select("event_id").collect().map(_.getLong(0))
      assert(ids.length === 20 && ids.toSet.size === 20)
    }
  }

  test("streaming dedup drops duplicate keys within the watermark") {
    val input = MemoryStream[RawEvent](spark)
    val base = mkEvents(0 until 20)
    input.addData(base: _*)
    input.addData(base.take(10): _*) // replay half — must be dropped
    val q = Streams.dedupStream(input.toDF(), Seq("event_id"))
      .writeStream.format("memory").queryName("stream_dedup")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val ids = spark.table("stream_dedup").select("event_id").collect().map(_.getLong(0))
    assert(ids.length === 20 && ids.toSet.size === 20)
  }

  test("streaming simhash dedup flags a NEAR-dup replay within the watermark") {
    // deterministic 60-bit fingerprints, pairwise hamming far above the
    // threshold (asserted below, so the negative cases can't flake)
    def mix(i: Long): Long = {
      var z = i * 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      (z ^ (z >>> 27)) & ((1L << 60) - 1)
    }
    val base = (0L until 10L).map(i => FpEvent(i, Timestamp.valueOf("2024-03-01 10:00:00"), mix(i)))
    for (a <- base; b <- base if a.event_id < b.event_id)
      assert(java.lang.Long.bitCount(a.fp ^ b.fp) > 6, "fixture fps must be far apart")
    // id 100: fp of id 3 with 3 bits flipped (hamming 3 — a near-dup, not
    // an exact replay); id 101: a fresh far-away fingerprint
    val replay = Seq(
      FpEvent(100, Timestamp.valueOf("2024-03-01 10:05:00"), base(3).fp ^ 0x2100000001L),
      FpEvent(101, Timestamp.valueOf("2024-03-01 10:05:00"), mix(42)))
    assert(java.lang.Long.bitCount(base(3).fp ^ replay.head.fp) === 3)

    val input = MemoryStream[FpEvent](spark)
    input.addData(base: _*)
    input.addData(replay: _*)
    val q = Streams.simHashNearDupFlags(input.toDF(), "event_id", "fp")
      .writeStream.format("memory").queryName("stream_simhash_flags")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)

    val verdicts = Streams.nearDupVerdicts(spark.table("stream_simhash_flags"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(verdicts.size === 12)
    assert(verdicts(100L), "a 3-bit-flipped near-dup replay must be flagged")
    assert(!verdicts(101L), "an unrelated fingerprint must pass")
    assert(base.forall(e => !verdicts(e.event_id)), "originals must pass")
  }

  test("streaming simhash near-dup flags on the RocksDB state store") {
    // the third stateful path on the RocksDB provider: the same mixed
    // original/near-dup/fresh fixture as the HDFS-store test above
    withStateStore(RocksDbStateStore) {
      def mix(i: Long): Long = {
        var z = i * 0x9E3779B97F4A7C15L
        z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
        (z ^ (z >>> 27)) & ((1L << 60) - 1)
      }
      val base = (0L until 10L).map(i =>
        FpEvent(i, Timestamp.valueOf("2024-03-01 10:00:00"), mix(i)))
      val replay = Seq(
        FpEvent(100, Timestamp.valueOf("2024-03-01 10:05:00"), base(3).fp ^ 0x2100000001L),
        FpEvent(101, Timestamp.valueOf("2024-03-01 10:05:00"), mix(42)))
      val input = MemoryStream[FpEvent](spark)
      input.addData(base: _*)
      input.addData(replay: _*)
      val q = Streams.simHashNearDupFlags(input.toDF(), "event_id", "fp")
        .writeStream.format("memory").queryName("stream_simhash_rocksdb")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
      val verdicts = Streams
        .nearDupVerdicts(spark.table("stream_simhash_rocksdb"))
        .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      assert(verdicts.size === 12 && verdicts(100L) && !verdicts(101L))
      assert(base.forall(e => !verdicts(e.event_id)))
    }
  }

  test("stream-stream join matches purchases to views within the window") {
    val mk = (id: Long, u: Long, t: String, typ: String) =>
      RawEvent(id, Timestamp.valueOf(t), u, typ, 5.0, """{"k": 1}""")
    val views = MemoryStream[RawEvent](spark)
    val buys = MemoryStream[RawEvent](spark)
    views.addData(
      mk(1, 7, "2024-03-01 10:00:00", "view"),
      mk(2, 8, "2024-03-01 10:00:00", "view"))
    buys.addData(
      mk(10, 7, "2024-03-01 10:30:00", "purchase"), // in window for user 7
      mk(11, 8, "2024-03-01 12:00:00", "purchase")) // too late for user 8
    val q = Streams.joinWithinWindow(views.toDF(), buys.toDF(), "user_id")
      .writeStream.format("memory").queryName("stream_joined")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val rows = spark.table("stream_joined").collect()
    assert(rows.length === 1 && rows.head.getAs[Long]("user_id") === 7L)
  }

  test("left-outer interval join emits null-padded rows once the watermark closes the window") {
    val mk = (id: Long, u: Long, t: String, typ: String) =>
      RawEvent(id, Timestamp.valueOf(t), u, typ, 5.0, """{"k": 1}""")
    val views = MemoryStream[RawEvent](spark)
    val buys = MemoryStream[RawEvent](spark)
    val q = Streams.joinWithinWindow(views.toDF(), buys.toDF(), "user_id",
        joinType = "left_outer")
      .writeStream.format("memory").queryName("stream_left_joined")
      .outputMode("append").start()
    try {
      views.addData(
        mk(1, 7, "2024-03-01 10:00:00", "view"),   // converts at 10:30
        mk(2, 8, "2024-03-01 10:00:00", "view"))   // never converts
      buys.addData(mk(10, 7, "2024-03-01 10:30:00", "purchase"))
      q.processAllAvailable()
      // the global watermark is the MIN across both inputs — drive BOTH
      // sides forward (distinct users, so the drivers never join) until it
      // passes user 8's join-window end and the state store evicts the row
      for (h <- Seq("13", "14")) {
        views.addData(mk(100 + h.toLong, 98, s"2024-03-01 $h:00:00", "view"))
        buys.addData(mk(200 + h.toLong, 99, s"2024-03-01 $h:00:00", "purchase"))
        q.processAllAvailable()
      }
      val rows = spark.table("stream_left_joined")
        .filter(col("user_id").isin(7L, 8L)).collect()
      val byUser = rows.map(r => r.getAs[Long]("user_id") -> r).toMap
      assert(rows.length === 2)
      assert(byUser(7L).getAs[Long]("r_id") === 10L, "in-window pair joins")
      assert(byUser(8L).isNullAt(byUser(8L).fieldIndex("r_id")),
        "the never-converted view emits exactly one null-padded row")
    } finally q.stop()
  }

  test("a timed-out replay throws instead of verifying a partial sink") {
    // 1 ms cannot cover even one micro-batch commit, so the shared await
    // must fail loudly and stop the query rather than hand back whatever
    // reached the sink
    val base = Files.createTempDirectory("graft-timeout").toString
    val in = s"$base/in"
    Files.createDirectories(java.nio.file.Paths.get(in))
    addFile(mkEvents(0 until 30).toDF(), in, "a.parquet")
    val q = Streams.startConsumer(spark, in, s"$base/sink", s"$base/ckpt",
      Trigger.AvailableNow())
    val e = intercept[IllegalStateException] {
      graft.streaming.Replay.await(q, timeoutMs = 1)
    }
    assert(e.getMessage.contains("timed out"))
    assert(!q.isActive, "a timed-out replay must not keep running")
  }

  test("memory-sink replays leave no session temp view behind") {
    def graftViews() = spark.catalog.listTables().collect()
      .map(_.name).filter(_.startsWith("graft_")).toSet
    val before = graftViews()
    val runs = Seq.fill(2)(
      graft.streaming.StreamingCatalog.replayIncrementalView(spark, sf).collect().toSeq)
    assert(graftViews() === before, "each replay must drop its memory-sink view")
    val cube = Streams.incrementalCube(
      Streams.enriched(graft.engine.Tables(spark, sf).events)
        .withColumn("category", col("event_type")),
      Seq("customer_segment", "category"))
    val want = graft.shopping.Views.preferencesFromCube(
      cube, "customer_segment", withRating = false).collect().toSeq
    assert(want.nonEmpty)
    runs.foreach(got => assert(got === want, "replay result equals the batch view"))
  }

  test("the gate's view-refresh replay equals the batch view over the same events") {
    val streamed = graft.streaming.StreamingCatalog.replayViewRefresh(spark, sf).collect()
    val enrichedBatch = graft.shopping.EnrichCatalog.enrichedFrame(
      graft.engine.Tables(spark, sf).events)
    val batch = graft.streaming.StreamingCatalog.streamViewState(enrichedBatch).collect()
    assert(streamed.nonEmpty && streamed.toSeq === batch.toSeq)
  }

  test("watermarked hourly window aggregation matches batch time-bucketing") {
    val input = MemoryStream[RawEvent](spark)
    val events = mkEvents(0 until 80)
    input.addData(events: _*)

    val q = Streams.hourlyWindowCounts(input.toDF())
      .writeStream.format("memory").queryName("stream_hourly")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)

    val streamed = spark.table("stream_hourly")
      .select(col("bucket"), col("n"), col("total_value"))
      .orderBy("bucket").collect()
    val batch = graft.ops.Relational.timeBucketAgg(
        events.toDF(), col("ts"), "hour",
        Seq(count(lit(1)).as("n"), graft.ops.Relational.moneySum(col("value")).as("total_value")))
      .orderBy("bucket").collect()
    assert(streamed.toSeq === batch.toSeq)
  }

  test("rows behind the watermark are dropped AND accounted in query progress") {
    val input = MemoryStream[RawEvent](spark)
    val q = Streams.hourlyWindowCounts(input.toDF())
      .writeStream.format("memory").queryName("stream_late")
      .outputMode("update").start()
    try {
      // batch 1: event time 10:30 → watermark advances to 09:30 at batch end
      input.addData(RawEvent(1L, Timestamp.valueOf("2026-01-01 10:30:00"),
        1L, "view", 10.0, "{}"))
      q.processAllAvailable()
      // batch 2: an 08:00 straggler — its window closed before the
      // watermark, so it must be dropped, not aggregated
      input.addData(RawEvent(2L, Timestamp.valueOf("2026-01-01 08:00:00"),
        1L, "view", 5.0, "{}"))
      q.processAllAvailable()

      val dropped = q.recentProgress
        .flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum
      assert(dropped === 1L, "the straggler is visible in progress metrics")
      val buckets = spark.table("stream_late")
        .select("bucket").collect().map(_.getTimestamp(0)).toSet
      assert(!buckets.contains(Timestamp.valueOf("2026-01-01 08:00:00")),
        "the dropped row's window never materializes")
      assert(buckets.contains(Timestamp.valueOf("2026-01-01 10:00:00")))
    } finally q.stop()
  }
}
