package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.SpecBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{LongType, StructType, TimestampType}
import org.scalatest.BeforeAndAfterAll

import graft.engine.{Tables, ViewRegistry}
import graft.shopping.Dashboard
import graft.streaming.{Replay, StreamingCatalog, Streams}

/** The footer-schema resolver ([[Tables.schemaOf]]) and the declared-schema
  * sink read-backs: reads launch no schema-inference job once a file's
  * footer is known, a rewritten file is re-read, declared read-backs return
  * what inference would, and both `events.ts` generations normalize alike.
  * Ends with the job-count snapshot of the benchmark's catalog slice.
  */
class EngineSpec extends SparkSpec with BeforeAndAfterAll {

  private val started = new AtomicLong
  private val counter = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = started.incrementAndGet()
  }
  override def beforeAll(): Unit = spark.sparkContext.addSparkListener(counter)
  override def afterAll(): Unit = spark.sparkContext.removeSparkListener(counter)

  /** Spark jobs started while `body` ran. */
  private def jobsOf(body: => Unit): Long = {
    SpecBus.drain(spark.sparkContext)
    val before = started.get
    body
    SpecBus.drain(spark.sparkContext)
    started.get - before
  }

  private def tmp(prefix: String): Path = Files.createTempDirectory(prefix)

  test("a second registerAll in a new session launches no job") {
    ViewRegistry.registerAll(Tables(spark.newSession(), sf))
    assert(jobsOf(ViewRegistry.registerAll(Tables(spark.newSession(), sf))) === 0)
  }

  test("a rewritten table file is re-resolved") {
    val dir = tmp("graft-engine-rewrite")
    val file = dir.resolve("region.parquet")
    Files.copy(Paths.get(s"$sf/region.parquet"), file)
    val before = Tables(spark, dir.toString).region
    assert(!before.columns.contains("r_extra"))
    val n = before.count()
    writeParquetFile(spark.read.parquet(s"$sf/region.parquet").withColumn("r_extra", lit(7)), file)
    val after = Tables(spark, dir.toString).region
    assert(after.columns.last === "r_extra")
    assert(after.where("r_extra = 7").count() === n)
  }

  test("a missing events file is polled, not cached, by the stream replay") {
    val dir = tmp("graft-engine-late")
    intercept[java.io.FileNotFoundException](Tables.schemaOf(spark, s"$dir/events.parquet"))
    val lands = new Thread(() => {
      Thread.sleep(500)
      Files.copy(Paths.get(s"$sf/events.parquet"), dir.resolve("events.parquet"))
    })
    lands.start()
    val replayed = graft.streaming.StreamingCatalog.replayEnriched(spark, dir.toString)
    lands.join()
    assert(replayed.count() === Tables(spark, sf).events.count())
  }

  /** The schema of `df` and its rows ordered by `event_id`. */
  private def shape(df: DataFrame): (StructType, Seq[Row]) =
    (df.schema, df.orderBy("event_id").collect().toSeq)

  test("declared-schema sink read-backs equal inferred-schema reads") {
    val base = tmp("graft-engine-sink").toString
    val in = s"$base/in"
    Files.createDirectories(Paths.get(in))
    writeParquetFile(Tables(spark, sf).events.limit(200), Paths.get(in, "e1.parquet"))
    val enriched = Streams.enriched(Streams.readEvents(spark, in))
    assert(!enriched.schema("processed_time").nullable)

    // the file sink's metadata log keeps the written nullability
    val replayed = Replay.toParquet(enriched, s"$base/replay")
    assert(replayed.count() === 200)
    assert(shape(replayed) === shape(spark.read.parquet(s"$base/replay/sink")))

    // the consumer's plain appends read back nullable, declared or inferred
    @volatile var refreshed: Option[(StructType, Seq[Row])] = None
    Replay.await(Streams.startConsumerWithViewRefresh(spark, in, s"$base/sink",
      s"$base/ckpt", full => refreshed = Some(shape(full)), Trigger.AvailableNow()))
    val inferred = spark.read.parquet(s"$base/sink")
    assert(inferred.schema("processed_time").nullable)
    assert(refreshed.map(_._2.size) === Some(200))
    assert(refreshed === Some(shape(inferred)))
  }

  test("both events.ts generations go through the resolver to identical ts") {
    // the same rows as TIMESTAMP(NANOS) and as timestamp[us] (which Spark
    // loads as TIMESTAMP_NTZ); nanos carry a sub-microsecond remainder that
    // the normalization truncates
    val micros = Seq(1709251200000000L, 1709254800123456L, 1709340000999999L)
    def write(dir: Path, tsType: String, ts: Long => Long): Unit = {
      val schema = MessageTypeParser.parseMessageType(
        s"""message events {
           |  required int64 event_id;
           |  required int64 ts ($tsType);
           |  required int64 user_id;
           |  required binary event_type (STRING);
           |  required double value;
           |  required binary props (STRING);
           |}""".stripMargin)
      val w = ExampleParquetWriter
        .builder(new org.apache.hadoop.fs.Path(s"$dir/events.parquet"))
        .withConf(new Configuration()).withType(schema).build()
      val g = new SimpleGroupFactory(schema)
      try micros.zipWithIndex.foreach { case (m, i) =>
        w.write(g.newGroup().append("event_id", i.toLong).append("ts", ts(m))
          .append("user_id", 7L).append("event_type", "purchase")
          .append("value", 12.5).append("props", """{"rating": 4}"""))
      } finally w.close()
    }
    val nanosDir = tmp("graft-engine-nanos")
    val microsDir = tmp("graft-engine-micros")
    write(nanosDir, "TIMESTAMP(NANOS,false)", m => m * 1000 + 789)
    write(microsDir, "TIMESTAMP(MICROS,false)", identity)

    val nanos = Tables(spark, nanosDir.toString).events
    val us = Tables(spark, microsDir.toString).events
    assert(Tables.eventsSchemaOf(spark, s"$nanosDir/events.parquet")("ts").dataType === LongType)
    // the resolver shares an entry inferred with nanosAsLong off with every
    // session only because inference rejects a NANOS column then
    val off = spark.newSession()
    off.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    intercept[Exception](off.read.parquet(s"$nanosDir/events.parquet").schema)
    assert(nanos.schema("ts").dataType === TimestampType)
    assert(us.schema("ts").dataType === TimestampType)
    val ts = (df: DataFrame) => df.orderBy("event_id").select("ts").collect().map(_.getTimestamp(0)).toSeq
    assert(ts(nanos) === ts(us))
    assert(ts(us).map(t => t.getTime * 1000 + t.getNanos / 1000 % 1000) === micros)
  }

  test("Tables.events leaves the caller's session conf unchanged") {
    val s = spark.newSession()
    val before = s.conf.getAll
    assert(Tables(s, sf).events.count() > 0)
    StreamingCatalog.replayEnriched(s, sf)
    assert(s.conf.getAll === before)
    assert(s.conf.getOption("spark.sql.legacy.parquet.nanosAsLong").forall(_ == "false"))
  }

  test("no catalog_pass query or registerAll grows its steady-state job count (snapshot)") {
    // jobs launched by the second call of each query of the benchmark's
    // catalog slice (to the noop sink), of four queries outside it, of
    // ViewRegistry.registerAll, of the live consumer's view refresh
    // (streamViewState collected over a multi-file sink read back under its
    // declared schema) and of one full dashboard refresh (every fetcher
    // through fetchPage, the clock past both TTLs): a rise is an extra job
    // per query at any scale.
    // Deliberate changes: GRAFT_REGEN_PLANS=1 sbt "testOnly graft.EngineSpec"
    // and commit the regenerated file.
    val snap = Paths.get("src/test/resources/job_counts.tsv")
    val names = scala.io.Source.fromFile("perfbench/expected/catalog_queries.txt")
      .getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).toSeq
    // frames other suites left in the shared CacheManager would serve
    // some of these plans from memory and hide their jobs
    spark.catalog.clearCache()
    val s = spark.newSession()
    def release(): Unit =
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    val sink = tmp("graft-engine-refresh").resolve("sink").toString
    val appended = Streams.enriched(Tables(s, sf).events)
    appended.repartition(3).write.parquet(sink)
    val others = Seq("v_age_preferences", "v_gender_preferences", "v_age_gender_category",
      "category_satisfaction_pivot")
    var now = 0L
    val dash = new Dashboard(s, sf, clock = () => now)
    val fetchers: Seq[() => DataFrame] = Seq(
      () => dash.latestOrders(), () => dash.agePreferences(), () => dash.genderPreferences(),
      () => dash.locationPreferences(), () => dash.ageGenderCategory(), () => dash.metrics(),
      () => dash.hourlyActivity(), () => dash.segmentRevenue(), () => dash.satisfactionPivot(),
      () => dash.anomalyHourly(), () => dash.anomalyByCategory(), () => dash.anomalyByLocation(),
      () => dash.anomalyHistogram(), () => dash.categorySatisfactionPivot(),
      () => dash.vipCategoryBreakdown(), () => dash.topCategoriesByVolume(),
      () => dash.topCategoriesByRevenue(), () => dash.amountHistogram(),
      () => dash.amountCategoryCounts(), () => dash.frequencyCategoryCounts(),
      () => dash.vipLoyaltyCounts(), () => dash.eventTypes(), () => dash.segments())
    val calls: Seq[(String, () => Unit)] =
      ("registerAll" -> (() => ViewRegistry.registerAll(Tables(s, sf)))) +:
        ("streamViewState" -> (() =>
          StreamingCatalog.streamViewState(s.read.schema(appended.schema).parquet(sink))
            .collect(): Unit)) +:
        (names ++ others).map(n => n -> (() =>
          SparkEntry.queries(n)(s, sf).write.format("noop").mode("overwrite").save())) :+
        // last: the dashboard's snapshots would serve the queries above from memory
        ("dashboard_refresh" -> (() => { now += 30000; fetchers.foreach(f => dash.fetchPage(f())) }))
    val actual = calls.map { case (n, call) =>
      release(); call()
      release(); n -> jobsOf(call())
    }.toMap
    dash.invalidate()
    if (sys.env.contains("GRAFT_REGEN_PLANS")) {
      val body = actual.toSeq.sortBy(_._1).map { case (n, j) => s"$n\t$j" }
        .mkString("", "\n", "\n")
      Files.writeString(snap, body)
      info(s"regenerated $snap")
    } else {
      val expected = scala.io.Source.fromFile(snap.toFile).getLines()
        .filter(_.nonEmpty).map { l => val Array(n, j) = l.split("\t"); n -> j.toLong }.toMap
      val diffs = actual.toSeq.sortBy(_._1).flatMap { case (n, a) =>
        expected.get(n) match {
          case None => Some(s"$n: not in snapshot (new query) — regenerate")
          case Some(e) if e != a =>
            Some(s"$n: jobs $e -> $a — " +
              (if (a > e) "MORE jobs, investigate" else "improvement, regenerate the snapshot"))
          case _ => None
        }
      } ++ (expected.keySet -- actual.keySet).toSeq.sorted
        .map(n => s"$n: stale snapshot row (query removed) — regenerate")
      assert(diffs.isEmpty, diffs.mkString("\n"))
    }
  }
}
