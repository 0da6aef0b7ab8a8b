package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.ops.Relational
import graft.shopping.{Enrich, Views}

/** One exploded band row of a record's SimHash: `bandKey` is
  * (band index, 15-bit slice) packed into a long — the LSH bucket key the
  * streaming near-dup state shards on.
  */
final case class SimHashBandRow(bandKey: Long, eventId: Long,
                                ts: java.sql.Timestamp, fp: Long)

/** Per-band near-dup verdict for one record: `near` = some fingerprint
  * seen earlier in this band bucket is within the hamming threshold.
  */
final case class SimHashFlag(eventId: Long, bandKey: Long, near: Boolean)

/** Watermark-bounded state of one band bucket: the full 60-bit
  * fingerprints seen (each fp is stored in `bands` buckets total).
  */
final case class SimHashBandState(fps: List[Long])

/** The streaming ingest tier (SURVEY §2.5): the reference's off-repo
  * "Consumer Spark" job — file-source readStream → per-record enrichment →
  * append sink — plus the per-poll full view recompute the dashboard's
  * cache-TTL polling implies.
  *
  * Design decisions (mirroring the reference's semantics):
  *  - Enrichment is the SAME [[Enrich.enrich]] used in batch (stateless
  *    projections), so stream and batch results agree by construction; the
  *    only streaming-specific column is `processed_time = current_timestamp`
  *    (ingest time).
  *  - The analytic views recompute over the ENTIRE sink table per
  *    micro-batch (the reference re-reads full views every poll,
  *    streamlit_app.py:218-285; its views have no time predicate). Window
  *    functions are unsupported on streaming DataFrames anyway, so
  *    `foreachBatch` + full recompute is both the faithful and the only
  *    shape — documented SURVEY §7.6.
  *  - True incremental streaming aggregation is provided where Spark
  *    supports it: watermarked event-time tumbling and sliding windows
  *    ([[slidingWindowCounts]]).
  *
  * Scale: the enrich stage is narrow (scales with input splits); the sink is
  * an append-only parquet table; per-batch view recompute cost is the batch
  * cost of [[Views]] — at 100 TB one would cut the recompute cadence or
  * switch the views to incremental sketches, both knobs outside the operator
  * semantics.
  */
object Streams {

  /** Input schema of the raw order/event stream (file sources must declare
    * schemas — streaming scans cannot infer).
    */
  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** File-source stream of raw events. */
  def readEvents(spark: SparkSession, inDir: String): DataFrame =
    spark.readStream.schema(eventSchema).parquet(inDir)

  /** The consumer pipeline: raw stream → 11 enriched columns (ingest-time
    * `processed_time`).
    */
  def enriched(raw: DataFrame): DataFrame = Enrich.enrich(raw)

  /** Start the enrich-and-append consumer: readStream → enrich →
    * parquet append sink, checkpointed, micro-batch trigger.
    */
  def startConsumer(spark: SparkSession, inDir: String, sinkDir: String,
                    checkpointDir: String,
                    trigger: Trigger = Trigger.ProcessingTime("15 seconds")): StreamingQuery =
    Replay.appendParquet(enriched(readEvents(spark, inDir)), sinkDir, checkpointDir, trigger)

  /** Start the consumer AND refresh the analytic-view temp views over the
    * full sink table after every micro-batch (the reference's poll-refresh
    * semantics, one transactional step per batch): enrich-append runs
    * inside `foreachBatch`, then each registered view is recomputed over
    * everything appended so far and republished under its `v_` name.
    */
  def startConsumerWithViewRefresh(spark: SparkSession, inDir: String,
                                   sinkDir: String, checkpointDir: String,
                                   refresh: DataFrame => Unit,
                                   trigger: Trigger = Trigger.ProcessingTime("15 seconds")): StreamingQuery =
    consumeWithViewRefresh(spark, readEvents(spark, inDir), sinkDir,
      checkpointDir, refresh, trigger)

  /** [[startConsumerWithViewRefresh]] over an already-prepared raw stream
    * (for sources whose schema needs adapting before enrichment, e.g. the
    * gate's nanosecond-timestamp replay).
    *
    * Per micro-batch: one job for the sink append, then whatever `refresh`
    * runs over the read-back sink. The read-back declares its schema, so it
    * adds no schema-inference job; a view derived through
    * [[graft.shopping.Views]] (e.g. `StreamingCatalog.streamViewState`)
    * costs 2 jobs when collected: the sink scan with the cube's partial
    * aggregate, then the cube's one reduce task, which also runs the
    * windows and the final sort.
    */
  def consumeWithViewRefresh(spark: SparkSession, raw: DataFrame,
                             sinkDir: String, checkpointDir: String,
                             refresh: DataFrame => Unit,
                             trigger: Trigger = Trigger.ProcessingTime("15 seconds")): StreamingQuery =
    Replay.eachBatch(enriched(raw), checkpointDir, trigger) { (batch, _) =>
      batch.write.mode("append").parquet(sinkDir)
      // refresh against the CALLER's session: foreachBatch runs in an
      // isolated session clone, where temp-view registrations would be
      // invisible to the application. The sink holds only frames of this
      // schema, so the read-back declares it instead of inferring it.
      refresh(spark.read.schema(batch.schema).parquet(sinkDir))
    }

  /** Incremental event-time aggregation over a watermarked sliding window
    * (north-star extension, SURVEY §7.5), valid in streaming append mode:
    * each event lands in `size/slide` overlapping windows — e.g. hourly
    * totals refreshed every 15 minutes — and late data beyond 1 hour is
    * dropped, which the reference's full-recompute model never notices but
    * a true stream must declare. `size == slide` is the tumbling window the
    * dashboard's hourly chart needs (streamlit_app.py:374-379).
    */
  def slidingWindowCounts(stream: DataFrame, size: String = "1 hour",
                          slide: String = "15 minutes"): DataFrame =
    stream
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), size, slide).as("w"))
      .agg(count(lit(1)).as("n"),
        Relational.moneySum(col("value")).as("total_value"))
      .select(col("w.start").as("bucket"), col("n"), col("total_value"))

  /** Incrementally-maintained view core (north-star extension): the
    * `keys → (cnt, amount_dec)` cube the rating-free analytic views derive
    * from ([[graft.shopping.Views.preferencesFromCube]] /
    * `topCategoriesFromCube` with `withRating = false`), kept up to date by
    * Spark's stateful streaming aggregation instead of per-batch full
    * recompute. Counts and decimal sums compose associatively, so the
    * incremental state equals the batch cube exactly; downstream stats /
    * top-k read the maintained cube at group cardinality. This is the
    * replacement for full recompute when the sink table outgrows the
    * refresh budget (SCALE.md, streaming tier).
    */
  def incrementalCube(stream: DataFrame, keys: Seq[String]): DataFrame =
    stream.groupBy(keys.map(col): _*)
      .agg(
        count(lit(1)).as("cnt"),
        sum(Relational.moneyDec(col("value"))).as("amount_dec"))

  /** Streaming exact dedup (north-star extension): drop records whose key
    * was already seen within the watermark horizon — the in-flight tier of
    * the dedup stack (the batch tier handles anything older). State is
    * bounded by the watermark: keys expire once they can no longer collide.
    */
  def dedupStream(stream: DataFrame, keys: Seq[String],
                  watermark: String = "1 hour"): DataFrame =
    stream.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keys)

  /** Streaming NEAR-duplicate signal (north-star extension) — the in-flight
    * tier of the dedup stack for near-dups, not just exact keys: each
    * record's 60-bit SimHash fingerprint is checked against everything seen
    * within the watermark horizon, and flagged if any prior fingerprint is
    * within `maxHamming` bits.
    *
    * Shape (the scale-safe one — never all-pairs): the fingerprint is split
    * into `bands` slices (LSH banding of the hamming space); by pigeonhole,
    * two fingerprints differing in ≤ bands-1 bits agree on at least one
    * whole slice, so checking only same-slice buckets is EXACT for
    * `maxHamming ≤ bands - 1` — zero misses, and zero false flags because
    * the bucket check verifies true hamming distance over the full stored
    * fingerprints. State shards on the band key (hash-partitioned across
    * executors) and expires on event-time timeout once the watermark passes
    * `stateTtlMs`, like `dropDuplicatesWithinWatermark`'s key state.
    *
    * Emits one flag per (record, band); a record's verdict is the OR of its
    * `bands` flags — a plain batch aggregate, done per micro-batch in the
    * consumer ([[nearDupVerdicts]]) to keep this a single stateful operator.
    * Input must carry an event-time `ts`, a long `idCol`, and the long
    * `fpCol` (e.g. [[graft.llm.TextOps.simHashAgg]]'s `fp_simhash`).
    */
  def simHashNearDupFlags(stream: DataFrame, idCol: String, fpCol: String,
                          maxHamming: Int = 3, bands: Int = 4,
                          watermark: String = "1 hour",
                          stateTtlMs: Long = 3600000L): Dataset[SimHashFlag] = {
    require(maxHamming < bands,
      s"maxHamming=$maxHamming needs > $maxHamming bands for exact banding recall (got $bands)")
    require(60 % bands == 0, s"bands=$bands must divide the 60-bit fingerprint")
    val spark = stream.sparkSession
    import spark.implicits._
    val width = 60 / bands
    val mask = (1L << width) - 1
    val keys = (0 until bands).map { i =>
      lit(i.toLong * (mask + 1)) +
        shiftright(col(fpCol), i * width).bitwiseAND(lit(mask))
    }
    stream
      .withWatermark("ts", watermark)
      .select(explode(array(keys: _*)).as("bandKey"),
        col(idCol).cast("long").as("eventId"), col("ts"), col(fpCol).as("fp"))
      .as[SimHashBandRow]
      .groupByKey(_.bandKey)
      .flatMapGroupsWithState[SimHashBandState, SimHashFlag](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key: Long, it: Iterator[SimHashBandRow], state: GroupState[SimHashBandState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var seen = state.getOption.map(_.fps).getOrElse(Nil)
            // deterministic within-batch order: earlier events register
            // before later ones test against them
            val out = it.toSeq.sortBy(r => (r.ts.getTime, r.eventId)).map { r =>
              val near = seen.exists(s => java.lang.Long.bitCount(s ^ r.fp) <= maxHamming)
              if (!seen.contains(r.fp)) seen = r.fp :: seen
              SimHashFlag(r.eventId, key, near)
            }
            state.update(SimHashBandState(seen))
            state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + stateTtlMs)
            out.iterator
          }
      }
  }

  /** Per-record verdict over [[simHashNearDupFlags]] output: a record is a
    * near-dup if ANY of its band buckets flagged it. A plain batch
    * aggregate — run it inside `foreachBatch` (all of a record's band rows
    * are exploded from one input row, so they land in the same micro-batch)
    * or over the collected sink.
    */
  def nearDupVerdicts(flags: DataFrame): DataFrame =
    flags.groupBy(col("eventId").as("event_id"))
      .agg(max(col("near")).as("is_near_dup"))

  /** Watermarked stream-stream inner join (north-star extension): match
    * each left event with right events of the same key within
    * `[left.ts, left.ts + window]` — e.g. "purchase within an hour of a
    * view". Both sides carry watermarks so join state is bounded and
    * expired rows are evicted.
    */
  def joinWithinWindow(left: DataFrame, right: DataFrame, key: String,
                       window: String = "1 hour",
                       joinType: String = "inner"): DataFrame = {
    val l = left.withWatermark("ts", window)
      .select(col(key), col("event_id").as("l_id"), col("ts").as("l_ts"),
        col("event_type").as("l_type"), col("value").as("l_value"))
    val r = right.withWatermark("ts", window)
      .select(col(key).as(s"r_$key"), col("event_id").as("r_id"), col("ts").as("r_ts"),
        col("event_type").as("r_type"), col("value").as("r_value"))
    // leftOuter is streaming-legal because both sides carry watermarks and
    // the condition time-bounds the right side: an unmatched left row emits
    // its null-padded result once the watermark passes its join window —
    // funnel analyses ("views that never converted") need exactly this
    l.join(r,
      col(key) === col(s"r_$key") &&
        col("r_ts") >= col("l_ts") &&
        col("r_ts") <= col("l_ts") + expr(s"INTERVAL $window"),
      joinType)
      .drop(s"r_$key")
  }

  /** Per-user session windows (north-star extension): events closer than
    * `gap` fuse into one session — the standard sessionization shape for
    * behavior analytics. Works identically on batch and streaming input
    * (streaming requires the watermark, which is why it is declared here).
    */
  def userSessions(stream: DataFrame, gap: String = "30 minutes"): DataFrame =
    stream
      .withWatermark("ts", "1 hour")
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("w"))
      .agg(count(lit(1)).as("n_events"),
        Relational.moneySum(col("value")).as("session_value"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"), col("session_value"))
}
