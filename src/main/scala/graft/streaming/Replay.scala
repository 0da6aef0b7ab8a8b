package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The streaming tier's one sink-and-await path. Every replay query and
  * consumer states its sink here instead of wiring a stream writer itself,
  * and three sink shapes cover all of them:
  *  - [[appendParquet]]: the checkpointed parquet append of the ingest
  *    consumer ([[toParquet]] replays into it and reads the sink back);
  *  - [[toMemory]]: an in-memory sink for results of group cardinality;
  *  - [[eachBatch]]: a checkpointed `foreachBatch` for per-batch merges.
  * Replays use `Trigger.AvailableNow` and finish through [[await]].
  */
object Replay {

  /** How long [[await]] lets a replay run before failing it. */
  val TimeoutMs: Long = 300000L

  def appendParquet(df: DataFrame, sinkDir: String, checkpointDir: String,
                    trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    df.writeStream.format("parquet")
      .option("path", sinkDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .trigger(trigger)
      .start()

  /** Replay `df` into the parquet sink at `$base/sink` (checkpoint at
    * `$base/ckpt`) and read the completed sink back under `df`'s schema,
    * which is what was written, so the read-back infers nothing.
    */
  def toParquet(df: DataFrame, base: String): DataFrame = {
    await(appendParquet(df, s"$base/sink", s"$base/ckpt"))
    df.sparkSession.read.schema(df.schema).parquet(s"$base/sink")
  }

  /** Replay `df` into a uniquely named memory sink and return its rows. The
    * sink registers a session temp view under the query name; it is
    * dropped once the result frame is built (the frame keeps the analyzed
    * sink plan), since a view left behind pins the sink's rows for the
    * rest of the session.
    */
  def toMemory(df: DataFrame, outputMode: String): DataFrame = {
    val name = "graft_replay_" + java.util.UUID.randomUUID().toString.replace("-", "")
    await(df.writeStream.format("memory").queryName(name)
      .outputMode(outputMode)
      .trigger(Trigger.AvailableNow())
      .start())
    val s = df.sparkSession
    try s.table(name) finally s.catalog.dropTempView(name)
  }

  def eachBatch(df: DataFrame, checkpointDir: String,
                trigger: Trigger = Trigger.AvailableNow())(
                f: (DataFrame, Long) => Unit): StreamingQuery =
    df.writeStream
      .foreachBatch(f)
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()

  /** Wait for `q` to finish and print one line per micro-batch to stderr,
    * so a slow replay is attributable from the log (addBatch is the
    * transform + sink write; the rest is fixed per-batch overhead). A
    * timeout stops the query and throws: a partial sink must never reach
    * the verifier as if complete. A failed query's exception propagates.
    */
  def await(q: StreamingQuery, timeoutMs: Long = TimeoutMs): Unit = {
    val finished =
      try q.awaitTermination(timeoutMs)
      finally q.recentProgress.foreach { p =>
        System.err.println(s"[replay] batch ${p.batchId}: rows=${p.numInputRows} " +
          s"durationMs=${p.durationMs}")
      }
    if (!finished) {
      q.stop()
      throw new IllegalStateException(s"stream replay timed out after $timeoutMs ms")
    }
  }
}
