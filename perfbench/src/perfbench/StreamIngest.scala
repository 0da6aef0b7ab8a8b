package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.time.Instant

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}

import graft.streaming.{StreamingCatalog, Streams}

/** `stream_ingest`: an open-loop generator thread lands pre-written event
  * slices into the consumer's input directory on a fixed schedule, and
  * `Streams.startConsumerWithViewRefresh` enriches, appends and refreshes
  * `streamViewState` over the whole sink after every micro-batch.
  * Freshness runs from a file's due time to the end of the micro-batch that
  * made it visible in the sink and the view.
  */
object StreamIngest {
  val Trigger1s: Trigger = Trigger.ProcessingTime("1 second")
  val DrainTimeoutMs = 60000L

  private final case class Progress(startEpochMs: Long, rows: Long,
                                    durations: Map[String, Long]) {
    def endEpochMs: Long = startEpochMs + durations.getOrElse("triggerExecution", 0L)
  }

  /** One consumer: its directories, its progress log and its last view. */
  private final class Consumer(h: Harness, val spark: SparkSession, dir: String) {
    val in = s"$dir/in"
    val sink = s"$dir/sink"
    val progress = new java.util.concurrent.CopyOnWriteArrayList[Progress]()
    val refreshSeconds = new java.util.concurrent.CopyOnWriteArrayList[Double]()
    @volatile var committedRows = 0L
    @volatile var lastView: Seq[Row] = Nil
    Files.createDirectories(Paths.get(in))

    private val listener = new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        if (p.numInputRows > 0) {
          progress.add(Progress(Instant.parse(p.timestamp).toEpochMilli,
            p.numInputRows, p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
          committedRows += p.numInputRows
        }
      }
    }
    spark.streams.addListener(listener)

    private def refresh(full: DataFrame): Unit =
      h.tracer.span("batch", "cycle") {
        val (rows, s) = h.op("view_refresh", "streaming")(
          StreamingCatalog.streamViewState(full))(_.collect().toSeq)
        refreshSeconds.add(s)
        lastView = rows
        h.tag("streaming", "batch")
      }

    h.tag("streaming", "batch")
    val query: StreamingQuery = Streams.startConsumerWithViewRefresh(
      spark, in, sink, s"$dir/ckpt", refresh, Trigger1s)

    def land(staged: String): Unit = {
      val src = Paths.get(staged)
      Files.move(src, Paths.get(in).resolve(src.getFileName), StandardCopyOption.ATOMIC_MOVE)
    }

    def awaitRows(rows: Long, timeoutMs: Long): Boolean = {
      val end = System.currentTimeMillis() + timeoutMs
      while (committedRows < rows && System.currentTimeMillis() < end && query.isActive)
        Thread.sleep(20)
      committedRows >= rows
    }

    def stop(): Unit = { query.stop(); spark.streams.removeListener(listener) }
  }

  def run(h: Harness): Unit = {
    val a = h.args
    val FilesPerSecond = a.filesPerSecond
    val staging = s"${a.work}/staging"
    val rowsPerFile = Files.readString(Paths.get(s"$staging/ROWS")).trim.toLong
    val setupFiles = Files.list(Paths.get(s"$staging/setup")).iterator().asScala
      .map(_.toString).toSeq.sorted
    val files = Files.list(Paths.get(s"$staging/run")).iterator().asScala
      .map(_.toString).toSeq.sorted

    var round = 0
    val consumer = Setup.rounds(h, "streaming") { spark =>
      val c = new Consumer(h, spark, s"${a.work}/stream$round")
      c.land(setupFiles(round % setupFiles.size))
      if (!c.awaitRows(rowsPerFile, DrainTimeoutMs)) sys.error("set-up batch never committed")
      if (round < a.setupRounds - 1) c.stop()
      round += 1
      c
    }
    val baseRows = consumer.committedRows

    // schedule: warm-up files, then the timed files; due times never slip
    val warmN = math.round(a.warmupSeconds * FilesPerSecond).toInt
    val timedN = math.max(1, math.round(a.seconds * FilesPerSecond).toInt)
    require(warmN + timedN <= files.size, s"need ${warmN + timedN} staged files, have ${files.size}")
    val due = new Array[Long](warmN + timedN)
    var lateMaxMs = 0L
    var backlogMax = 0L
    @volatile var landed = 0
    val startMs = System.currentTimeMillis() + 200
    val gen = new Thread(() => {
      (0 until warmN + timedN).foreach { i =>
        due(i) = startMs + math.round(i * 1000 / FilesPerSecond)
        val wait = due(i) - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        consumer.land(files(i))
        landed = i + 1
        lateMaxMs = math.max(lateMaxMs, System.currentTimeMillis() - due(i))
        val committedFiles = (consumer.committedRows - baseRows) / rowsPerFile
        backlogMax = math.max(backlogMax, landed - committedFiles)
      }
    }, "perfbench-generator")

    val timedFrom = startMs + math.round(warmN * 1000 / FilesPerSecond)
    Setup.markTimingStart(h)
    @volatile var gc0 = Gc.totalMs
    if (a.trace) {
      // the listener and spans start at the midpoint of the timed files,
      // so the first half is the untraced reference for the overhead
      val mid = timedFrom + math.round(a.seconds * 500)
      new Thread(() => {
        val w = mid - System.currentTimeMillis(); if (w > 0) Thread.sleep(w)
        gc0 = Gc.totalMs
        h.startTracing()
      }, "perfbench-trace-switch").start()
    }
    gen.start()
    gen.join()
    val allRows = baseRows + landed.toLong * rowsPerFile
    val drained = consumer.awaitRows(allRows, DrainTimeoutMs)
    val to = System.currentTimeMillis()
    consumer.stop()

    // freshness: first committed batch whose cumulative rows cover file i
    val prog = consumer.progress.asScala.toSeq
    val cum = prog.scanLeft(0L)(_ + _.rows).tail
    val traceFrom = if (a.trace) timedFrom + math.round(a.seconds * 500) else timedFrom
    (warmN until warmN + timedN).foreach { i =>
      val need = baseRows + (i + 1).toLong * rowsPerFile
      val k = cum.indexWhere(_ >= need)
      h.result.attempted += 1
      if (k < 0) h.result.fail(s"file $i never became visible")
      else {
        val fresh = (prog(k).endEpochMs - due(i)) / 1000.0
        if (!a.trace || due(i) >= traceFrom) h.result.itemS += fresh
        else h.result.untracedS += fresh
      }
    }
    val timedBatches = prog.filter(_.startEpochMs >= traceFrom)
    timedBatches.foreach(p => h.result.cycleS += p.durations.getOrElse("triggerExecution", 0L) / 1000.0)

    // correctness, outside the timed region
    val spark = consumer.spark
    val sinkRows = spark.read.parquet(consumer.sink).count()
    val batchView = StreamingCatalog.streamViewState(
      Streams.enriched(spark.read.schema(Streams.eventSchema).parquet(consumer.in))).collect()
    val viewOk = Harness.fingerprint(consumer.lastView.iterator) == Harness.fingerprint(batchView.iterator)
    if (!drained || sinkRows != allRows || !viewOk) {
      h.result.fail(s"final state: drained=$drained sink=$sinkRows expected=$allRows view_equal=$viewOk")
      h.result.failed = h.result.attempted
    }
    if (a.trace) {
      if (h.result.cycleS.isEmpty) h.result.cycleS += 0.0
      // the overhead compares freshness, the workload's latency
      val traced = h.result.itemS.toSeq
      h.commonLayers(traceFrom, to, Gc.totalMs - gc0, timedBatches.size)
      val l = h.result.layers
      def med(k: String) = Harness.median(timedBatches.map(_.durations.getOrElse(k, 0L) / 1000.0))
      val refresh = consumer.refreshSeconds.asScala.toSeq.takeRight(timedBatches.size)
      l("stream.batches") = timedBatches.size.toDouble
      l("stream.batch_p50_s") = med("triggerExecution")
      l("stream.latest_offset_s") = med("latestOffset")
      l("stream.get_batch_s") = med("getBatch")
      l("stream.query_planning_s") = med("queryPlanning")
      l("stream.add_batch_s") = med("addBatch")
      l("stream.view_refresh_s") = Harness.median(refresh)
      l("stream.sink_append_s") = math.max(0.0, med("addBatch") - Harness.median(refresh))
      l("stream.wal_commit_s") = med("walCommit")
      l("stream.commit_offsets_s") = med("commitOffsets")
      l("stream.rows_per_batch") = Harness.median(timedBatches.map(_.rows.toDouble))
      l("stream.backlog_files_max") = backlogMax.toDouble
      l("gen.late_max_s") = lateMaxMs / 1000.0
      val a0 = Harness.median(h.result.untracedS.toSeq)
      l("trace.overhead_frac") = if (a0 > 0) Harness.median(traced) / a0 - 1 else 0.0
      val perBatch = h.probe.jobsByOp.getOrElse("view_refresh", 0L).toDouble / math.max(1, refresh.size)
      h.result.jobCounts("batch.view_refresh") = perBatch
      h.result.jobCounts("batch") = h.probe.jobs.toDouble / math.max(1, timedBatches.size)
    } else {
      h.result.layers("stream.backlog_files_max") = backlogMax.toDouble
    }
  }
}
