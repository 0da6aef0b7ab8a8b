package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): times every SparkEntry query on
  * SPARK_GRAFT_SF_DIR and prints one JSON line.
  *
  * - One untimed warmup query first, so session/codegen startup cost doesn't
  *   land on whichever query happens to run first.
  * - Each query is forced through the noop datasource (full computation
  *   including final sorts — `.count()` lets Catalyst elide sort/project).
  * - Failures are NOT swallowed into timings: a failed query reports -1 and
  *   is listed in "errors" so a broken query can never read as a fast pass.
  */
object Bench {
  /** Historical idle-box median of the value_counts canary at sf0.1
    * local[32] (medians of the committed r9+r10 trio series). The
    * denominator of the artifact's canary_ratio field.
    */
  val CanaryRefSec = 0.27

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // Session hygiene (round-6 fix for the end-of-run slowdown cluster):
    // several operators localCheckpoint() intermediate frames to pin a
    // reused diamond (Dedup/Curation/Relational.prefixCounts/...). Those
    // blocks stay registered in the BlockManager until explicitly
    // unpersisted, so across a ~190-query single-JVM gate run they
    // accumulate and squeeze execution memory at the tail. Nothing is
    // shared between queries (fixtures are disk-backed, TtlCache is not on
    // the gate path), so dropping every persistent RDD between queries is
    // safe and restores steady-state memory. Disable only to reproduce the
    // pre-fix behavior (SPARK_GRAFT_HYGIENE=0).
    val hygiene = sys.env.getOrElse("SPARK_GRAFT_HYGIENE", "1") != "0"
    def release(): Unit = if (hygiene) {
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    }

    def run(name: String): Unit =
      try SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      finally {
        release()
        // drop the query's disposable sink/checkpoint dirs NOW: prompt
        // deletion cancels writeback their pages still owe, so hundreds of
        // fsync'd streaming replays don't pile storage-side pressure onto
        // later queries (see TempDirs; the io canary measures exactly this)
        graft.engine.TempDirs.sweep()
      }

    // full untimed warmup pass: primes codegen/JIT and the once-per-JVM
    // fixtures (partitioned layout, curation stages), so the timed pass
    // measures steady-state query cost for every query. Warmup failures are
    // logged (not swallowed): a fixture that failed to prime would otherwise
    // silently rebuild inside its first timed repetition.
    // dev-only subset filter (comma-separated names, same contract as
    // Verify's SPARK_GRAFT_ONLY); unset = the full suite
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)
    // SPARK_GRAFT_BENCH_ORDER=reverse runs the suite back-to-front: if a
    // slowdown cluster tracks run position (not query identity), it is a
    // session-state bug, not a query bug
    val ordered = SparkEntry.queries.keys.toSeq.sorted
    val names = (if (sys.env.get("SPARK_GRAFT_BENCH_ORDER").contains("reverse"))
      ordered.reverse else ordered)
      .filter(n => only.forall(_.contains(n)))
    names.foreach(n => try run(n) catch {
      case e: Throwable =>
        System.err.println(s"[bench] warmup of $n failed: ${e.getMessage}")
    })

    // Drift canary: the box this suite runs on has shown monotonic
    // host-level slowdown over long sessions (SCALE.md: same binary, same
    // query, 4.8 s -> 25 s over ~40 min; fsync/memory/load/tmp ruled out).
    // Re-timing one pinned cheap query every `canaryEvery` timed queries
    // makes every bench artifact carry its own drift-vs-code evidence: a
    // flat canary series means inflated tail numbers are code; a rising
    // series means host drift, and the committed early-session runs stand.
    val canaryName = sys.env.getOrElse("SPARK_GRAFT_CANARY", "value_counts")
    val canaryEvery = sys.env.getOrElse("SPARK_GRAFT_CANARY_EVERY", "20").toInt
    val canarySeries = scala.collection.mutable.ListBuffer[Double]()
    // The compute canary is blind to I/O-side host state: the round-7
    // session-start trio showed the fsync/state-store-bound streaming
    // queries 2-5x inflated in run 1 (decaying to clean by run 3) while
    // value_counts stayed flat throughout. This probe times the streaming
    // tier's actual primitive — small durable writes (16 x 256 KiB files,
    // each force(true)'d, the checkpoint-commit shape) — so a bench whose
    // streaming tail is inflated carries direct evidence of WHICH host
    // resource moved: flat compute + flat io canary = code; flat compute +
    // risen io canary = storage-side host state.
    val ioCanarySeries = scala.collection.mutable.ListBuffer[Double]()
    // Scheduler probe (round-8): the compute+io pair still cannot positively
    // attribute the third observed drift signature — scheduler-side
    // contention (both canaries flat, wall uniformly ~2.8x, dmesg hrtimer
    // warnings; BENCH_local_r7_final2.json). SchedProbe busy-spins fixed
    // userland work on the driver thread and reads the thread's
    // /proc schedstat run-delay around it, so the artifact alone now
    // distinguishes all three signatures: risen io canary = storage wave;
    // risen spin wall + risen sched delay = runqueue contention; risen spin
    // wall + flat delay = cpu frequency throttle; everything flat = code.
    val spinSeries = scala.collection.mutable.ListBuffer[Double]()
    val schedDelaySeries = scala.collection.mutable.ListBuffer[Double]()
    graft.engine.SchedProbe.warmup()
    def ioCanary(): Unit = {
      import java.nio.file.{Files => NF, StandardOpenOption => O}
      try {
        val dir = NF.createTempDirectory("graft-iocanary")
        val buf = java.nio.ByteBuffer.allocate(256 * 1024)
        val t0 = System.nanoTime()
        (0 until 16).foreach { i =>
          buf.rewind()
          val ch = java.nio.channels.FileChannel.open(
            dir.resolve(s"f$i"), O.CREATE, O.WRITE)
          try { ch.write(buf); ch.force(true) } finally ch.close()
        }
        ioCanarySeries += (System.nanoTime() - t0) / 1e9
        dir.toFile.listFiles.foreach(_.delete()); dir.toFile.delete()
      } catch { case _: Throwable => ioCanarySeries += -1.0 }
    }
    def canary(): Unit = {
      if (SparkEntry.queries.contains(canaryName)) {
        val t0 = System.nanoTime()
        try { run(canaryName); canarySeries += (System.nanoTime() - t0) / 1e9 }
        catch { case _: Throwable => canarySeries += -1.0 }
      }
      ioCanary()
      val (spinWall, schedDelay) = graft.engine.SchedProbe.sample()
      spinSeries += spinWall
      schedDelaySeries += schedDelay
    }

    // Streaming stall attribution (round-9): when a streaming query breaches
    // 2x its committed budget, the artifact must carry the per-batch
    // StreamingQueryProgress durationMs breakdown — so a one-off stall (like
    // round 8's stream_range_join 23.9 s) is adjudicated by evidence
    // (WHICH batch, WHICH phase: addBatch / stateCommit / walCommit), not by
    // elimination against the probe series. The listener records every
    // micro-batch of every stream started while a timed query runs; the
    // compact per-batch line keeps the artifact bounded.
    val progressBuf = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    // set while a timed query runs iff it actually started a stream — the
    // stall sleep/drain below is pointless (and, at a larger-than-budgeted
    // sf, a ~200 ms-per-query tax) for batch queries that can never
    // produce StreamingQueryProgress
    val streamStarted = new java.util.concurrent.atomic.AtomicBoolean(false)
    spark.streams.addListener(new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit =
        streamStarted.set(true)
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = {
        val p = e.progress
        val dur = p.durationMs.entrySet().toArray.map {
          case kv: java.util.Map.Entry[_, _] => s""""${kv.getKey}":${kv.getValue}"""
        }.mkString("{", ",", "}")
        val state = Option(p.stateOperators).map(_.map(so =>
          s"""{"op":"${so.operatorName}","rowsTotal":${so.numRowsTotal},"rowsUpdated":${so.numRowsUpdated},"commitMs":${so.allUpdatesTimeMs + so.commitTimeMs}}""")
          .mkString("[", ",", "]")).getOrElse("[]")
        progressBuf.add(
          s"""{"batchId":${p.batchId},"inputRows":${p.numInputRows},"durationMs":$dur,"state":$state}""")
      }
    })
    def drainProgress(): Seq[String] = {
      val out = scala.collection.mutable.ListBuffer[String]()
      var x = progressBuf.poll()
      while (x != null) { out += x; x = progressBuf.poll() }
      out.toSeq
    }
    // committed budgets (PerfBudgetSpec's snapshot); a query without a row
    // (or a dev tree without the file) falls back to a 10 s stall threshold
    val budgets: Map[String, Double] = {
      val f = java.nio.file.Paths.get("src/test/resources/time_budgets.tsv")
      if (java.nio.file.Files.exists(f))
        scala.io.Source.fromFile(f.toFile).getLines().filter(_.nonEmpty).map { l =>
          val Array(n, s) = l.split("\t"); n -> s.toDouble
        }.toMap
      else Map.empty
    }
    val stallProgress = scala.collection.mutable.LinkedHashMap[String, Seq[String]]()

    val errors = scala.collection.mutable.ListBuffer[String]()
    canary()
    val firstPass = names.zipWithIndex.map { case (name, i) =>
      drainProgress()
      streamStarted.set(false)
      val t0 = System.nanoTime()
      val ok = try { run(name); true } catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          errors += name
          false
      }
      val elapsed = (System.nanoTime() - t0) / 1e9
      val stallAt = budgets.get(name).map(b => math.max(2.0 * b, 5.0)).getOrElse(10.0)
      if (elapsed > stallAt && streamStarted.get()) {
        // listener delivery is async; give the bus a beat to flush the tail
        Thread.sleep(200)
        val prog = drainProgress()
        if (prog.nonEmpty) stallProgress(name) = prog
      }
      if ((i + 1) % canaryEvery == 0) canary()
      name -> (if (ok) elapsed else -1.0)
    }
    canary()
    // Outlier re-run (round-13, VERDICT r12 #2 bench-noise hardening): a
    // mid-run host stall can inflate an alphabetically contiguous block
    // 2-5x (BENCH_r12: near_dup_clusters 16.4 s at 32c vs 3.5 s at 8c
    // minutes later) and the every-20-queries canary cannot see a stall
    // localized to one window. Every timed query whose first measurement
    // breached its stall threshold (2x committed budget, floor 5 s — the
    // same rule as the stall listener above) is re-timed ONCE after the
    // loop, worst first, capped at 8 so a genuinely slow tree cannot
    // double the run. The artifact keeps BOTH measurements additively
    // ("retimed": {name: [first, retry]}) and the headline per-query value
    // takes the minimum: the noop-sink computation is deterministic work,
    // so min is the honest host-noise-resistant estimate, and a real
    // regression reproduces in the retry. No result reuse — the retry
    // recomputes from the parquet inputs like any other run.
    val retimed = scala.collection.mutable.LinkedHashMap[String, (Double, Double)]()
    val results = {
      val outliers = firstPass.filter { case (n, v) =>
        v > budgets.get(n).map(b => math.max(2.0 * b, 5.0)).getOrElse(10.0)
      }.sortBy(-_._2).take(8)
      if (outliers.isEmpty) firstPass else {
        val redone = outliers.map { case (n, first) =>
          val t0 = System.nanoTime()
          val ok = try { run(n); true } catch {
            case e: Throwable =>
              System.err.println(s"[bench] retry of $n failed: ${e.getMessage}")
              errors += n
              false
          }
          val retry = (System.nanoTime() - t0) / 1e9
          if (ok) retimed(n) = (first, retry)
          n -> (if (ok) math.min(first, retry) else first)
        }.toMap
        firstPass.map { case (n, v) => n -> redone.getOrElse(n, v) }
      }
    }
    // Stage attribution for the six-stage composition gate (round-11
    // verdict #4): one extra forced-boundary replay AFTER the timed loop
    // (so it can't perturb the timed numbers), emitted as 5 scalars so a
    // regression in the gate's total is attributable to a stage.
    val pipelineStages: Seq[(String, Double)] =
      if (names.contains("pipeline_end_to_end") &&
          sys.env.getOrElse("SPARK_GRAFT_STAGE_ATTR", "1") != "0")
        try graft.llm.CorpusCatalog.pipelineStageTimings(spark, sfDir)
        catch { case e: Throwable =>
          System.err.println(s"[bench] stage attribution failed: ${e.getMessage}")
          Seq.empty
        }
        finally { release(); graft.engine.TempDirs.sweep() }
      else Seq.empty
    val qs = results.map { case (k, v) => s"\"$k\":$v" }.mkString("{", ",", "}")
    val errJson = errors.map("\"" + _ + "\"").mkString("[", ",", "]")
    val canaryJson = canarySeries.mkString("[", ",", "]")
    val ioCanaryJson = ioCanarySeries.mkString("[", ",", "]")
    // Locale.ROOT: f"" uses the JVM default locale, whose decimal separator
    // can be ',' — which would make the JSON line unparseable
    def fmt4(v: Double) = String.format(java.util.Locale.ROOT, "%.4f", Double.box(v))
    val spinJson = spinSeries.map(fmt4).mkString("[", ",", "]")
    val schedDelayJson = schedDelaySeries.map(fmt4).mkString("[", ",", "]")
    val ok = results.collect { case (_, v) if v >= 0 => v }
    val total = ok.sum
    val maxQ = if (ok.nonEmpty) ok.max else -1.0
    val stallJson = stallProgress.map { case (k, v) =>
      s""""$k":${v.mkString("[", ",", "]")}"""
    }.mkString("{", ",", "}")
    // Host-noise self-description (round-10 verdict #7): the committed
    // per-round driver series is only readable as a TREND if each artifact
    // states how noisy its host was. canary_ratio = this run's canary
    // median over the repo's historical idle-box median (r9+r10 trio
    // medians, 0.23-0.31; update CanaryRefSec if the canary query or the
    // box changes); noisy_host flags a >25% deviation — per-query times in
    // a flagged artifact adjudicate against canary_ratio, not against the
    // previous round's absolute numbers.
    val canaryOk = canarySeries.filter(_ > 0).sorted
    val canaryMedian =
      if (canaryOk.isEmpty) -1.0
      else canaryOk(canaryOk.size / 2)
    val canaryRatio = if (canaryMedian > 0) canaryMedian / CanaryRefSec else -1.0
    // an unmeasurable host (no canary samples) is UNKNOWN, not quiet:
    // emitting false here would let a box we couldn't probe self-describe
    // as clean, inverting the field's intent
    val noisyHostJson =
      if (canaryRatio <= 0) "null"
      else (canaryRatio > 1.25 || canaryRatio < 0.75).toString
    // stdout carries only the per-query summary + host-noise scalars: the
    // probe SERIES and per-batch stall progress blew past the driver's
    // capture window two rounds running ("parsed": null in BENCH_r10/r11),
    // so they go to a side file the summary points at.
    val diagPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_DIAG", "bench_diag.json")
    val diag =
      s"""{"canary":"$canaryName","canary_series":$canaryJson,"io_canary_series":$ioCanaryJson,"spin_series":$spinJson,"sched_delay_series":$schedDelayJson,"stall_progress":$stallJson,"sf":"$sfDir"}"""
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(diagPath),
      diag.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Throwable =>
      System.err.println(s"[bench] diag write failed: ${e.getMessage}")
    }
    val stagesJson = pipelineStages
      .map { case (k, v) => s""""$k":${fmt4(v)}""" }.mkString("{", ",", "}")
    val retimedJson = retimed.map { case (n, (a, b)) =>
      s""""$n":[${fmt4(a)},${fmt4(b)}]"""
    }.mkString("{", ",", "}")
    println(s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size},"max_query_sec":$maxQ,"queries":$qs,"errors":$errJson,"canary":"$canaryName","canary_median":${fmt4(canaryMedian)},"canary_ref":$CanaryRefSec,"canary_ratio":${fmt4(canaryRatio)},"noisy_host":$noisyHostJson,"stall_count":${stallProgress.size},"retimed":$retimedJson,"pipeline_stages":$stagesJson,"diag_file":"$diagPath","sf":"$sfDir"}""")
    spark.stop()
  }
}
