package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Command line of the JVM side (`perfbench/run.py` fills it in). */
final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      data: String, work: String, expected: String, record: Boolean,
                      cores: Int, setupRounds: Int, warmupSeconds: Double,
                      filesPerSecond: Double)

object Args {
  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def get(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    Args(get("workload"), get("seed").toLong, get("seconds").toDouble,
      get("trace") == "1", get("data"), get("work"), get("expected"),
      get("record") == "1", get("cores").toInt, get("setup-rounds").toInt,
      get("warmup").toDouble, get("rate").toDouble)
  }
}

/** What a workload hands back: raw samples, layer metrics and the
  * correctness tally. `perfbench/run.py` turns samples into the reported
  * percentiles.
  */
final class Result {
  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer[String]()
  val setupRoundsS = mutable.ArrayBuffer[Double]()
  val cycleS = mutable.ArrayBuffer[Double]()
  val itemS = mutable.ArrayBuffer[Double]()
  /** Same samples from the untraced half of a traced run. */
  val untracedS = mutable.ArrayBuffer[Double]()
  val layers = mutable.LinkedHashMap[String, Double]()
  val jobCounts = mutable.LinkedHashMap[String, Double]()
  val fingerprints = mutable.LinkedHashMap[String, String]()

  def fail(msg: String): Unit = { failed += 1; errors += msg; System.err.println(s"[perfbench] FAIL $msg") }
}

/** Build / plan / execute wall of one module, summed over its operations. */
final class Phases { var buildMs = 0.0; var planMs = 0.0; var execMs = 0.0 }

/** Shared machinery of the workloads: the session, the probes and the
  * timed build → plan → execute step every operation goes through.
  */
final class Harness(val args: Args, val spark: SparkSession) {
  val sc = spark.sparkContext
  val clock = new Clock
  val tracer = new Tracer(sc, clock)
  val probe = new SparkProbe(tracer)
  val result = new Result
  val phases = mutable.LinkedHashMap[String, Phases]()
  private var listening = false

  /** Attach the listener and start recording spans (the traced half). */
  def startTracing(): Unit = {
    if (!listening) { sc.addSparkListener(probe); listening = true }
    tracer.on = true
  }

  def drain(): Unit = PerfbenchBus.drain(sc)

  /** Set the attribution properties for jobs this thread launches. */
  def tag(module: String, op: String): Unit = {
    sc.setLocalProperty(Tracer.ModuleProp, module)
    sc.setLocalProperty(Tracer.OpProp, op)
  }

  /** Run one operation as build → plan → execute and return its result and
    * wall seconds. `build` makes the DataFrame (the program's query
    * function), plan forces physical planning, `exec` runs the action.
    */
  def op[T](name: String, module: String)(build: => DataFrame)(exec: DataFrame => T): (T, Double) = {
    tag(module, name)
    val p = phases.getOrElseUpdate(module, new Phases)
    tracer.span(name, "op") {
      val t0 = System.nanoTime()
      val df = tracer.span("build", "build")(build)
      val t1 = System.nanoTime()
      tracer.span("plan", "plan")(df.queryExecution.executedPlan)
      val t2 = System.nanoTime()
      val out = tracer.span("exec", "exec")(exec(df))
      val t3 = System.nanoTime()
      if (tracer.on) {
        p.buildMs += (t1 - t0) / 1e6; p.planMs += (t2 - t1) / 1e6
        p.execMs += (t3 - t2) / 1e6
      }
      (out, (t3 - t0) / 1e9)
    }
  }

  /** Layer metrics common to every workload over the traced window, per
    * cycle (pass or micro-batch), so runs with different cycle counts
    * compare and counts repeat exactly.
    */
  def commonLayers(fromEpochMs: Long, toEpochMs: Long, gcMs: Long, cycles: Int): Unit = {
    drain()
    val l = result.layers
    val wallS = (toEpochMs - fromEpochMs) / 1000.0
    val n = math.max(1, cycles).toDouble
    Seq("shopping", "ops", "llm", "streaming").foreach { m =>
      val p = phases.getOrElse(m, new Phases)
      val t = probe.byModule.getOrElse(m, new Tally)
      l(s"$m.build_s") = p.buildMs / 1000 / n
      l(s"$m.plan_s") = p.planMs / 1000 / n
      l(s"$m.exec_s") = p.execMs / 1000 / n
      l(s"$m.jobs") = t.jobs / n
      l(s"$m.executor_cpu_s") = t.cpuNs / 1e9 / n
    }
    l("engine.schema_jobs") = probe.schemaJobs / n
    l("engine.schema_s") = probe.schemaMs / 1000.0 / n
    l("spark.jobs") = probe.jobs / n
    l("spark.stages") = probe.stages / n
    l("spark.tasks") = probe.tasks / n
    l("spark.checkpoint_jobs") = probe.checkpointJobs / n
    l("spark.executor_run_s") = probe.executorRunMs / 1000.0 / n
    l("spark.executor_cpu_s") = probe.executorCpuNs / 1e9 / n
    l("spark.busy_frac") = probe.executorRunMs / 1000.0 / (wallS * args.cores)
    l("spark.driver_gap_s") = probe.idleMs(fromEpochMs, toEpochMs) / 1000.0 / n
    l("spark.task_wait_s") = probe.schedulerDelayMs / 1000.0 / n
    l("spark.shuffle_read_mb") = probe.shuffleReadBytes / 1e6 / n
    l("spark.shuffle_write_mb") = probe.shuffleWriteBytes / 1e6 / n
    l("spark.spill_mb") = probe.spillBytes / 1e6 / n
    l("spark.gc_s") = gcMs / 1000.0 / n
    l("trace.wall_s") = wallS
    l("trace.cycles") = cycles.toDouble
    // spans after this point (a traced tail) stay out of the self times
    l("trace.window_end_ms") = clock.nowMs
  }

  /** Median of the untraced samples vs the traced ones, as a fraction. */
  def overhead(): Unit = {
    val a = Harness.median(result.untracedS.toSeq)
    val b = Harness.median(result.cycleS.toSeq)
    result.layers("trace.overhead_frac") = if (a > 0) b / a - 1 else 0.0
  }

  /** Compare a fingerprint with the stored one (or record it). */
  def check(key: String, fp: String, expected: Map[String, String]): Unit =
    if (args.record) result.fingerprints(key) = fp
    else expected.get(key) match {
      case Some(e) if e == fp =>
      case Some(e) => result.fail(s"$key: fingerprint $fp, expected $e")
      case None => result.fail(s"$key: no stored fingerprint")
    }
}

object Harness {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else { val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2 }

  /** A value rendered so that float noise below 6 significant digits (the
    * order partial aggregates happen to merge in) does not change it.
    */
  def norm(v: Any): String = v match {
    case null => "null"
    case d: Double => normDouble(d)
    case f: Float => normDouble(f.toDouble)
    case r: Row => r.toSeq.map(norm).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => norm(k) + "->" + norm(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(norm).mkString("[", ",", "]")
    case a: Array[Byte] => java.util.Arrays.toString(a)
    case x => x.toString
  }

  private def normDouble(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else f"$d%.6e"

  /** Row-order-independent fingerprint: `<rows>:<sha256 prefix>`. */
  def fingerprint(rows: Iterator[Row]): String = {
    val lines = rows.map(norm).toArray.sorted
    val md = MessageDigest.getInstance("SHA-256")
    lines.foreach { l => md.update(l.getBytes(StandardCharsets.UTF_8)); md.update(10.toByte) }
    s"${lines.length}:" + md.digest().take(8).map("%02x".format(_)).mkString
  }

  /** `key<TAB>fingerprint` lines of a stored expectation file. */
  def loadExpected(path: String): Map[String, String] = {
    val p = Paths.get(path)
    if (!Files.exists(p)) Map.empty
    else new String(Files.readAllBytes(p), StandardCharsets.UTF_8).split("\n").toSeq
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(k, v) = l.split("\t", 2); k -> v }.toMap
  }

  def writeExpected(path: String, fps: Iterable[(String, String)]): Unit =
    Files.write(Paths.get(path), fps.toSeq.sortBy(_._1).map { case (k, v) => s"$k\t$v" }
      .mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def rssPeakMb: Double = {
    val s = new String(Files.readAllBytes(Paths.get("/proc/self/status")), StandardCharsets.UTF_8)
    s.split("\n").find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(0.0)
  }
}

/** Minimal JSON rendering for the result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def arr(xs: Iterable[Double]): String = xs.map(num).mkString("[", ",", "]")
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
