package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed interval of the traced run. Times are milliseconds since the
  * run's clock origin; `parent` is 0 for a root span.
  */
final case class Span(id: Long, parent: Long, name: String, layer: String,
                      startMs: Double, endMs: Double)

/** Wall clock shared by the tracer and the listener: nanoTime offsets for
  * driver-side spans, epoch milliseconds for Spark's event timestamps.
  */
final class Clock {
  val originNs: Long = System.nanoTime()
  val originEpochMs: Long = System.currentTimeMillis()
  def nowMs: Double = (System.nanoTime() - originNs) / 1e6
  def epochToMs(epochMs: Long): Double = (epochMs - originEpochMs).toDouble
}

/** In-memory span recorder. When off, `span` only runs its body. Each span
  * publishes its id as a Spark local property so the listener can hang the
  * jobs it launches under it.
  */
final class Tracer(sc: SparkContext, val clock: Clock) {
  @volatile var on: Boolean = false
  private val ids = new AtomicLong(1)
  private val current = new ThreadLocal[java.lang.Long] {
    override def initialValue(): java.lang.Long = 0L
  }
  val spans = new ConcurrentLinkedQueue[Span]()

  def newId(): Long = ids.getAndIncrement()

  def span[T](name: String, layer: String)(body: => T): T =
    if (!on) body
    else {
      val id = newId()
      val parent: Long = current.get
      current.set(id)
      sc.setLocalProperty(Tracer.SpanProp, id.toString)
      val start = clock.nowMs
      try body
      finally {
        spans.add(Span(id, parent, name, layer, start, clock.nowMs))
        current.set(parent)
        sc.setLocalProperty(Tracer.SpanProp, if (parent == 0) null else parent.toString)
      }
    }
}

object Tracer {
  val SpanProp = "perfbench.span"
  val ModuleProp = "perfbench.module"
  val OpProp = "perfbench.op"
}

/** Jobs and executor CPU attributed to one module. */
final class Tally {
  var jobs = 0L
  var cpuNs = 0L
}

/** The benchmark's own SparkListener: counts jobs, stages and tasks, sums
  * the task metrics, classifies schema-inference and checkpoint jobs by
  * call site, attributes jobs and executor CPU to the module and operation
  * named in the launching thread's local properties, and (when the tracer
  * is on) records job and stage spans.
  */
final class SparkProbe(tracer: Tracer) extends SparkListener {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var checkpointJobs = 0L
  var schemaJobs = 0L
  var schemaMs = 0L
  var executorRunMs = 0L
  var executorCpuNs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var schedulerDelayMs = 0L
  val byModule = mutable.Map[String, Tally]()
  val jobsByOp = mutable.Map[String, Long]()
  /** Closed job intervals (epoch ms), for the no-job-running gap. */
  val jobIntervals = mutable.ArrayBuffer[(Long, Long)]()

  private case class JobInfo(module: String, span: Long, spanId: Long,
                             start: Long, schema: Boolean, callSite: String)
  private val liveJobs = mutable.Map[Int, JobInfo]()
  private val stageJob = mutable.Map[Int, Int]()

  // a parquet read's schema inference (and a parallel file listing) is one
  // single-stage job over `parallelize(files).mapPartitions(...)`; query
  // jobs always carry SQL-scoped RDDs. The call site is the reading line
  // (Tables, a sink re-read), or the stream's start inside a micro-batch.
  private def isSchemaJob(e: SparkListenerJobStart): Boolean =
    e.stageInfos.size == 1 && {
      val rdds = e.stageInfos.head.rddInfos
      rdds.size == 2 && rdds.exists(_.name == "ParallelCollectionRDD") &&
        rdds.forall(r => r.scope.exists(s => s.name == "parallelize" || s.name == "mapPartitions"))
    }

  private def isCheckpointJob(e: SparkListenerJobStart): Boolean =
    e.stageInfos.exists(s => s.name.startsWith("localCheckpoint at ") ||
      s.name.startsWith("checkpoint at "))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val module = prop(Tracer.ModuleProp).getOrElse("other")
    jobs += 1
    byModule.getOrElseUpdate(module, new Tally).jobs += 1
    prop(Tracer.OpProp).foreach(op => jobsByOp(op) = jobsByOp.getOrElse(op, 0L) + 1)
    if (isCheckpointJob(e)) checkpointJobs += 1
    val schema = isSchemaJob(e)
    if (schema) schemaJobs += 1
    val span = prop(Tracer.SpanProp).map(_.toLong).getOrElse(0L)
    liveJobs(e.jobId) = JobInfo(module, span, if (tracer.on) tracer.newId() else 0L,
      e.time, schema, e.stageInfos.lastOption.map(_.name).getOrElse(""))
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    liveJobs.remove(e.jobId).foreach { j =>
      jobIntervals += ((j.start, e.time))
      if (j.schema) schemaMs += e.time - j.start
      if (j.spanId != 0) tracer.spans.add(Span(j.spanId, j.span, s"job ${e.jobId}: ${j.callSite}",
        "job", tracer.clock.epochToMs(j.start), tracer.clock.epochToMs(e.time)))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    stages += 1
    val m = si.taskMetrics
    if (m != null) {
      executorRunMs += m.executorRunTime
      executorCpuNs += m.executorCpuTime
      shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
    val job = stageJob.get(si.stageId).flatMap(liveJobs.get)
    job.foreach { j =>
      if (m != null) byModule.getOrElseUpdate(j.module, new Tally).cpuNs += m.executorCpuTime
      for { s <- si.submissionTime; c <- si.completionTime if j.spanId != 0 }
        tracer.spans.add(Span(tracer.newId(), j.spanId, s"stage ${si.stageId}", "stage",
          tracer.clock.epochToMs(s), tracer.clock.epochToMs(c)))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val info = e.taskInfo
    val m = e.taskMetrics
    if (info != null && m != null) {
      val work = m.executorRunTime + m.executorDeserializeTime +
        m.resultSerializationTime + info.gettingResultTime
      schedulerDelayMs += math.max(0L, info.duration - work)
    }
  }

  /** Wall milliseconds of [fromMs, toMs] (epoch) with no job running. */
  def idleMs(fromMs: Long, toMs: Long): Long = synchronized {
    val iv = jobIntervals.map { case (s, e) => (math.max(s, fromMs), math.min(e, toMs)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var busy = 0L
    var curS = -1L
    var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) busy += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) busy += curE - curS
    (toMs - fromMs) - busy
  }

}

/** JVM-wide collector time (local mode runs executors in the driver JVM). */
object Gc {
  def totalMs: Long = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(b => math.max(0L, b.getCollectionTime)).sum
}
