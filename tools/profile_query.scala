// Per-query wall breakdown: planning vs execution, plus per-stage wall/task
// metrics from a SparkListener. Dev tooling (like dump_plans.scala):
//   /opt/spark/bin/spark-shell --master 'local[32]' \
//     --conf spark.driver.extraClassPath=target/scala-2.13/classes \
//     --conf spark.sql.shuffle.partitions=32 -i tools/profile_query.scala
// Env: PROFILE_QUERIES=q1,q2 (default: a representative set), PROFILE_SF dir,
//      PROFILE_REPS (default 3; rep 0 is warmup and excluded from the medians).
import graft._
import org.apache.spark.scheduler._
import scala.collection.mutable

val sf = sys.env.getOrElse("PROFILE_SF", "/root/testdata/sf0.1")
val reps = sys.env.getOrElse("PROFILE_REPS", "3").toInt
val names: Seq[String] = sys.env.get("PROFILE_QUERIES") match {
  case Some(s) => s.split(",").toSeq
  case None => Seq("spearman_price_balance", "price_equidepth", "value_counts")
}

spark.sparkContext.setLogLevel("WARN")
// mirror the session shape of SparkEntry.session (master and partitions come
// from the command line above)
spark.conf.set("spark.sql.session.timeZone", "UTC")

case class StageRow(id: Int, name: String, tasks: Int, wallMs: Long, runMs: Long)
val stages = mutable.ListBuffer[StageRow]()
val jobs = mutable.ListBuffer[(Int, Long)]()
val jobStart = mutable.Map[Int, Long]()
spark.sparkContext.addSparkListener(new SparkListener {
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val wall = (for { s <- si.submissionTime; c <- si.completionTime } yield c - s).getOrElse(-1L)
    stages += StageRow(si.stageId, si.name.takeWhile(_ != '\n').take(70),
      si.numTasks, wall, si.taskMetrics.executorRunTime)
  }
  override def onJobStart(e: SparkListenerJobStart): Unit = jobStart(e.jobId) = e.time
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs += ((e.jobId, e.time - jobStart.getOrElse(e.jobId, e.time)))
})

def prof(name: String): Unit = {
  val fn = SparkEntry.queries(name)
  val times = (0 until reps).map { rep =>
    SparkEntry.release(spark)
    stages.clear(); jobs.clear()
    val t0 = System.nanoTime()
    val df = fn(spark, sf)
    val t1 = System.nanoTime()   // build (DataFrame construction incl. any fits)
    df.queryExecution.executedPlan // force analysis+optimization+physical planning
    val t2 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    val t3 = System.nanoTime()
    if (rep == reps - 1) {
      val top = stages.sortBy(-_.wallMs).take(12)
      println(f"[stages] $name n=${stages.size} jobs=${jobs.size} jobWallSum=${jobs.map(_._2).sum}ms")
      top.foreach(s => println(f"  stage ${s.id}%4d wall=${s.wallMs}%6dms run=${s.runMs}%7dms tasks=${s.tasks}%4d ${s.name}"))
    }
    (t1 - t0, t2 - t1, t3 - t2)
  }
  // rep 0 = warmup, unless it is the only rep (PROFILE_REPS=1 would
  // otherwise index into an empty sequence — ADVICE r12)
  val t = if (times.size > 1) times.drop(1) else times
  def med(xs: Seq[Long]) = { val s = xs.sorted; s(s.size / 2) / 1e9 }
  println(f"[prof] $name build=${med(t.map(_._1))}%.3f plan=${med(t.map(_._2))}%.3f exec=${med(t.map(_._3))}%.3f (reps=${t.size})")
}

names.foreach { n =>
  try prof(n) catch { case e: Throwable => println(s"[prof] $n FAILED: ${e.getMessage}") }
}
System.exit(0)
