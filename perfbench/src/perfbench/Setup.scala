package perfbench

import org.apache.spark.sql.SparkSession

/** Set-up rounds: the workload's program set-up runs `setupRounds` times in
  * fresh sessions on the one SparkContext, and each round's wall time is a
  * `setup_s` sample. Round 0 also carries the SparkSession start.
  */
object Setup {
  def rounds[S](h: Harness, module: String)(setup: SparkSession => S): S = {
    var last: Option[S] = None
    (0 until math.max(1, h.args.setupRounds)).foreach { r =>
      val t0 = System.nanoTime()
      val spark = if (r == 0) h.spark else h.spark.newSession()
      h.tag(module, "setup")
      last = Some(setup(spark))
      val s = (System.nanoTime() - t0) / 1e9
      h.result.setupRoundsS += (if (r == 0) s + Main.sessionStartS else s)
    }
    last.get
  }

  /** JVM start until timing begins: session, set-up rounds and warm-up. */
  def markTimingStart(h: Harness): Unit =
    h.result.layers("setup.jvm_to_timing_s") =
      java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
}
