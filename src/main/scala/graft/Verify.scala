package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = SparkEntry.session()
    new java.io.File(outDir).mkdirs()
    // per-query timeout so one pathological plan cannot eat the whole gate:
    // each query runs in its own (daemon) thread under a cancellable job
    // group; on timeout its jobs are cancelled and the gate moves on,
    // recording the miss like any other per-query failure
    val timeoutMs = sys.env.getOrElse("SPARK_GRAFT_QUERY_TIMEOUT_MS", "600000").toLong
    val queries = SparkEntry.queries
    SparkEntry.selected.foreach { name =>
      System.err.println(s"[verify] running $name")
      val t = new Thread(() => {
        spark.sparkContext.setJobGroup(s"verify-$name", name, interruptOnCancel = true)
        try queries(name)(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      }, s"verify-$name")
      t.setDaemon(true)
      t.start()
      t.join(timeoutMs)
      if (t.isAlive) {
        System.err.println(s"[verify] $name TIMED OUT after $timeoutMs ms — cancelling its jobs")
        // ...AndFutureJobs: a thread stalled in driver-side code (between
        // jobs) would otherwise keep launching new, uncancelled jobs and
        // could later write output for a query recorded as timed out
        spark.sparkContext.cancelJobGroupAndFutureJobs(s"verify-$name")
        t.join(30000)
      }
      SparkEntry.release(spark)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
