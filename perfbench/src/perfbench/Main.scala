package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** JVM entry point of the benchmark: runs one workload and writes its raw
  * samples, layer metrics and correctness tally to `<work>/result.json`.
  * `perfbench/run.py` builds the classpath, stages the inputs and turns the
  * samples into the reported metrics.
  */
object Main {
  @volatile var sessionStartS = 0.0

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .master(s"local[${a.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    sessionStartS = (System.nanoTime() - t0) / 1e9

    val h = new Harness(a, spark)
    try {
      a.workload match {
        case "stream_ingest" => StreamIngest.run(h)
        case "catalog_pass" => CatalogPass.run(h)
        case w => sys.error(s"unknown workload $w")
      }
      if (a.record) Harness.writeExpected(s"${a.work}/${a.workload}.tsv", h.result.fingerprints)
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        h.result.fail(s"workload aborted: ${e.getMessage}")
    }
    val r = h.result
    r.layers("rss_peak_mb") = Harness.rssPeakMb
    val out = Json.obj(Seq(
      "workload" -> Json.str(a.workload),
      "attempted" -> r.attempted.toString,
      "failed" -> r.failed.toString,
      "errors" -> r.errors.take(20).map(Json.str).mkString("[", ",", "]"),
      "setup_rounds_s" -> Json.arr(r.setupRoundsS),
      "cycle_s" -> Json.arr(r.cycleS),
      "item_s" -> Json.arr(r.itemS),
      "untraced_s" -> Json.arr(r.untracedS),
      "layers" -> Json.obj(r.layers.map { case (k, v) => k -> Json.num(v) }),
      "job_counts" -> Json.obj(r.jobCounts.map { case (k, v) => k -> Json.num(v) })))
    Files.write(Paths.get(s"${a.work}/result.json"), out.getBytes(StandardCharsets.UTF_8))
    if (a.trace) {
      val spans = h.tracer.spans.toArray(Array.empty[Span]).sortBy(_.startMs)
      Files.write(Paths.get(s"${a.work}/spans.jsonl"), spans.map { s =>
        Json.obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString,
          "name" -> Json.str(s.name), "layer" -> Json.str(s.layer),
          "start_ms" -> Json.num(s.startMs), "end_ms" -> Json.num(s.endMs)))
      }.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    }
    spark.stop()
    System.exit(0)
  }
}
