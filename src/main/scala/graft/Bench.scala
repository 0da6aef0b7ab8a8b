package graft

/** Benchmark main (driver contract): times every SparkEntry query on
  * SPARK_GRAFT_SF_DIR and prints one JSON line.
  *
  * - One untimed warmup pass first: it primes codegen/JIT and the
  *   once-per-JVM fixtures, so the timed pass measures steady-state cost.
  * - Each query is forced through the noop datasource (full computation
  *   including final sorts — `.count()` lets Catalyst elide sort/project).
  * - Failures are NOT swallowed into timings: a failed query reports -1 and
  *   is listed in "errors" so a broken query can never read as a fast pass.
  *
  * Comparing commits is `perfbench/`'s job (paired series, spread-aware
  * `compare.py`); this line is one pass's per-query record.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkEntry.session()
    def run(name: String): Unit =
      try SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      finally SparkEntry.release(spark)

    val names = SparkEntry.selected
    // warmup failures are logged, not swallowed: a fixture that failed to
    // prime would otherwise silently rebuild inside its timed run
    names.foreach(n => try run(n) catch {
      case e: Throwable =>
        System.err.println(s"[bench] warmup of $n failed: ${e.getMessage}")
    })

    val errors = scala.collection.mutable.ListBuffer[String]()
    val results = names.map { name =>
      val t0 = System.nanoTime()
      val ok = try { run(name); true } catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          errors += name
          false
      }
      name -> (if (ok) (System.nanoTime() - t0) / 1e9 else -1.0)
    }
    println(summary(results, errors.toSeq, sfDir))
    spark.stop()
  }

  /** The summary line: total seconds of the queries that ran, their count and
    * slowest time, every query's seconds (-1 for a failure) and the failed
    * names. Failures count in `n_queries` but never in `value` or
    * `max_query_sec`. Numbers go through `Double.toString`, which ignores the
    * JVM locale, so the line stays JSON under a ',' decimal locale.
    */
  def summary(results: Seq[(String, Double)], errors: Seq[String], sf: String): String = {
    val ok = results.collect { case (_, v) if v >= 0 => v }
    val maxQ = if (ok.nonEmpty) ok.max else -1.0
    val qs = results.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    val errJson = errors.map("\"" + _ + "\"").mkString("[", ",", "]")
    s"""{"metric":"total","value":${ok.sum},"unit":"sec","n_queries":${results.size},""" +
      s""""max_query_sec":$maxQ,"queries":$qs,"errors":$errJson,"sf":"$sf"}"""
  }
}
