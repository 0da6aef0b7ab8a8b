package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkEntry
import graft.engine.{Catalog, Tables, TempDirs, ViewRegistry}

/** `catalog_pass`: one client running each query of the benchmark's query
  * list once per pass, in a seed-shuffled order, to the noop sink —
  * releasing persistent RDDs and sweeping temp directories between queries
  * the way `graft.Bench` does. The warm-up pass collects and fingerprints
  * every result. A traced run ends with the pipeline's stage timings and
  * two full dashboard refreshes, for the `pipeline.*` and `dashboard.*`
  * layers.
  */
object CatalogPass {
  /** Module of each catalog: the package it lives in. */
  private val catalogs: Seq[Catalog] = Seq(
    graft.shopping.ViewsCatalog, graft.shopping.EnrichCatalog,
    graft.ops.OpsCatalog, graft.ops.TpchCatalog, graft.ops.ServingCatalog,
    graft.ops.TemporalCatalog, graft.ops.CdcCatalog,
    graft.llm.TextCatalog, graft.llm.PiiCatalog, graft.llm.DedupCatalog,
    graft.llm.SimilarityCatalog, graft.llm.CorpusCatalog, graft.llm.MultimodalCatalog,
    graft.streaming.StreamingCatalog)

  lazy val moduleOf: Map[String, String] = catalogs.flatMap { c =>
    val m = c.getClass.getPackage.getName.stripPrefix("graft.")
    c.queries.keys.map(_ -> m)
  }.toMap

  def run(h: Harness): Unit = {
    val a = h.args
    val all = SparkEntry.queries
    val names = Files.readAllLines(Paths.get(s"${a.expected}/catalog_queries.txt"),
      StandardCharsets.UTF_8).asScala.map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).toSeq
    names.filterNot(all.contains).foreach(n => sys.error(s"unknown query $n"))
    val expected = Harness.loadExpected(s"${a.expected}/catalog_pass.tsv")

    val spark = Setup.rounds(h, "engine") { s =>
      ViewRegistry.registerAll(Tables(s, a.data)); s
    }
    val rng = new scala.util.Random(a.seed)
    var sweepMs = 0.0

    def between(): Unit = {
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      val t0 = System.nanoTime()
      h.tracer.span("sweep", "sweep")(TempDirs.sweep())
      if (h.tracer.on) sweepMs += (System.nanoTime() - t0) / 1e6
    }

    def runQuery(n: String, timed: Boolean): Unit = {
      between()
      val (_, s) = h.op(n, moduleOf.getOrElse(n, "other"))(all(n)(spark, a.data)) { df =>
        df.write.format("noop").mode("overwrite").save()
      }
      if (timed) h.result.itemS += s
    }

    // warm-up pass: fingerprint every result, untimed
    rng.shuffle(names).foreach { n =>
      between()
      h.result.attempted += 1
      try {
        val (fp, s) = h.op(n, moduleOf.getOrElse(n, "other"))(all(n)(spark, a.data)) { df =>
          Harness.fingerprint(df.toLocalIterator().asScala)
        }
        System.err.println(f"[perfbench] warm-up $n%-36s $s%8.3f s $fp")
        h.check(n, fp, expected)
      } catch { case e: Throwable => h.result.fail(s"$n: ${e.getMessage}") }
    }
    if (a.record) {
      DashboardRefresh.run(h, spark, DashboardRefresh.FilterMenu.indices, expected)
      return
    }
    Setup.markTimingStart(h)

    /** One pass; returns its wall seconds, sweeps and releases included. */
    def pass(timed: Boolean): Double = h.tracer.span("pass", "cycle") {
      val t0 = System.nanoTime()
      rng.shuffle(names).foreach { n =>
        if (timed) h.result.attempted += 1
        try runQuery(n, timed)
        catch { case e: Throwable => h.result.fail(s"$n: ${e.getMessage}") }
      }
      (System.nanoTime() - t0) / 1e9
    }

    if (a.trace) {
      val end = System.nanoTime() + (a.seconds * 0.5e9).toLong
      while (h.result.untracedS.isEmpty || System.nanoTime() < end)
        h.result.untracedS += pass(timed = false)
      h.startTracing()
    }
    val gc0 = Gc.totalMs
    val from = System.currentTimeMillis()
    val end = System.nanoTime() + (a.seconds * (if (a.trace) 0.5e9 else 1e9)).toLong
    var passes = 0
    while (passes == 0 || System.nanoTime() < end) {
      h.result.cycleS += pass(timed = true)
      passes += 1
    }
    val to = System.currentTimeMillis()
    if (a.trace) {
      h.commonLayers(from, to, Gc.totalMs - gc0, passes)
      val l = h.result.layers
      l("engine.sweep_s") = sweepMs / 1000 / passes
      h.probe.jobsByOp.toSeq.sortBy(_._1).foreach { case (op, n) =>
        h.result.jobCounts(s"query.$op") = n.toDouble / passes }
      h.result.jobCounts("pass") = h.probe.jobs.toDouble / passes
      h.overhead()
      graft.llm.CorpusCatalog.pipelineStageTimings(spark, a.data).foreach { case (stage, s) =>
        l(s"pipeline.${stage}_s") = s }
      between()
      // the dashboard facade's layers: one warm-up refresh, then the
      // measured one; both use seed-picked filters
      val menu = DashboardRefresh.FilterMenu.size
      DashboardRefresh.run(h, spark, Seq(rng.nextInt(menu), rng.nextInt(menu)), expected)
    }
  }
}
