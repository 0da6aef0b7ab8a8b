package graft

/** Physical-plan guardrails over EVERY registered query: the anti-patterns
  * that silently kill a 100 TB run must never appear, no matter how the
  * DataFrame combinators evolve.
  */
class PlanAuditSpec extends SparkSpec {

  private lazy val plans: Map[String, String] = {
    // other suites (TtlCache) may have left cached frames in the session's
    // CacheManager; plan-fragment matching would then splice
    // InMemoryTableScans (whose printed cached plans carry their own
    // exchanges) into these plans and skew the counts
    spark.catalog.clearCache()
    SparkEntry.queries.map { case (name, fn) =>
      name -> fn(spark, sf).queryExecution.executedPlan.toString
    }
  }

  test("no query plans a cartesian product") {
    val offenders = plans.collect {
      case (n, p) if p.contains("CartesianProduct") => n
    }
    assert(offenders.isEmpty, s"cartesian products in: $offenders")
  }

  test("broadcast nested-loop joins appear only where a broadcast cross join is the design") {
    // the legitimate nested-loop shapes: scoring a broadcast query set /
    // centroid set against the corpus; everything else must hash-join
    val intended =
      Set("cosine_topk", "ivf_kmeans_assign", "ivf_multiprobe_topk", "sql_cosine_topk",
        "pq_topk",          // broadcast query set × coded corpus (ADC sweep)
        "ivfpq_topk",       // broadcast centroid set in the probe selection
        "l2_topk",          // broadcast query set × corpus (exact ground truth)
        "ann_recall",       // composes pq + depth-2/3 IVF-PQ + l2_topk
        "embedding_contamination_fixed", // fixed benchmark set broadcast
        "kmeans_label_purity", // broadcast centroid set in the fit/assign
        "tfidf_top_terms",  // broadcast of the 1-row corpus-count aggregate
        "bm25_top_terms",   // broadcast of the 1-row (n_docs, total_dl) stats
        "bm25_retrieval",   // same 1-row stats broadcast as bm25_top_terms
        "corpus_mixture",   // broadcast of the 1-row total-tokens aggregate
        "mixture_resample", // same 1-row total broadcast inside the rates
        "tpch_q22",         // broadcast of the 1-row avg-balance aggregate
        "bpe_merge_round",  // broadcast of the 1-row argmax-pair frame
        "segment_type_chi2", // level-grid cross + 1-row totals broadcast
        "brand_affinity",    // broadcast of the 1-row basket-count aggregate
        "benford_first_digit", // broadcast of the 1-row total-count aggregate
        // prefixCounts: 1-row quantile-bounds broadcast + ≤B-row triangular
        // bucket-offset join (the distributed prefix sum's control plane)
        "spend_gini", "spearman_price_balance",
        "vip_amount_mannwhitney", "vip_amount_ks",
        "global_price_quantiles", "price_equidepth", "time_to_purchase",
        // 1-row global threshold/max broadcast back onto the aggregate
        "tpch_q11", "tpch_q15",
        "doc_surprisal",  // broadcast of the 1-row total-bigram count
        "countmin_term_bounds", // broadcast of the 1-row corpus-total aggregate
        "heavy_hitter_bounds",  // 1-row total + 1-row MG-summary broadcasts
        "stream_heavy_hitters", // same flag shape over the stream summary
        "cooccurrence_lift",    // broadcast of the 1-row total-token count
        "association_rules",    // broadcast of the 1-row total-basket count
        "approx_stats_bounds") // 1-row exact/sketch aggregates broadcast-joined
    // a declared name must name a registered query: a retirement that
    // leaves its name here fails instead of going stale
    assert((intended -- SparkEntry.queries.keySet).isEmpty,
      s"intended names not registered: ${intended -- SparkEntry.queries.keySet}")
    val offenders = plans.collect {
      case (n, p) if p.contains("BroadcastNestedLoopJoin") && !intended(n) => n
    }
    assert(offenders.isEmpty, s"unexpected nested-loop joins in: $offenders")
  }

  test("selective serving queries push filters into the parquet scan") {
    assert(plans("filtered_display").contains("PushedFilters: [IsNotNull(value), In(event_type"),
      "IN-list + range filter reach the scan")
    assert(plans("latest_events").contains("TakeOrderedAndProject"))
    assert(plans("sql_location_top5").contains("TakeOrderedAndProject"))
  }

  test("the ORC source keeps predicate pushdown like the native layout") {
    val p = plans("orc_source_scan")
    assert(p.contains("PushedFilters: [IsNotNull(value), GreaterThan(value,50.0)]"),
      s"value filter must reach the ORC stripe statistics:\n$p")
  }

  test("derived-column filters collapse into pushed scan predicates") {
    // filtering on the enrichment-derived is_anomaly flag must reach the
    // parquet scan as the underlying raw-column OR predicate, with the
    // read schema pruned to the referenced columns
    assert(plans("anomaly_by_category")
      .contains("PushedFilters: [Or(GreaterThan(value,300.0),EqualTo(event_type,error))]"))
    assert(plans("anomaly_by_category").contains("ReadSchema: struct<event_type:string,value:double>"))
  }

  test("top-k windows use WindowGroupLimit (bounded per-partition state)") {
    Seq("v_age_preferences", "v_location_preferences").foreach { q =>
      assert(plans(q).contains("WindowGroupLimit"), s"$q missing WindowGroupLimit")
    }
  }

  test("no query grows new exchanges (plan-shape snapshot)") {
    // every shuffle/broadcast added to a query's plan is a scale regression
    // until proven otherwise: the snapshot locks in the current shapes.
    // Deliberate changes: GRAFT_REGEN_PLANS=1 sbt "testOnly graft.PlanAuditSpec"
    // and commit the regenerated file.
    val snap = java.nio.file.Paths.get("src/test/resources/exchange_counts.tsv")
    def counts(p: String): (Int, Int) = (
      p.linesIterator.count(l =>
        l.contains("Exchange ") && !l.contains("BroadcastExchange")
          && !l.contains("ReusedExchange")),
      p.linesIterator.count(_.contains("BroadcastExchange")))
    val actual = plans.map { case (n, p) => n -> counts(p) }
    if (sys.env.contains("GRAFT_REGEN_PLANS")) {
      val body = actual.toSeq.sortBy(_._1)
        .map { case (n, (s, b)) => s"$n\t$s\t$b" }.mkString("", "\n", "\n")
      java.nio.file.Files.createDirectories(snap.getParent)
      java.nio.file.Files.writeString(snap, body)
      info(s"regenerated $snap")
    } else {
      val expected = scala.io.Source.fromFile(snap.toFile).getLines()
        .filter(_.nonEmpty).map { l =>
          val Array(n, s, b) = l.split("\t"); n -> (s.toInt, b.toInt)
        }.toMap
      val diffs = actual.toSeq.sortBy(_._1).flatMap { case (n, a) =>
        expected.get(n) match {
          case None => Some(s"$n: not in snapshot (new query) — regenerate")
          case Some(e) if e != a =>
            Some(s"$n: (shuffles, broadcasts) $e -> $a — " +
              (if (a._1 > e._1 || a._2 > e._2) "NEW exchange, investigate"
               else "improvement, regenerate the snapshot"))
          case _ => None
        }
      } ++ (expected.keySet -- actual.keySet).toSeq.sorted
        .map(n => s"$n: stale snapshot row (query removed) — regenerate")
      assert(diffs.isEmpty, diffs.mkString("\n"))
    }
  }

  test("enrichment parses the props JSON at most once per row") {
    // rating() is referenced from three satisfaction CASE branches; if the
    // hoisted projection ever gets collapsed back in, the parse triples
    Seq("satisfaction_pivot", "enriched_orders").foreach { q =>
      val n = "get_json_object".r.findAllIn(plans(q)).length
      assert(n <= 1, s"$q plans $n get_json_object calls")
    }
  }
}
