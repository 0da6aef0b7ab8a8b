package graft

/** Coarse per-query wall-time guard: the companion of PlanAuditSpec's
  * exchange snapshot for costs a plan shape can't show (an O(n²) explode, a
  * driver loop, a fixture rebuilt per call). Every registered query runs at
  * the test SF after a full warmup pass and must stay within 3× its
  * committed budget, with a 5 s floor — budgets regenerate on an otherwise
  * idle JVM, but the guard also runs inside the full suite where GC and
  * sibling-suite load add seconds of jitter to sub-second queries; the
  * floor absorbs that while still failing the 10 s-class regressions this
  * guard exists to catch (the round-3 incident was 15 s).
  *
  * Deliberate changes: GRAFT_REGEN_BUDGETS=1 sbt "testOnly graft.PerfBudgetSpec"
  * and commit the regenerated file.
  */
class PerfBudgetSpec extends SparkSpec {

  test("no query exceeds 3x its recorded wall-time budget (coarse perf guard)") {
    val snap = java.nio.file.Paths.get("src/test/resources/time_budgets.tsv")
    def run(name: String): Unit =
      SparkEntry.queries(name)(spark, sf).write.format("noop").mode("overwrite").save()
    val names = SparkEntry.queries.keys.toSeq.sorted
    // untimed warmup (codegen/JIT + once-per-JVM fixtures), mirroring Bench
    names.foreach { n =>
      try run(n) catch { case e: Throwable => fail(s"warmup of $n failed: ${e.getMessage}") }
    }
    val actual = names.map { n =>
      val t0 = System.nanoTime()
      run(n)
      n -> (System.nanoTime() - t0) / 1e9
    }.toMap

    if (sys.env.contains("GRAFT_REGEN_BUDGETS")) {
      val body = actual.toSeq.sortBy(_._1)
        .map { case (n, s) => f"$n%s\t$s%.3f" }.mkString("", "\n", "\n")
      java.nio.file.Files.createDirectories(snap.getParent)
      java.nio.file.Files.writeString(snap, body)
      info(s"regenerated $snap")
    } else {
      val budgets = scala.io.Source.fromFile(snap.toFile).getLines()
        .filter(_.nonEmpty).map { l =>
          val Array(n, s) = l.split("\t"); n -> s.toDouble
        }.toMap
      val over = actual.toSeq.sortBy(_._1).flatMap { case (n, a) =>
        budgets.get(n) match {
          case None => Some(s"$n: no budget row (new query) — regenerate")
          case Some(b) if a > math.max(3.0 * b, 5.0) =>
            Some(f"$n: $a%.2f s vs budget $b%.2f s (limit ${math.max(3.0 * b, 5.0)}%.2f s) — investigate or regenerate")
          case _ => None
        }
      } ++ (budgets.keySet -- names).toSeq.sorted
        .map(n => s"$n: stale budget row (query removed) — regenerate")
      if (over.nonEmpty) fail(over.mkString("\n")) else succeed
    }
  }
}
