package graft

import org.scalatest.funsuite.AnyFunSuite

/** The summary-line contract of [[Bench]]: a failed query is never
  * swallowed into the timings, and the line stays JSON whatever the JVM
  * locale. Pure string checks, no Spark.
  */
class BenchSpec extends AnyFunSuite {

  private val results = Seq("a_query" -> 1.25, "broken" -> -1.0, "z_query" -> 0.5)

  private def field(line: String, key: String): String =
    (s""""$key":([^,}]+)""").r.findFirstMatchIn(line)
      .getOrElse(fail(s"no $key in $line")).group(1)

  test("a failed query reports -1, is listed in errors, and stays out of value and max") {
    val line = Bench.summary(results, Seq("broken"), "/data/sf")
    assert(field(line, "value").toDouble == 1.75)
    assert(field(line, "max_query_sec").toDouble == 1.25)
    assert(field(line, "n_queries") == "3")
    assert(line.contains(""""broken":-1.0"""))
    assert(line.contains(""""errors":["broken"]"""))
    val keys = """"([a-z_]+)":""".r.findAllMatchIn(line.replaceAll(""""queries":\{[^}]*\}""", """"queries":0"""))
      .map(_.group(1)).toSeq
    assert(keys == Seq("metric", "value", "unit", "n_queries", "max_query_sec",
      "queries", "errors", "sf"))
  }

  test("the line keeps '.' decimals and parseable query names under a ',' locale") {
    val saved = java.util.Locale.getDefault
    java.util.Locale.setDefault(java.util.Locale.GERMANY)
    try {
      val line = Bench.summary(results, Seq("broken"), "/data/sf")
      assert(field(line, "value") == "1.75")
      assert(field(line, "max_query_sec") == "1.25")
      // the same scan ArtifactsSpec runs over committed trio runs
      val span = """"queries"\s*:\s*\{([^}]*)\}""".r.findFirstMatchIn(line)
        .getOrElse(fail("no \"queries\":{...} object")).group(1)
      val parsed = """"([A-Za-z0-9_.]+)"\s*:\s*(-?[0-9.]+(?:E-?[0-9]+)?)(?=,|$)""".r
        .findAllMatchIn(span).map(m => m.group(1) -> m.group(2).toDouble).toSeq
      assert(parsed == results)
    } finally java.util.Locale.setDefault(saved)
  }
}
