package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.engine.{Catalog, Tables, TempDirs}
import graft.shopping.{Views, ViewsCatalog}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries`/`oracleSql` are the union of every module [[graft.engine.Catalog]];
  * each catalog owns both sides of its contract so the Spark plan and the
  * DuckDB oracle can never drift apart (the round-1 hash fail came from a
  * duplicated, stale inline oracle). Column names are aliased identically on
  * both sides; outputs are deterministically ordered; money aggregates use
  * decimal-exact accumulation (Relational.moneySum / Catalog.moneySumSql).
  */
object SparkEntry {

  private val catalogs: Seq[Catalog] = Seq(
    ViewsCatalog,
    graft.ops.OpsCatalog,
    graft.ops.TpchCatalog,
    graft.ops.ServingCatalog,
    graft.ops.TemporalCatalog,
    graft.ops.CdcCatalog,
    graft.shopping.EnrichCatalog,
    graft.llm.TextCatalog,
    graft.llm.PiiCatalog,
    graft.llm.DedupCatalog,
    graft.llm.SimilarityCatalog,
    graft.llm.CorpusCatalog,
    graft.llm.MultimodalCatalog,
    graft.streaming.StreamingCatalog,
  )

  /** Flagship: v_age_preferences analog — CASE bucketing, two aggregates,
    * top-1-per-group window, left join (the reference's hard core in one
    * query, bigquery_views.sql:2-43).
    */
  def entry(spark: SparkSession): DataFrame =
    Views.agePreferences(Views.base(Tables(spark, "/root/testdata/sf0.001")))

  def queries: Map[String, (SparkSession, String) => DataFrame] = {
    val all = catalogs.flatMap(_.queries)
    require(all.size == all.map(_._1).distinct.size, "duplicate query name across catalogs")
    all.toMap
  }

  def oracleSql: Map[String, String] = catalogs.flatMap(_.oracleSql).toMap

  /** The session Bench and Verify run in: graft's extensions, `local[cpus]`
    * with as many shuffle partitions, UTC, no UI. `cpus` defaults to the
    * host's core count; SPARK_GRAFT_CPUS overrides it.
    */
  def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Registered query names in run order, narrowed by the dev-only subset
    * filter SPARK_GRAFT_ONLY (comma-separated names; unset = every query).
    */
  def selected: Seq[String] = {
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    queries.keys.toSeq.sorted.filter(n => only.forall(_.contains(n)))
  }

  /** Per-query release, run after each query's result is consumed. Several
    * operators localCheckpoint() a reused intermediate frame, and those
    * blocks stay in the BlockManager until unpersisted; across a 200+-query
    * JVM they squeeze execution memory at the tail. Nothing is shared
    * between queries (fixtures are disk-backed), so dropping every
    * persistent RDD is safe. [[TempDirs.sweep]] then deletes the query's
    * disposable sink and checkpoint directories.
    */
  def release(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    TempDirs.sweep()
  }
}
