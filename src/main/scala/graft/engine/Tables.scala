package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Lazy loaders for the driver testdata tables (TESTDATA.md).
  *
  * Each accessor is a fresh parquet scan: Catalyst prunes columns and pushes
  * predicates into the scan per-query, so sharing a cached DataFrame here
  * would only hurt (it would pin the widest schema). At cluster scale these
  * reads are distributed parquet scans; nothing here collects to the driver.
  */
final case class Tables(spark: SparkSession, dir: String) {
  private def t(name: String): DataFrame = spark.read.parquet(s"$dir/$name.parquet")

  def region: DataFrame     = t("region")
  def nation: DataFrame     = t("nation")
  def customer: DataFrame   = t("customer")
  def supplier: DataFrame   = t("supplier")
  def part: DataFrame       = t("part")
  def orders: DataFrame     = t("orders")
  def lineitem: DataFrame   = t("lineitem")
  def events: DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    Tables.normalizeEventTs(t("events"))
  }
  def documents: DataFrame  = t("documents")
  def embeddings: DataFrame = t("embeddings")
}

object Tables {
  /** events.parquet has shipped `ts` two ways across testdata generations:
    * TIMESTAMP(NANOS) — which Spark's vectorized reader rejects, so it is
    * read as nanos-since-epoch longs (`nanosAsLong`) and converted with
    * integer division (a double round-trip would lose precision above
    * 2^53 ns; micros truncation matches DuckDB's ns→µs read) — and plain
    * timestamp[us], which Spark loads as TIMESTAMP_NTZ. Both normalize to
    * session-local TimestampType (session zone is pinned to UTC, so the NTZ
    * cast is a wall-clock no-op and both generations yield identical
    * values). Batch and streaming reads of events both go through here.
    */
  def normalizeEventTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    df.schema("ts").dataType match {
      case LongType         => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast("timestamp"))
      case _                => df
    }
  }
}
