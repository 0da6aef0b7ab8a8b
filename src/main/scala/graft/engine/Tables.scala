package graft.engine

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Lazy loaders for the driver testdata tables (TESTDATA.md).
  *
  * Each accessor is still a fresh parquet scan: Catalyst prunes columns and
  * pushes predicates into the scan per-query, so sharing a cached DataFrame
  * here would only hurt (it would pin the widest schema). Only the footer
  * schema is shared, through [[Tables.read]], so building a frame launches
  * no schema-inference job once its file has been read. At cluster scale
  * these reads are distributed parquet scans; nothing here collects to the
  * driver.
  */
final case class Tables(spark: SparkSession, dir: String) {
  private def t(name: String): DataFrame = Tables.read(spark, s"$dir/$name.parquet")

  def region: DataFrame     = t("region")
  def nation: DataFrame     = t("nation")
  def customer: DataFrame   = t("customer")
  def supplier: DataFrame   = t("supplier")
  def part: DataFrame       = t("part")
  def orders: DataFrame     = t("orders")
  def lineitem: DataFrame   = t("lineitem")
  def events: DataFrame = {
    val path = s"$dir/events.parquet"
    Tables.normalizeEventTs(spark.read.schema(Tables.eventsSchemaOf(spark, path)).parquet(path))
  }
  def documents: DataFrame  = t("documents")
  def embeddings: DataFrame = t("embeddings")
}

object Tables {
  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"
  private val footers =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, Long), (StructType, Boolean)]()

  /** The footer schema of the parquet table at `path`, inferred once per
    * JVM. A footer is a fact about a file, so sessions share the entry. The
    * key is the path and the file's modification time and length (a
    * driver-side `getFileStatus`, no job), so a rewritten file is
    * re-resolved. The session's `nanosAsLong` decides the inferred type of a
    * TIMESTAMP(NANOS) column, so an entry inferred with it on serves only
    * sessions that have it on; one inferred with it off proves the file has
    * no such column (inference rejects one) and serves every session. A
    * missing file throws and caches nothing.
    */
  def schemaOf(spark: SparkSession, path: String): StructType =
    resolve(spark, path, spark.conf.get(NanosAsLong, "false").toBoolean)

  /** The footer schema of an events file, inferred with `nanosAsLong` on so
    * a TIMESTAMP(NANOS) `ts` resolves to longs ([[normalizeEventTs]]). Only
    * inference needs the setting: a scan that declares the long column
    * reads it under any session. So a miss infers in a fresh session with
    * the setting on, and the caller's session conf is never changed.
    */
  def eventsSchemaOf(spark: SparkSession, path: String): StructType =
    resolve(spark, path, nanos = true)

  private def resolve(spark: SparkSession, path: String, nanos: Boolean): StructType = {
    val p = new Path(path)
    val st = p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p)
    val key = (path, st.getModificationTime, st.getLen)
    footers.get(key) match {
      case (schema, under) if !under || under == nanos => schema
      case _ =>
        val inferring =
          if (nanos == spark.conf.get(NanosAsLong, "false").toBoolean) spark
          else { val s = spark.newSession(); s.conf.set(NanosAsLong, nanos.toString); s }
        val schema = inferring.read.parquet(path).schema
        footers.put(key, (schema, nanos))
        schema
    }
  }

  /** A parquet scan of `path` under its resolved footer schema. */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(schemaOf(spark, path)).parquet(path)

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
