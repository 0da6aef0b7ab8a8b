package graft

import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one per suite, lazy). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sf: String = "/root/testdata/sf0.001"

  /** Write `df` as ONE flat parquet file at `target`, replacing any file
    * there (the file stream source does not recurse into subdirectories,
    * and `Tables` reads single-file tables).
    */
  def writeParquetFile(df: DataFrame, target: Path): Unit = {
    val tmp = Files.createTempDirectory("graft-onefile").toString
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    Files.move(part.toPath, target, StandardCopyOption.REPLACE_EXISTING)
  }
}

object SparkSpec {
  lazy val session: SparkSession = SparkSession.builder()
    .withExtensions(new graft.functions.GraftExtensions)
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}
