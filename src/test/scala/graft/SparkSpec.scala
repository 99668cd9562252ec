package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs (one per suite via lazy val). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.ansi.enabled", "false")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    // the engine's codegen cache size: the suite JVM compiles hundreds
    // of distinct plans, which Spark's 100-entry default keeps evicting
    .config("spark.sql.codegen.cache.maxEntries",
      GraftSession.CodegenCacheMaxEntries.toString)
    .getOrCreate()

  def fixtureOdds: DataFrame =
    spark.read.schema(graft.model.Schemas.oddsSchema)
      .json(getClass.getResource("/sample_odds.json").getPath)

  def approx(a: Double, b: Double, eps: Double = 1e-9): Boolean =
    math.abs(a - b) <= eps
}
