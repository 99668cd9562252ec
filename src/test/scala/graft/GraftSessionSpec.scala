package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.{Add, BoundReference, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.types.LongType

/** Pins `GraftSession`'s codegen-cache size: Spark's 100-entry default
  * evicts the engine's generated classes before they are reused, so
  * every op recompiles them.
  */
class GraftSessionSpec extends SparkSpec {
  private val key = "spark.sql.codegen.cache.maxEntries"
  // distinct generated classes one `dedup_maintenance` benchmark run
  // compiles (the larger of the two perfbench/ workloads)
  private val dedupRunClasses = 340

  test("builder settings carry the codegen cache sized to the working set") {
    val confs = GraftSession.settings("4")
    assert(confs.map(_._1).distinct.size == confs.size,
      s"duplicate keys: $confs")
    assert(confs.toMap.get(key) ==
      Some(GraftSession.CodegenCacheMaxEntries.toString))
    assert(GraftSession.CodegenCacheMaxEntries >= dedupRunClasses)
  }

  test("fromEnv applies SPARK_GRAFT_EXTRA_CONF last") {
    val (master, plain) = GraftSession.envSettings(
      Map("SPARK_GRAFT_CPUS" -> "3"))
    assert(master == "local[3]")
    assert(plain == GraftSession.settings("3"))
    val (_, confs) = GraftSession.envSettings(Map(
      "SPARK_GRAFT_CPUS" -> "3",
      "SPARK_GRAFT_EXTRA_CONF" ->
        s" $key=64 ;spark.sql.ansi.enabled=true;graft.cc.localEdgeMax=a=b"))
    assert(confs.take(plain.size) == plain)
    assert(confs.drop(plain.size) == Seq(key -> "64",
      "spark.sql.ansi.enabled" -> "true", "graft.cc.localEdgeMax" -> "a=b"))
    // the builder folds in order, so the last value of a key wins
    assert(confs.toMap.get(key) == Some("64"))
  }

  test("every catalog query applies the one query conf list") {
    assert(GraftSession.queryConfs == Seq(
      "spark.sql.ansi.enabled" -> "false",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1m"))
    // a session a caller built with other values gets the list anyway
    val session = spark.newSession()
    Seq("spark.sql.ansi.enabled" -> "true",
      "spark.sql.legacy.parquet.nanosAsLong" -> "false",
      "spark.sql.session.timeZone" -> "America/New_York",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64m")
      .foreach { case (k, v) => session.conf.set(k, v) }
    val rows = GraftSession.query((s, _) => s.range(3).toDF())(session, "")
    assert(rows.count() == 3L)
    GraftSession.queryConfs.foreach { case (k, v) =>
      assert(session.conf.get(k) == v, k) }
  }

  test("in the test session a generated class outlives 150 other compiles") {
    // the session comes first: the first one in the JVM sizes the cache
    assert(spark.conf.get(key) == GraftSession.CodegenCacheMaxEntries.toString)
    // a distinct class per literal: the value is inlined into the code
    def project(i: Long) = GenerateUnsafeProjection.generate(Seq(
      Add(BoundReference(0, LongType, nullable = false), Literal(i))))
    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val base = 0x5eedL << 20
    project(base)
    (1L to 150L).foreach(i => project(base + i))
    val before = compiles
    project(base)
    assert(compiles == before, "the first class was evicted and recompiled")
  }
}
