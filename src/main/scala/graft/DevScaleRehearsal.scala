package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev-only sf1 rehearsal data builder (r2 verdict item 5): the driver
  * ships testdata up to sf0.1, so a 10× rehearsal set is synthesized
  * by REPLICATING sf0.1 with per-replica key shifts — NOT fresh random
  * data (TESTDATA.md forbids regenerating the driver tables; this
  * derives from them and lives in /tmp, outside the oracle surface).
  * It exists purely to expose super-linear constants that hide at
  * sf0.1 (join fan-outs, band-bucket skew, CC round growth); it is
  * never used for correctness.
  *
  * Faithful-scaling rules:
  * - Fixed dims (region, nation) stay single-copy, like real TPC-H SFs.
  * - Every scale-proportional id shifts by replica * 1e6 — above every
  *   real key range, and divisible by every modulus the catalog
  *   samples with (vec_id % 40 / % 100, doc_id % 32), so query-set
  *   densities stay constant across replicas. Foreign keys shift by
  *   the same offset, so join cardinalities scale LINEARLY (a naive
  *   10× union without shifts would square the per-key fan-out).
  * - documents.text gets a per-replica suffix on EVERY token: replica
  *   docs must NOT be near-duplicates of each other, or the LSH/CC
  *   queries would face 45 synthetic dup pairs per original doc — a
  *   quadratic artifact of the replication, not a property of sf1.
  *   Suffixing every token rewrites every shingle while preserving
  *   within-replica duplicate structure and token counts.
  * - embeddings get a deterministic per-(replica, vec, dim) sin
  *   perturbation so replicas don't collapse into identical LSH
  *   buckets; norms move by ±0.05/dim, keeping the distance geometry.
  */
object DevScaleRehearsal {
  def main(args: Array[String]): Unit = {
    val srcDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outDir = args.lift(1).getOrElse("/tmp/sf1_synth")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = GraftSession.builder("local[32]", "32")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val OFF = 1000000L // > every key range; divisible by 40, 100, 32

    def t(name: String): DataFrame =
      spark.read.parquet(s"$srcDir/$name.parquet")

    def replicate(name: String)(shift: (DataFrame, Int) => DataFrame)
        : Unit = {
      val src = t(name)
      (0 until factor).map(r => shift(src, r))
        .reduce(_ unionByName _)
        // spread across files so the readers parallelize like a real
        // multi-file sf1 table, not one giant row group
        .repartition(32)
        .write.mode("overwrite").parquet(s"$outDir/$name.parquet")
      println(s"[rehearsal] $name x$factor written")
    }

    // fixed dims: copy through unchanged
    Seq("region", "nation").foreach { name =>
      t(name).write.mode("overwrite").parquet(s"$outDir/$name.parquet")
      println(s"[rehearsal] $name copied (fixed dim)")
    }

    replicate("customer") { (df, r) =>
      df.withColumn("c_custkey", col("c_custkey") + lit(r * OFF))
    }
    replicate("supplier") { (df, r) =>
      df.withColumn("s_suppkey", col("s_suppkey") + lit(r * OFF))
    }
    replicate("part") { (df, r) =>
      df.withColumn("p_partkey", col("p_partkey") + lit(r * OFF))
    }
    replicate("orders") { (df, r) =>
      df.withColumn("o_orderkey", col("o_orderkey") + lit(r * OFF))
        .withColumn("o_custkey", col("o_custkey") + lit(r * OFF))
    }
    replicate("lineitem") { (df, r) =>
      df.withColumn("l_orderkey", col("l_orderkey") + lit(r * OFF))
        .withColumn("l_partkey", col("l_partkey") + lit(r * OFF))
        .withColumn("l_suppkey", col("l_suppkey") + lit(r * OFF))
    }
    replicate("events") { (df, r) =>
      df.withColumn("event_id", col("event_id") + lit(r * OFF))
        .withColumn("user_id", col("user_id") + lit(r * OFF))
    }
    replicate("documents") { (df, r) =>
      val tagged = if (r == 0) df else df
        .withColumn("text",
          regexp_replace(col("text"), "(\\S+)", s"$$1zr$r"))
      tagged
        .withColumn("doc_id", col("doc_id") + lit(r * OFF))
        .withColumn("n_chars", length(col("text")).cast("long"))
    }
    replicate("embeddings") { (df, r) =>
      val perturbed = if (r == 0) df else df
        .withColumn("embedding", expr(
          s"transform(embedding, (x, i) -> " +
            s"cast(x + sin(vec_id * 7.0D + i + $r * 13.0D) * 0.05D " +
            s"as float))"))
      perturbed.withColumn("vec_id", col("vec_id") + lit(r * OFF))
    }
    spark.stop()
  }
}
