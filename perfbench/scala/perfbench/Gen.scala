package perfbench

import java.security.MessageDigest
import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generation. Every input is a pure function of
  * (seed, stream name, index): the same seed gives the same rows, and
  * [[Digest]] fingerprints the rows so a run records an input checksum.
  * The engine only ever sees the parquet written here.
  */
object Gen {

  def rng(seed: Long, stream: String, idx: Long = 0L): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^
      stream.hashCode.toLong * 0xC2B2AE3D27D4EB4FL ^ idx * 0x165667B19E3779F9L)

  /** The 30 words of the catalog's sf0.1 `documents.parquet`, where
    * each makes up 3.3% of all tokens.
    */
  val vocab: Array[String] = Array("a", "agg", "batch", "big", "column",
    "customer", "data", "fast", "filter", "group", "hash", "join", "key",
    "line", "merge", "order", "part", "query", "row", "scan", "slow",
    "small", "sort", "spark", "stream", "table", "the", "value", "vector",
    "window")

  /** sf0.1 marks a near-duplicate as a copy of another document with
    * this one token inserted (3-shingle Jaccard ~0.98 to its source).
    */
  val DupMark = "dup"

  def token(r: SplittableRandom): String = vocab(r.nextInt(vocab.length))

  /** A fresh document: 10 to 100 tokens, uniform, as in sf0.1. */
  def doc(r: SplittableRandom): Array[String] =
    Array.fill(10 + r.nextInt(91))(token(r))

  /** A near-duplicate of `toks`, made the way sf0.1 makes them. */
  def nearDup(r: SplittableRandom, toks: Array[String]): Array[String] = {
    val at = r.nextInt(toks.length + 1)
    (toks.take(at) :+ DupMark) ++ toks.drop(at)
  }

  /** sf0.1's language mix: en 41%, zh, es and fr 15% each, de 14%. */
  def lang(r: SplittableRandom): String = {
    val u = r.nextDouble()
    if (u < 0.41) "en" else if (u < 0.56) "zh" else if (u < 0.71) "es"
    else if (u < 0.86) "fr" else "de"
  }

  /** An isotropic unit vector: sf0.1's 64-d embeddings are such (no
    * pair has cosine >= 0.8; a vector's nearest neighbour sits at a
    * median cosine of 0.41 among 2,000).
    */
  def unitVec(r: SplittableRandom, dims: Int): Array[Float] = {
    val v = Array.fill(dims)(gauss(r))
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(x => (x / n).toFloat)
  }

  private def gauss(r: SplittableRandom): Double = {
    // Box-Muller, one draw
    val u1 = math.max(r.nextDouble(), 1e-300)
    math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * r.nextDouble())
  }

  final case class Doc(id: Long, toks: Array[String], lang: String) {
    def text: String = toks.mkString(" ")
  }
  final case class Vec(id: Long, v: Array[Float])

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType),
    StructField("lang", StringType)))

  val vecSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = false))))

  def writeDocs(spark: SparkSession, docs: Seq[Doc], path: String,
                d: Digest): Unit = {
    val rows = docs.map { x =>
      d.add(x.id, x.text, x.lang)
      Row(x.id, x.text, x.lang)
    }
    write(spark, rows, docSchema, path)
  }

  def writeVecs(spark: SparkSession, vecs: Seq[Vec], path: String,
                d: Digest): Unit = {
    val rows = vecs.map { x =>
      d.add(x.id, x.v.mkString(","))
      Row(x.id, x.v.toSeq)
    }
    write(spark, rows, vecSchema, path)
  }

  def write(spark: SparkSession, rows: Seq[Row], schema: StructType,
            path: String): Unit = {
    import scala.jdk.CollectionConverters._
    val parts = math.max(1, math.min(8, rows.size / 2000))
    spark.createDataFrame(rows.asJava, schema).repartition(parts)
      .write.mode("overwrite").parquet(path)
  }

  /** Order-sensitive SHA-256 over generated rows. A run reports it as
    * of op 0's inputs (build, warm-up and op 0), which a seed fixes
    * whatever the number of ops in the window.
    */
  final class Digest {
    private val md = MessageDigest.getInstance("SHA-256")
    var rows = 0L
    def add(fields: Any*): Unit = {
      rows += 1
      md.update(fields.mkString("\u0001").getBytes("UTF-8"))
      md.update(0.toByte)
    }
    def hex: String = md.clone().asInstanceOf[MessageDigest].digest()
      .take(12).map("%02x".format(_)).mkString
  }

  def readDocs(spark: SparkSession, path: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    spark.read.parquet(path).repartition(col("doc_id"))
  }

  def readVecs(spark: SparkSession, path: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    spark.read.parquet(path).repartition(col("vec_id"))
  }
}
