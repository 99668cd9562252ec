package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.OddsFunctions.{decimalize, impliedProb}
import graft.operators.{Arb, Devig, Ev}
import graft.sources.Snapshots

/** The paper's odds refresh loop. Each op appends one seeded snapshot
  * batch to the canonical parquet history, reads the latest-per-key
  * view, decimalizes and devigs it, builds the arbitrage summary and
  * the high-EV table, and writes both. Every `CompactEvery`-th op
  * compacts the history, so latency follows a sawtooth.
  */
final class OddsRefresh(spark: SparkSession, seed: Long) extends Workload {
  val Games = 500
  val Books: Seq[String] = (0 until 6).map(b => s"bk$b")
  /** bk5 quotes decimal odds; the others quote American odds. */
  val DecimalBook = "bk5"
  val RefreshFrac = 0.6
  /** Ops between compactions: one window cycle. */
  val CompactEvery = 3
  val cycleLen = CompactEvery
  /** One compacting op, which runs every layer a plain op does. */
  override val warmupOps = 1
  private val keyCols = Seq("game_id", "bookmaker", "market", "outcome")
  private val group = Seq("game_id", "bookmaker")

  private var dir = ""
  private def hist = s"$dir/history"
  private def batchPath(snap: Int) = s"$dir/batch/$snap"
  private val latest = mutable.HashMap.empty[(Int, String, Int), (Long, Double)]
  private var pTrue: Array[Double] = Array.empty
  private var margin: Map[(Int, String), Double] = Map.empty
  private var historyRows = 0L
  private var lastBatchRows = 0L
  private var digest = new Gen.Digest
  private var inputsAtOp0 = ("", 0L)
  private var batchRows = 0L
  private var batches = 0

  private val schema = StructType(Seq(
    StructField("snapshot_ts", LongType, nullable = false),
    StructField("game_id", StringType), StructField("sport", StringType),
    StructField("commence_time", StringType),
    StructField("home_team", StringType), StructField("away_team", StringType),
    StructField("bookmaker", StringType), StructField("market", StringType),
    StructField("outcome", StringType), StructField("price", DoubleType)))

  private def gameId(g: Int) = f"g$g%04d"
  private def team(g: Int, side: Int) = s"team_${g}_${if (side == 0) "h" else "a"}"

  def build(d: String): Unit = {
    dir = d
    latest.clear()
    digest = new Gen.Digest
    batchRows = 0L
    batches = 0
    val r = Gen.rng(seed, "odds-world")
    pTrue = Array.fill(Games)(0.2 + 0.6 * r.nextDouble())
    margin = (for (g <- 0 until Games; b <- Books)
      yield (g, b) -> (0.02 + 0.05 * r.nextDouble())).toMap
    // snapshot 0 quotes every game; the history starts from it
    prepareSnap(0, full = true)
    Snapshots.appendCanonical(spark.read.parquet(batchPath(0)), hist)
    historyRows = lastBatchRows
  }

  /** Op `i` appends snapshot i + warmupOps + 1 (the warm-up runs ops
    * -warmupOps..-1 on the snapshots after snapshot 0).
    */
  def prepare(i: Int): Unit = {
    prepareSnap(i + warmupOps + 1, full = false)
    if (i == 0) inputsAtOp0 = (digest.hex, digest.rows)
  }

  private def prepareSnap(snap: Int, full: Boolean): Unit = {
    val r = Gen.rng(seed, "odds-snap", snap)
    val ts = 1700000000000L + snap * 60000L
    val rows = mutable.ArrayBuffer.empty[Row]
    for (g <- 0 until Games if full || r.nextDouble() < RefreshFrac) {
      pTrue(g) = math.min(0.85, math.max(0.15, pTrue(g) + 0.02 * (r.nextDouble() - 0.5)))
      for (b <- Books; side <- 0 to 1) {
        val p = if (side == 0) pTrue(g) else 1 - pTrue(g)
        val implied = math.min(0.97, math.max(0.03,
          p * (1 + margin((g, b))) + 0.04 * (r.nextDouble() - 0.5)))
        val dec = 1.0 / implied
        val price =
          if (b == DecimalBook) math.round(dec * 100) / 100.0
          else if (dec >= 2) math.round((dec - 1) * 100).toDouble
          else math.round(-100 / (dec - 1)).toDouble
        latest((g, b, side)) = (ts, price)
        digest.add(ts, g, b, side, price)
        rows += Row(ts, gameId(g), "basketball_nba", s"2026-01-${1 + g % 28}T19:00:00Z",
          team(g, 0), team(g, 1), b, "h2h", team(g, side), price)
      }
    }
    Gen.write(spark, rows.toSeq, schema, batchPath(snap))
    lastBatchRows = rows.size
    if (!full) { batchRows += rows.size; batches += 1 }
  }

  def op(i: Int, tr: Tracer): Unit = {
    val snap = i + warmupOps + 1
    val before = if (tr.active) tr.quiet(dirStats(hist)) else (0L, 0)
    tr.span("Snapshots.append") {
      Snapshots.appendCanonical(spark.read.parquet(batchPath(snap)), hist)
    }
    historyRows += lastBatchRows
    val view = tr.frame("Snapshots.latest")(
      Snapshots.latest(Snapshots.readCanonical(spark, hist), keyCols,
        "snapshot_ts"))()
    val priced = tr.frame("OddsFunctions")(view
      .withColumn("price_decimal", decimalize(col("price")))
      .withColumn("implied_prob", impliedProb(col("price_decimal"))))()
    val devigged = tr.frame("Devig")(Devig.power(
      Devig.proportional(priced, groupCols = group), groupCols = group))()
    val arb = tr.frame("Arb")(
      Arb.summary(devigged.withColumn("price", col("price_decimal"))))()
    val high = tr.frame("Ev")(Ev.highEv(Ev.enrich(devigged)))()
    tr.span("Output.write") {
      arb.write.mode("overwrite").parquet(s"$dir/out/arb")
      high.write.mode("overwrite").parquet(s"$dir/out/high_ev")
    }
    val compacts = Math.floorMod(i, CompactEvery) == CompactEvery - 1
    if (compacts) {
      tr.span("Snapshots.compact") {
        Snapshots.compact(spark, hist, keyCols, "snapshot_ts")
      }
      historyRows = latest.size
    }
    if (tr.active) tr.quiet {
      val (bytes, files) = dirStats(hist)
      tr.note("Snapshots.written_mb",
        (if (compacts) bytes else bytes - before._1) / 1e6)
      tr.note("Snapshots.history_files", files)
      tr.note("Snapshots.history_rows", historyRows.toDouble)
    }
  }

  /** (bytes, parquet files) under a table directory. */
  private def dirStats(path: String): (Long, Int) = {
    val fs = Option(new java.io.File(path).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
    (fs.map(_.length).sum, fs.length)
  }

  // ---- correctness: plain Scala over the generated snapshots ----

  private def dec(price: Double): Double =
    if (price <= 0 || math.abs(price) >= 100)
      (if (price > 0) price / 100.0 + 1.0 else 100.0 / -price + 1.0)
    else price

  private final case class Ref(dec: Double, implied: Double, devig: Double,
                               trueP: Double)

  private def reference(): Map[(String, String, String), Ref] = {
    val out = mutable.HashMap.empty[(String, String, String), Ref]
    for (g <- 0 until Games; b <- Books) {
      val ds = (0 to 1).map(s => dec(latest((g, b, s))._2))
      val imp = ds.map(1.0 / _)
      val tot = imp.sum
      val norm = imp.map(_ / tot)
      val adj = norm.map(math.pow(_, 1.0 / 1.05))
      val adjTot = adj.sum
      (0 to 1).foreach { s =>
        out((gameId(g), b, team(g, s))) =
          Ref(ds(s), imp(s), norm(s), adj(s) / adjTot)
      }
    }
    out.toMap
  }

  private def close(a: Double, b: Double): Boolean =
    math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))

  def check(i: Int): Option[String] = {
    val ref = reference()
    val rows = spark.read.parquet(hist).count()
    if (rows != historyRows)
      return Some(s"history has $rows rows, expected $historyRows")
    // arbitrage summary: one best-price row per (game, outcome)
    val arb = spark.read.parquet(s"$dir/out/arb").collect()
    if (arb.length != 2 * Games)
      return Some(s"arb summary has ${arb.length} rows, expected ${2 * Games}")
    val bestTotal = mutable.HashMap.empty[String, Double]
    for (g <- 0 until Games; s <- 0 to 1) {
      val best = Books.maxBy(b => (ref((gameId(g), b, team(g, s))).dec, -b.last.toInt))
      bestTotal(gameId(g)) = bestTotal.getOrElse(gameId(g), 0.0) +
        ref((gameId(g), best, team(g, s))).implied
    }
    for (row <- arb) {
      val g = row.getAs[String]("game_id")
      val o = row.getAs[String]("outcome")
      val b = row.getAs[String]("best_bookmaker")
      val want = Books.maxBy(bk => (ref((g, bk, o)).dec, -bk.last.toInt))
      val r = ref((g, b, o))
      if (b != want) return Some(s"arb $g/$o: best book $b, expected $want")
      if (!close(row.getAs[Double]("best_price"), r.dec) ||
          !close(row.getAs[Double]("devig_prob"), r.devig) ||
          !close(row.getAs[Double]("true_prob"), r.trueP))
        return Some(s"arb $g/$o: price or devig mismatch")
      val total = bestTotal(g)
      if (!close(row.getAs[Double]("total_implied"), total))
        return Some(s"arb $g: total_implied mismatch")
      val m = Option(row.get(row.fieldIndex("arbitrage_margin")))
      if (math.abs(total - 1.0) > 1e-9) {
        val want = if (total < 1) Some((1 - total) * 100) else None
        val ok = (m, want) match {
          case (None, None) => true
          case (Some(x: Double), Some(w)) => math.abs(x - w) <= 0.005 + 1e-9
          case _ => false
        }
        if (!ok) return Some(s"arb $g: margin $m, expected $want")
      }
    }
    // high-EV table: every (game, book, outcome) with ev >= 0.02
    val high = spark.read.parquet(s"$dir/out/high_ev").collect()
    val got = high.map { row =>
      (row.getAs[String]("game_id"), row.getAs[String]("bookmaker"),
        row.getAs[String]("outcome")) -> row
    }.toMap
    for ((k, r) <- ref) {
      val ev = r.trueP * (r.dec - 1.0) - (1.0 - r.trueP)
      if (math.abs(ev - 0.02) > 1e-9) {
        got.get(k) match {
          case None if ev >= 0.02 => return Some(s"high-EV row $k missing")
          case Some(_) if ev < 0.02 => return Some(s"high-EV row $k unexpected")
          case Some(row) =>
            val variance = r.trueP * math.pow(r.dec - 1.0 - ev, 2) +
              (1.0 - r.trueP) * math.pow(-1.0 - ev, 2)
            val b = r.dec - 1.0
            val full = if (b > 0) (b * r.trueP - (1.0 - r.trueP)) / b else 0.0
            val kelly = math.min(math.max(full, 0.0) * 0.5, 0.05)
            if (!close(row.getAs[Double]("ev"), ev) ||
                !close(row.getAs[Double]("ev_adj"), ev - 0.5 * variance) ||
                !close(row.getAs[Double]("kelly_fraction"), kelly))
              return Some(s"high-EV row $k: value mismatch")
          case None => ()
        }
      }
    }
    None
  }

  def inputs: Map[String, Any] = Map(
    "games" -> Games, "bookmakers" -> Books.size,
    "keys" -> Games * Books.size * 2,
    "refresh_frac" -> RefreshFrac,
    "batch_rows_mean" -> batchRows.toDouble / math.max(1, batches),
    "history_rows_last" -> historyRows,
    "compact_every_ops" -> CompactEvery,
    "input_rows_to_op0" -> inputsAtOp0._2,
    "input_sha256_to_op0" -> inputsAtOp0._1)

  def layerMetrics(tr: Tracer, ops: Seq[Int]): Map[String, Double] =
    Seq("Snapshots.written_mb", "Snapshots.history_files",
      "Snapshots.history_rows").map(k => k -> Layers.noteMean(tr, ops, k)).toMap
}
