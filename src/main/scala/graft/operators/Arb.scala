package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Best-price selection and arbitrage detection.
  *
  *   - A2/A3 grouped argmax (best price per game+outcome):
  *     `src/analysis.py:68-70`, `web/app.py:39-43`
  *   - A4 arbitrage margin with the exactly-two-outcome guard (P8):
  *     `src/analysis.py:39-52,64-94`, `web/app.py:44-48`
  *
  * pandas `idxmax` keeps the first row in frame order on ties; Spark
  * row order is not stable, so the tiebreak is pinned to the lowest
  * bookmaker (SURVEY §7.4) — deterministic under any partitioning, and
  * the DuckDB oracle uses the same ORDER BY.
  */
object Arb {

  /** A2: one row per (game_id, outcome): the max-price row with its
    * bookmaker. Delegates to [[graft.operators.Flatten.parseMarket]] —
    * ONE home for the grouped-argmax window and its pinned tiebreak
    * (price desc, bookmaker asc; SURVEY §7.4) — then applies the
    * summary-shape renames.
    */
  def bestPrices(df: DataFrame, priceCol: String = "price"): DataFrame =
    Flatten.parseMarket(df, priceCol)
      .withColumnRenamed("bookmaker", "best_bookmaker")
      .withColumnRenamed(priceCol, "best_price")

  /** P8 (`src/analysis.py:44-51`): the margin is defined only when
    * the market has exactly 2 outcomes and `total < 1`, reported as
    * `(1-total)*100` rounded to 2. The one home of the rule for
    * [[margins]] and [[summary]].
    */
  private def marginRule(total: Column, nOutcomes: Column): Column =
    when(nOutcomes === 2 && total < 1,
      round((lit(1.0) - total) * 100.0, 2))

  /** A4: per-game arbitrage summary over best-price rows.
    * `total = Σ implied_prob` of the best prices, with the P8 margin
    * ([[marginRule]]). Emits the `web/app.py:50-71` summary shape.
    */
  def margins(bestPriceRows: DataFrame,
              impliedCol: String = "implied_prob"): DataFrame =
    bestPriceRows
      .groupBy(col("game_id"))
      .agg(
        first(col("home_team")).as("home_team"),
        first(col("away_team")).as("away_team"),
        sum(col(impliedCol)).as("total_implied"),
        count(lit(1)).as("n_outcomes"))
      .withColumn("arbitrage_margin",
        marginRule(col("total_implied"), col("n_outcomes")))

  /** Full flagship summary (`web/app.py:36-71`): every best-price row
    * carries its game's `total_implied`, `n_outcomes` and
    * `arbitrage_margin` — [[margins]]' values as window aggregates over
    * `partitionBy(game_id)`, so no join back. Rows with a null
    * `game_id` get null margin columns, as a left join on `game_id`
    * would give them. Columns are `game_id`, the other best-price
    * columns, then the three margin columns.
    *
    * Plan shape (pinned in `PlanAuditSpec`): on an input already
    * hash-partitioned on `game_id` — [[graft.sources.Snapshots.latest]]'s
    * output, or any frame after a `game_id`-only window — the
    * best-price window and the per-game window add no exchange, so
    * latest → devig → summary plans one exchange (the history's) and
    * no join. On any other input they take two: `parseMarket`'s
    * `(game_id, outcome)` hash, then this window's `game_id` hash.
    */
  def summary(flattened: DataFrame,
              impliedCol: String = "implied_prob"): DataFrame = {
    val best = bestPrices(flattened)
    val game = Window.partitionBy(col("game_id"))
    val keyed = col("game_id").isNotNull
    best
      .select("game_id", best.columns.filter(_ != "game_id").toIndexedSeq: _*)
      .withColumn("total_implied", when(keyed, sum(col(impliedCol)).over(game)))
      .withColumn("n_outcomes", when(keyed, count(lit(1)).over(game)))
      .withColumn("arbitrage_margin",
        marginRule(col("total_implied"), col("n_outcomes")))
  }
}
