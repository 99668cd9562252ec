package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import graft.operators.{Arb, Devig}

/** ScalaCheck generator sweep over null-bearing frames for the devig
  * and grouped-argmax operators (r3 verdict item 8) — locks the
  * pandas-vs-Spark null routing of SURVEY §7.4 as properties, not just
  * fixtures:
  *   - pandas NaN arrives in the engine as NULL (the ingest coercion
  *     rule), and `sum` then skips it exactly like pandas' skipna —
  *     so per-group devig totals ignore null rows;
  *   - devig guard: a group whose total is null or <= 0 passes implied
  *     probs through UNCHANGED (never a divide-by-zero/Infinity);
  *   - null rows normalize to null, never to a number;
  *   - grouped argmax: max non-null price wins; desc ordering puts
  *     nulls LAST, so null prices only survive in all-null groups; the
  *     tiebreak is the pinned (price desc, bookmaker asc).
  * Each property is checked row-for-row against a Scala-side model
  * over ~sampled random frames.
  */
class DevigArbPropertySpec extends SparkSpec {

  private def forSamples[A](gen: Gen[A], n: Int = 12)(body: A => Unit): Unit =
    Iterator.continually(gen.sample).flatten.take(n).foreach(body)

  // a frame: (game_id, row_id, implied_prob nullable) — negatives and
  // zeros included so the total<=0 guard branch is generated, nulls
  // model pandas NaN after ingest coercion
  private val probGen: Gen[Option[Double]] = Gen.frequency(
    6 -> Gen.chooseNum(0.01, 0.99).map(Some(_)),
    1 -> Gen.const(Some(0.0)),
    1 -> Gen.chooseNum(-0.5, -0.01).map(Some(_)),
    2 -> Gen.const(None))

  private val frameGen: Gen[Seq[(String, Int, Option[Double])]] = for {
    nGroups <- Gen.chooseNum(1, 4)
    rows <- Gen.sequence[Seq[Seq[(String, Int, Option[Double])]],
      Seq[(String, Int, Option[Double])]]((0 until nGroups).map { g =>
        for {
          n <- Gen.chooseNum(1, 5)
          ps <- Gen.listOfN(n, probGen)
        } yield ps.zipWithIndex.map { case (p, i) => (s"g$g", i, p) }
      })
  } yield rows.flatten

  private val probSchema = StructType(Seq(
    StructField("game_id", StringType),
    StructField("row_id", IntegerType),
    StructField("implied_prob", DoubleType)))

  private def toDf(rows: Seq[(String, Int, Option[Double])]) =
    spark.createDataFrame(
      java.util.Arrays.asList(rows.map(r =>
        Row(r._1, r._2, r._3.orNull)): _*),
      probSchema)

  private def outMap(df: org.apache.spark.sql.DataFrame, outCol: String)
      : Map[(String, Int), Option[Double]] =
    df.collect().map(r => (r.getString(0), r.getInt(1)) ->
      (if (r.isNullAt(r.fieldIndex(outCol))) None
       else Some(r.getDouble(r.fieldIndex(outCol))))).toMap

  test("property: proportional devig matches the null-skipping model") {
    forSamples(frameGen) { rows =>
      val got = outMap(Devig.proportional(toDf(rows)), "devig_prob")
      rows.groupBy(_._1).foreach { case (g, grp) =>
        val vals = grp.flatMap(_._3)
        val total = vals.sum
        grp.foreach { case (_, i, p) =>
          val expected =
            if (vals.isEmpty || total <= 0) p // guard: pass-through
            else p.map(_ / total)             // null stays null
          (got((g, i)), expected) match {
            case (None, None) =>
            case (Some(a), Some(b)) => assert(approx(a, b),
              s"group $g row $i: got $a expected $b (total=$total)")
            case (a, b) => fail(s"group $g row $i: got $a expected $b")
          }
        }
      }
    }
  }

  test("property: power devig sums to 1 per positive group, " +
      "passes degenerate groups through") {
    // power devig is only defined over non-negative probs (implied
    // probs); the model mirrors the two guarded normalization passes
    val nonNegFrame = frameGen.map(_.map { case (g, i, p) =>
      (g, i, p.map(math.abs)) })
    forSamples(nonNegFrame) { rows =>
      val got = outMap(Devig.power(toDf(rows)), "true_prob")
      rows.groupBy(_._1).foreach { case (g, grp) =>
        val vals = grp.flatMap(_._3)
        val total = vals.sum
        if (vals.nonEmpty && total > 0) {
          val adj = grp.map { case (_, _, p) =>
            p.map(v => math.pow(v / total, 1.0 / 1.05)) }
          val totalAdj = adj.flatten.sum
          grp.zip(adj).foreach { case ((_, i, p), a) =>
            val expected =
              if (totalAdj <= 0) p.map(_ / total) // fallback to norm
              else a.map(_ / totalAdj)
            (got((g, i)), expected) match {
              case (None, None) =>
              case (Some(x), Some(y)) => assert(approx(x, y),
                s"group $g row $i: got $x expected $y")
              case (x, y) => fail(s"group $g row $i: got $x expected $y")
            }
          }
          // the normalized group is a distribution: non-null sum ≈ 1
          val s = grp.flatMap(t => got((t._1, t._2))).sum
          if (totalAdj > 0) assert(approx(s, 1.0),
            s"group $g true_prob sums to $s, not 1")
        } else {
          // degenerate group (all-null or zero total): UNCHANGED
          // pass-through, nulls included. With total <= 0 the norm
          // pass already returns p; adj = p^(1/1.05) over zeros is 0,
          // so the second guard also falls back to norm = p.
          grp.foreach { case (_, i, p) =>
            (got((g, i)), p) match {
              case (None, None) =>
              case (Some(a), Some(b)) => assert(approx(a, b),
                s"group $g row $i: got $a expected pass-through $b")
              case (a, b) =>
                fail(s"group $g row $i: got $a expected pass-through $b")
            }
          }
        }
      }
    }
  }

  private val argmaxSchema = StructType(Seq(
    StructField("game_id", StringType),
    StructField("outcome", StringType),
    StructField("bookmaker", StringType),
    StructField("price", DoubleType)))

  private val argmaxGen: Gen[Seq[(String, String, String, Option[Double])]] =
    for {
      nGames <- Gen.chooseNum(1, 3)
      rows <- Gen.sequence[Seq[Seq[(String, String, String, Option[Double])]],
        Seq[(String, String, String, Option[Double])]](
        (for { g <- 0 until nGames; o <- Seq("home", "away") } yield for {
          // distinct bookmakers per (game, outcome): the tiebreak is
          // total only then (documented on parseMarket)
          nBooks <- Gen.chooseNum(1, 4)
          prices <- Gen.listOfN(nBooks, Gen.frequency(
            4 -> Gen.chooseNum(1.5, 3.5).map(Some(_)),
            1 -> Gen.const(None)))
          // coarsen to a 0.5 grid half the time so price TIES are
          // actually generated and the bookmaker tiebreak is exercised
          tie <- Gen.oneOf(true, false)
        } yield Seq("b1", "b2", "b3", "b4").take(nBooks).zip(prices)
          .map { case (b, p) =>
            (s"g$g", o, b,
              if (tie) p.map(v => math.rint(v * 2) / 2) else p)
          }))
    } yield rows.flatten

  test("property: grouped argmax picks max non-null price with the " +
      "pinned (price desc, bookmaker asc) tiebreak") {
    forSamples(argmaxGen) { rows =>
      val df = spark.createDataFrame(
        java.util.Arrays.asList(rows.map(r =>
          Row(r._1, r._2, r._3, r._4.orNull)): _*), argmaxSchema)
      val got = Arb.bestPrices(df).collect()
        .map(r => (r.getString(0), r.getString(1)) ->
          ((if (r.isNullAt(r.fieldIndex("best_price"))) None
            else Some(r.getDouble(r.fieldIndex("best_price")))),
            r.getString(r.fieldIndex("best_bookmaker")))).toMap
      rows.groupBy(t => (t._1, t._2)).foreach { case (key, grp) =>
        val nonNull = grp.filter(_._4.isDefined)
        val expected = if (nonNull.nonEmpty) {
          val maxP = nonNull.flatMap(_._4).max
          val winner = nonNull.filter(_._4.contains(maxP))
            .map(_._3).min // bookmaker asc on price ties
          (Some(maxP), winner)
        } else (None, grp.map(_._3).min) // all-null: nulls last, book asc
        assert(got(key) == expected,
          s"$key: got ${got(key)} expected $expected from $grp")
      }
    }
  }

  // ---- Arb.summary vs the groupBy + left-join formulation ----

  /** The former `Arb.summary`, kept here only as the oracle: per-game
    * groupBy margins joined back to the best-price rows on game_id.
    */
  private def joinedSummary(flattened: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val best = Arb.bestPrices(flattened)
    val m = best.groupBy(col("game_id"))
      .agg(sum(col("implied_prob")).as("total_implied"),
        count(lit(1)).as("n_outcomes"))
      .withColumn("arbitrage_margin",
        when(col("n_outcomes") === 2 && col("total_implied") < 1,
          round((lit(1.0) - col("total_implied")) * 100.0, 2)))
    best.join(m, Seq("game_id"), "left")
  }

  private val summarySchema = StructType(Seq(
    StructField("game_id", StringType),
    StructField("home_team", StringType),
    StructField("away_team", StringType),
    StructField("outcome", StringType),
    StructField("bookmaker", StringType),
    StructField("price", DoubleType),
    StructField("implied_prob", DoubleType)))

  private type OddsRow =
    (Option[String], String, String, Option[Double], Option[Double])

  /** (game_id, outcome, bookmaker, price, implied_prob) rows, teams
    * derived from the game id.
    */
  private def summaryInput(rows: Seq[OddsRow]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows.map {
      case (g, o, b, p, ip) =>
        Row(g.orNull, g.map(_ + "_h").orNull, g.map(_ + "_a").orNull,
          o, b, p.orNull, ip.orNull)
    }: _*), summarySchema)

  /** Same schema (names, order, types, nullability) and the same rows,
    * doubles to 1e-9 (window and grouped sums may add in another order).
    */
  private def assertSameSummary(in: DataFrame): Unit = {
    val got = Arb.summary(in)
    val want = joinedSummary(in)
    assert(got.schema == want.schema,
      s"schema\n${got.schema.treeString}\nvs oracle\n${want.schema.treeString}")
    def rows(df: DataFrame) = df.collect().map(_.toSeq)
      .sortBy(r => (String.valueOf(r.head), String.valueOf(r(3))))
    val (g, w) = (rows(got), rows(want))
    assert(g.length == w.length, s"${g.length} rows vs oracle ${w.length}")
    g.zip(w).foreach { case (a, b) =>
      val same = a.zip(b).forall {
        case (x: Double, y: Double) => approx(x, y)
        case (x, y) => x == y
      }
      assert(same, s"row $a vs oracle $b")
    }
  }

  test("summary: window margins equal the groupBy + left-join oracle " +
      "on 1/2/3-outcome games, ties, null prob and null game_id") {
    def q(p: Double) = (Some(p), Some(1.0 / p))
    val rows: Seq[OddsRow] = Seq(
      // 2 outcomes, best total < 1: a margin
      (Some("g2arb"), "home", "b1", q(2.2)),
      (Some("g2arb"), "home", "b2", q(2.1)),
      (Some("g2arb"), "away", "b1", q(1.9)),
      (Some("g2arb"), "away", "b3", q(2.3)),
      // 2 outcomes, total > 1: no margin
      (Some("g2vig"), "home", "b1", q(1.8)),
      (Some("g2vig"), "away", "b2", q(1.9)),
      // 3 outcomes, total < 1: the P8 guard leaves it null
      (Some("g3"), "home", "b1", q(3.5)),
      (Some("g3"), "away", "b1", q(3.6)),
      (Some("g3"), "draw", "b2", q(3.7)),
      // 1 outcome
      (Some("g1"), "home", "b1", q(1.5)),
      // a price tie across books: b1 wins, and its implied_prob (set
      // apart from the price on purpose) feeds the total
      (Some("gtie"), "home", "b2", (Some(2.5), Some(0.30))),
      (Some("gtie"), "home", "b1", (Some(2.5), Some(0.35))),
      (Some("gtie"), "away", "b3", q(2.4)),
      // a null implied_prob on a best row: the sum skips it
      (Some("gnull"), "home", "b1", (Some(2.6), None)),
      (Some("gnull"), "away", "b1", q(2.7)),
      // every implied_prob null: total and margin null
      (Some("gall"), "home", "b1", (Some(2.0), None)),
      (Some("gall"), "away", "b2", (Some(2.0), None)),
      // null game_id: best rows survive with null margin columns
      (None, "home", "b1", q(2.2)),
      (None, "away", "b2", q(2.2)),
      (None, "away", "b3", q(2.0))
    ).map { case (g, o, b, (p, ip)) => (g, o, b, p, ip) }
    assertSameSummary(summaryInput(rows))
    val m = Arb.summary(summaryInput(rows)).collect()
      .map(r => (Option(r.getString(0)), r.getAs[String]("outcome")) -> r).toMap
    val arb = m((Some("g2arb"), "home"))
    assert(arb.getAs[Long]("n_outcomes") == 2L)
    assert(approx(arb.getAs[Double]("arbitrage_margin"),
      math.rint((1 - (1 / 2.2 + 1 / 2.3)) * 10000) / 100))
    assert(approx(m((Some("gtie"), "home")).getAs[Double]("total_implied"),
      0.35 + 1 / 2.4))
    Seq("total_implied", "n_outcomes", "arbitrage_margin").foreach { c =>
      assert(m((None, "home")).isNullAt(m((None, "home")).fieldIndex(c)), c)
    }
  }

  test("property: summary equals the groupBy + left-join oracle") {
    val gen = argmaxGen.flatMap { rows =>
      Gen.sequence[Seq[OddsRow], OddsRow](rows.map { case (g, o, b, p) =>
        for {
          nullGame <- Gen.frequency(9 -> false, 1 -> true)
          drawRow <- Gen.frequency(9 -> false, 1 -> true)
        } yield (if (nullGame) None else Some(g),
          if (drawRow) "draw" else o, b, p, p.map(1.0 / _))
      })
    }
    forSamples(gen) { rows =>
      // (game, outcome, book) stays unique so the argmax is total
      assertSameSummary(summaryInput(
        rows.groupBy(r => (r._1, r._2, r._3)).values.map(_.head).toSeq))
    }
  }
}
