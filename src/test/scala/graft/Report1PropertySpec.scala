package graft

import graft.ops.Report1
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property tests over randomized minute bars (SURVEY.md §5.2): structural
  * invariants of the OHLCV report that must hold for ANY input, not just
  * the golden fixture.
  */
class Report1PropertySpec extends SparkSpec {
  import spark.implicits._

  /** Deterministic sampling (no scalatest-scalacheck bridge in the offline
    * cache): fixed seeds -> reproducible cases.
    */
  private def forAllSeeded[A](gen: Gen[A], n: Int = 8)(body: A => Unit): Unit =
    (1 to n).foreach { i =>
      gen(Gen.Parameters.default, Seed(42L + i)).foreach(body)
    }

  private case class Bar(isin: String, date: String, time: String,
      start: Double, end: Double, min: Double, max: Double, vol: Long)

  private val genBar: Gen[Bar] = for {
    isin <- Gen.oneOf("AAA111", "BBB222", "CCC333")
    day <- Gen.choose(1, 9)
    hour <- Gen.choose(0, 23)
    minute <- Gen.choose(0, 59)
    px <- Gen.choose(1.0, 500.0)
    spread <- Gen.choose(0.0, 10.0)
    vol <- Gen.choose(1L, 10000L)
  } yield Bar(isin, f"2021-04-0$day", f"$hour%02d:$minute%02d",
    math.rint(px * 100) / 100, math.rint((px + spread / 2) * 100) / 100,
    math.rint((px - spread) * 100) / 100, math.rint((px + spread) * 100) / 100,
    vol)

  private val genBars: Gen[List[Bar]] =
    Gen.chooseNum(1, 120).flatMap(n => Gen.listOfN(n, genBar))

  test("OHLC invariants hold for arbitrary minute bars") {
    forAllSeeded(genBars) { bars =>
      if (bars.nonEmpty) {
        val df = bars
          .map(b => (b.isin, "MNEM", b.date, b.time, b.start, b.end, b.min, b.max, b.vol))
          .toDF("ISIN", "Mnemonic", "Date", "Time", "StartPrice", "EndPrice",
            "MinPrice", "MaxPrice", "TradedVolume")
        val out = Report1.transform(df, extractDate = "2021-04-01").collect()

        // one output row per (ISIN, Date)
        val keys = out.map(r => (r.getString(0), r.getString(1)))
        assert(keys.distinct.length == keys.length)
        assert(keys.toSet == bars.map(b => (b.isin, b.date)).toSet)

        val byKey = bars.groupBy(b => (b.isin, b.date))
        out.foreach { r =>
          val group = byKey((r.getString(0), r.getString(1)))
          val open = r.getDouble(2); val close = r.getDouble(3)
          val lo = r.getDouble(4); val hi = r.getDouble(5)
          val vol = r.getLong(6)
          // volume is the exact integral sum
          assert(vol == group.map(_.vol).sum)
          // low/high bound every price of the group (bround(2) is identity
          // on these 2-decimal inputs)
          assert(lo == group.map(_.min).min)
          assert(hi == group.map(_.max).max)
          // open/close are start prices of some bar of the group
          assert(group.exists(b => b.start == open))
          assert(group.exists(b => b.start == close))
          // with distinct Times, open/close are exactly the first/last
          // bar's start price (tied Times leave the pick ambiguous)
          if (group.map(_.time).distinct.length == group.length) {
            assert(open == group.minBy(_.time).start)
            assert(close == group.maxBy(_.time).start)
          }
          assert(lo <= open && open <= hi && lo <= close && close <= hi)
        }

        // pct change: null exactly on each ISIN's first date
        val firstDates = bars.groupBy(_.isin).map { case (i, bs) =>
          i -> bs.map(_.date).min }
        out.foreach { r =>
          val isNullPct = r.isNullAt(7)
          val isFirst = firstDates(r.getString(0)) == r.getString(1)
          assert(isNullPct == isFirst,
            s"pct null=$isNullPct but first-date=$isFirst for ${r.getString(0)} ${r.getString(1)}")
        }
      }
    }
  }

  test("extract-date filter drops earlier days but they still feed the lag") {
    forAllSeeded(genBars) { bars =>
      if (bars.map(_.date).distinct.length >= 2) {
        val df = bars
          .map(b => (b.isin, "M", b.date, b.time, b.start, b.end, b.min, b.max, b.vol))
          .toDF("ISIN", "Mnemonic", "Date", "Time", "StartPrice", "EndPrice",
            "MinPrice", "MaxPrice", "TradedVolume")
        val cut = bars.map(_.date).distinct.sorted.apply(1)
        val out = Report1.transform(df, extractDate = cut).collect()
        assert(out.forall(_.getString(1) >= cut))
        // any ISIN with a day before `cut` must have non-null pct on its
        // first kept date (the lag was fed by the dropped day)
        val hadEarlier = bars.groupBy(_.isin)
          .collect { case (i, bs) if bs.exists(_.date < cut) => i }.toSet
        val firstKept = out.groupBy(_.getString(0)).map { case (i, rs) =>
          i -> rs.minBy(_.getString(1)) }
        firstKept.foreach { case (isin, row) =>
          if (hadEarlier(isin)) assert(!row.isNullAt(7))
        }
      }
    }
  }
}
