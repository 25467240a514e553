package graft.operators

import org.apache.spark.sql.DataFrame

import graft.SparkSpec

/** Pins the CF auto regime switch (r12 verdict item 2): the
  * pre-flight's measured numbers, the budget routing across all
  * three regimes on engineered whale baskets, and row-for-row
  * equality of each route's output with the arm it claims to be
  * (q199/q211/q227's contracts). The exact arm's values themselves
  * are hash-gated against DuckDB by q290/q199.
  */
class ItemItemCfSpec extends SparkSpec {
  import spark.implicits._

  // 3 whale users with 40-item baskets over a shared catalog slice
  // (pairwise overlap keeps cosines non-trivial) + 27 normal users
  // with 4-item baskets
  private lazy val pos: DataFrame = {
    val whales = for {
      u <- 1 to 3
      p <- 1 to 40
    } yield (u.toLong, (p + u * 10).toLong)
    val tail = for {
      u <- 4 to 30
      p <- 1 to 4
    } yield (u.toLong, (u * 7 % 50 + p).toLong)
    (whales ++ tail).toDF("u", "p")
  }

  private val exactPairs = 3L * (40 * 39 / 2) + 27L * (4 * 3 / 2)
  private val cappedPairs = 3L * (8 * 7 / 2) + 27L * (4 * 3 / 2)

  test("preflight measures the basket profile exactly and routes on " +
    "the budgets") {
    val pf = ItemItemCf.preflight(pos, cap = 8,
      exactBudget = 10000L, cappedBudget = 10000L)
    assert(pf.pairRowsExact === exactPairs)   // 2340 + 162 = 2502
    assert(pf.pairRowsCapped === cappedPairs) // 84 + 162 = 246
    assert(pf.maxBasket === 40L)
    assert(pf.nBaskets === 30L)
    assert(pf.regime === "exact")
    assert(ItemItemCf.preflight(pos, 8, exactPairs - 1, 10000L)
      .regime === "capped")
    assert(ItemItemCf.preflight(pos, 8, exactPairs - 1, cappedPairs - 1)
      .regime === "capped_dimsum")
  }

  private def rows(df: DataFrame): Seq[(Long, Int, Long, Double)] =
    df.select("part", "rank", "similar", "cosine")
      .as[(Long, Int, Long, Double)].collect().toSeq.sorted

  test("auto under each budget regime returns EXACTLY that arm's " +
    "output, stamped with the decision") {
    val a1 = ItemItemCf.auto(pos, cap = 8,
      exactBudget = 10000L, cappedBudget = 10000L)
    assert(a1.select("regime").distinct().as[String].head() === "exact")
    assert(rows(a1) === rows(ItemItemCf.exact(pos)))

    val a2 = ItemItemCf.auto(pos, cap = 8,
      exactBudget = 100L, cappedBudget = 10000L)
    assert(a2.select("regime").distinct().as[String].head() === "capped")
    assert(rows(a2) === rows(ItemItemCf.capped(pos, cap = 8)))

    val a3 = ItemItemCf.auto(pos, cap = 8,
      exactBudget = 100L, cappedBudget = 100L)
    assert(a3.select("regime").distinct().as[String].head()
      === "capped_dimsum")
    assert(rows(a3) === rows(ItemItemCf.dimsum(pos, cap = Some(8))))
    // decision columns ride every row
    assert(a3.select("pair_rows_exact").distinct().as[Long].head()
      === exactPairs)
    assert(a3.select("max_basket").distinct().as[Long].head() === 40L)
  }

  test("capped arm's pair stream is bounded by the cap even when " +
    "baskets are whales: every item appears in at most cap-sized " +
    "per-user sets") {
    // behavioral bound, not a plan assertion: the capped positives
    // per user never exceed cap, so its Σ pairs is the capped number
    val pf = ItemItemCf.preflight(pos, cap = 8, 1L, Long.MaxValue)
    assert(pf.regime === "capped")
    assert(pf.pairRowsCapped <= 30L * (8 * 7 / 2))
  }
}
