package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantic specs for the round-13 fourth-session batch
  * (join_asof_tolerance, agg_hurst; graph_random_walk is in GraphSpec).
  */
class Round13dSpec extends AnyFunSuite with SparkFixture {

  test("join_asof_tolerance: staleness bound enforced, agrees with asof") {
    val sp = spark
    val tol = SparkEntry.queries("join_asof_tolerance")(sp, sf0001)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(tol.size == Tables.events(sp, sf0001).count())
    tol.values.foreach { r =>
      if (!r.isNullAt(r.fieldIndex("last_orderkey"))) {
        val d = r.getAs[Int]("days_stale")
        assert(d >= 0 && d <= 30, s"stale match leaked: $r")
      }
    }
    // against the unbounded asof: a fresh match is identical, a stale
    // one (>30 days) must have been dropped to null
    SparkEntry.queries("join_asof")(sp, sf0001).collect().foreach { a =>
      val t = tol(a.getLong(0))
      if (a.isNullAt(a.fieldIndex("last_orderkey"))) {
        assert(t.isNullAt(t.fieldIndex("last_orderkey")))
      } else if (!t.isNullAt(t.fieldIndex("last_orderkey"))) {
        // matched in both: must be the same order (the bound only drops)
        assert(t.getAs[Long]("last_orderkey") ==
          a.getAs[Long]("last_orderkey"))
      }
    }
  }

  test("agg_hurst: one shared H, memoryless corpus reads near 0.5") {
    val rows = SparkEntry.queries("agg_hurst")(spark, sf0001).collect()
    assert(rows.map(_.getAs[Long]("n")).toSeq == Seq(16L, 48L, 144L))
    // 30 days -> 720 hourly buckets -> complete blocks per size
    assert(rows.map(_.getAs[Long]("n_blocks")).toSeq == Seq(45L, 15L, 5L))
    val hs = rows.map(_.getAs[Long]("h_milli")).distinct
    assert(hs.length == 1, "H must be the shared 3-point OLS slope")
    assert(hs.head > 200 && hs.head < 800,
      s"memoryless arrivals should read H near 0.5, got ${hs.head}")
    // R/S grows with block size: the ln(R/S) means must be increasing
    val ms = rows.map(_.getAs[Long]("mean_lnrs2_micro"))
    assert(ms(0) < ms(1) && ms(1) < ms(2))
  }
}
