package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantic specs for sql_tvf_lateral, text_char_entropy and later
  * round-13 keys (graph_walk_pairs is in GraphSpec).
  */
class Round13gSpec extends AnyFunSuite with SparkFixture {

  test("sql_tvf_lateral: stack legs mirror the words frame, range leg exact") {
    val rows = SparkEntry.queries("sql_tvf_lateral")(spark, sf0001)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(rows.keySet == Set("wordlen", "position", "range_mass"))
    assert(rows("range_mass") == ((4950L, 100L)))
    // both stack legs unpivot the SAME words frame: equal row counts
    assert(rows("wordlen")._2 == rows("position")._2)
    val nWords = Tables.documents(spark, sf0001)
      .filter(col("doc_id") < 20)
      .select(size(split(col("text"), " ")).as("n"))
      .collect().map(_.getInt(0).toLong).sum
    assert(rows("wordlen")._2 == nWords)
  }

  test("text_char_entropy: bounded by ln of alphabet size, census exact") {
    val rows = SparkEntry.queries("text_char_entropy")(spark, sf0001)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val h = r.getAs[Long]("ent_nat_micro")
      val k = r.getAs[Long]("n_distinct_chars")
      assert(h > 0, "natural text has positive entropy")
      assert(h <= math.ceil(math.log(k.toDouble) * 1e6).toLong,
        s"H must be <= ln(alphabet): $r")
    }
    val totalChars = Tables.documents(spark, sf0001)
      .select(length(col("text"))).collect().map(_.getInt(0).toLong).sum
    assert(rows.map(_.getAs[Long]("n_chars")).sum == totalChars)
  }

  test("mix_largest_remainder: quotas sum EXACTLY to budget, off floor by <=1") {
    val rows = SparkEntry.queries("mix_largest_remainder")(spark, sf0001)
      .collect()
    assert(rows.map(_.getAs[Long]("quota")).sum == 100000L)
    rows.foreach { r =>
      val d = r.getAs[Long]("quota") - r.getAs[Long]("floor_q")
      assert(d == 0L || d == 1L, "each source gets floor or floor+1")
    }
    // the +1 seats go to the largest remainders
    val bumped = rows.filter(r =>
      r.getAs[Long]("quota") > r.getAs[Long]("floor_q"))
      .map(_.getAs[Long]("rem"))
    val kept = rows.filter(r =>
      r.getAs[Long]("quota") == r.getAs[Long]("floor_q"))
      .map(_.getAs[Long]("rem"))
    if (bumped.nonEmpty && kept.nonEmpty)
      assert(bumped.min >= kept.max,
        "largest remainders must be served first")
  }

  test("text_lsa_topics: loadings normalized, ranked, deterministic") {
    val rows = SparkEntry.queries("text_lsa_topics")(spark, sf0001)
      .collect()
    assert(rows.length == 10)
    assert(rows.map(_.getAs[Int]("rank")).toSeq == (1 to 10))
    val ls = rows.map(_.getAs[Long]("loading"))
    // L-inf renormalized: the top loading is exactly 1e6, all bounded
    assert(ls.map(math.abs).max == 1000000L)
    assert(ls.forall(l => math.abs(l) <= 1000000L))
    // ranked by |loading| descending
    val a = ls.map(math.abs)
    assert(a.zip(a.tail).forall { case (x, y) => x >= y })
    val again = SparkEntry.queries("text_lsa_topics")(spark, sf0001)
      .collect()
    assert(rows.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
  }

  test("mm_phash_cluster: components recover the 5 planted pattern classes") {
    val rows = SparkEntry.queries("mm_phash_cluster")(spark, sf0001)
      .collect()
    // 100 fixture images in 5 interference-pattern classes
    assert(rows.map(_.getAs[Long]("n_images")).sum == 100L)
    assert(rows.length == 5, s"expected the 5 planted classes: ${rows.toSeq}")
    rows.foreach { r =>
      assert(r.getAs[Long]("n_images") == 20L)
      assert(r.getAs[Long]("n_corrupted") == 5L,
        "every 4th image is corrupted, 5 per class")
    }
  }

  test("ml_learning_curve: fractions nest, test half fixed, curve sane") {
    val rows = SparkEntry.queries("ml_learning_curve")(spark, sf0001)
      .collect()
    assert(rows.map(_.getAs[Long]("divisor")).toSeq == Seq(1L, 2L, 4L))
    val nt = rows.map(_.getAs[Long]("n_train"))
    // nested subsets: each divisor roughly halves the train mass
    assert(nt(0) > nt(1) && nt(1) > nt(2))
    val tests = rows.map(_.getAs[Long]("n_test")).distinct
    assert(tests.length == 1, "test half must be identical across legs")
    rows.foreach { r =>
      val a = r.getAs[Long]("acc_pm")
      assert(a >= 0 && a <= 10000)
    }
  }

  test("sql_pivot_surface: pivot cells match direct conditional counts") {
    val sp = spark
    val rows = SparkEntry.queries("sql_pivot_surface")(sp, sf0001)
      .collect()
    assert(rows.length == 10)
    val total = rows.map(r => (1 to 5).map(r.getLong(_)).sum).sum
    assert(total == Tables.events(sp, sf0001).count(),
      "pivot cells must partition the event stream")
  }
}
