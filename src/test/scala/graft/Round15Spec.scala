package graft

import org.scalatest.funsuite.AnyFunSuite

/** Round-15 regression pins for the r14 ADVICE findings: source-only
  * Markov states (engine/oracle row-set alignment). The NN-descent
  * rounds-constant pin lives in AnnRecallSpec and the counted-window
  * retime valve in BenchSpec.
  */
class Round15Spec extends AnyFunSuite with SparkFixture {

  test("agg_markov_stationary: source-only state stays in BOTH engine " +
    "and oracle output") {
    val sp = spark
    import sp.implicits._
    import java.sql.Timestamp
    // 's' appears ONLY as a transition source (the user's first event,
    // never a target): rowSum(s) = 1, colSum(s) = 0. Pre-fix the Scala
    // side emitted (s, 1, 0) while the oracle's inner-join power chain
    // narrowed x's row set to transition TARGETS after step 1, so the
    // final `JOIN rs ON rs.a = x4.t` dropped the row — a row-count
    // mismatch on exactly this fixture (ADVICE r14 medium). The aligned
    // semantics: every SOURCE state gets an output row; a source-only
    // state's stationary mass is 0 (nothing transitions into it).
    val ev = Seq(
      (1L, Timestamp.valueOf("2024-01-05 10:00:00"), 1L, "s", 1.0, "{}"),
      (2L, Timestamp.valueOf("2024-01-05 10:01:00"), 1L, "a", 1.0, "{}"),
      (3L, Timestamp.valueOf("2024-01-05 10:02:00"), 1L, "a", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = graft.Scratch.fresh("markov_source_only_spec")
    ev.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = SparkEntry.queries("agg_markov_stationary")(sp, dir)
      .collect()
    assert(out.length == 2, out.mkString("; "))
    // pairs: (s,a), (a,a); types sorted [a, s]; x0 = [5000, 5000];
    // x1(a) = (5000·10000 + 5000·10000)/10000 = 10000, x1(s) = 0; the
    // fixpoint holds through x4.
    assert(out(0).getString(0) == "a" && out(0).getLong(1) == 1L &&
      out(0).getLong(2) == 10000L, out(0).toString)
    assert(out(1).getString(0) == "s" && out(1).getLong(1) == 1L &&
      out(1).getLong(2) == 0L, out(1).toString)
  }

  test("text_bm25_topk: scores positive, ranks dense 1..5 per query, " +
    "and higher-tf docs never rank below lower-tf docs of equal length") {
    val out = SparkEntry.queries("text_bm25_topk")(
      spark, "/root/testdata/sf0.001").collect()
    assert(out.length == 50, s"expected 10 queries x top-5, got ${out.length}")
    val byTerm = out.groupBy(_.getString(0))
    assert(byTerm.size == 10)
    byTerm.foreach { case (term, rows) =>
      assert(rows.map(_.getInt(1)).sorted.toSeq == (1 to 5),
        s"$term ranks not dense")
      // BM25 with the ln(1 + ...) idf is strictly positive
      rows.foreach(r => assert(r.getDouble(3) > 0, s"$term ${r}"))
      // scores non-increasing in rank
      val sc = rows.sortBy(_.getInt(1)).map(_.getDouble(3))
      assert(sc.zip(sc.tail).forall { case (a, b) => a >= b }, term)
    }
  }

  test("sample_dsir: no target-domain docs selected, scores " +
    "non-increasing, and a planted target-vocab doc outranks an " +
    "off-domain doc") {
    val sp = spark
    import sp.implicits._
    // 3 target docs define the domain vocabulary; raw docs: one written
    // in target vocab, one in disjoint vocab. The in-domain doc must
    // score strictly higher (per-bucket log-ratios are positive exactly
    // on target-heavy buckets).
    val docs = Seq(
      (1L, "alpha beta gamma alpha beta", "en", "src0", 0L),
      (2L, "beta gamma alpha gamma", "en", "src0", 0L),
      (3L, "alpha alpha beta gamma", "en", "src0", 0L),
      (4L, "alpha beta gamma beta", "en", "src1", 0L),
      (5L, "zeta eta theta iota kappa", "en", "src2", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = graft.Scratch.fresh("dsir_spec")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("sample_dsir")(sp, dir).collect()
    assert(out.forall(_.getString(2) != "src0"), "target docs leaked")
    assert(out.length == 2)
    val byDoc = out.map(r => r.getLong(1) -> r.getLong(4)).toMap
    assert(byDoc(4L) > byDoc(5L),
      s"in-domain doc must outrank off-domain: $byDoc")
    assert(out(0).getLong(1) == 4L && out(0).getInt(0) == 1)
  }
}
