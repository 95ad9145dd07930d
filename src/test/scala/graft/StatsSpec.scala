package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Hand-checkable verification of the closed-form statistics operators
  * (regression, moments) and the interval-overlap join — values the
  * DuckDB oracle also covers at corpus scale, pinned here on inputs
  * small enough to verify by hand.
  */
class StatsSpec extends AnyFunSuite with SparkFixture {

  test("regression moments recover an exact linear relationship") {
    val sp = spark
    import sp.implicits._
    // y = 3x + 7 exactly: slope 3, intercept 7, r2 = 1.
    val df = Seq((1.0, 10.0), (2.0, 13.0), (3.0, 16.0), (4.0, 19.0),
      (5.0, 22.0)).toDF("x", "y").withColumn("g", lit("a"))
    val m = df.groupBy("g").agg(
      count(lit(1)).cast("double").as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"))
    val cxy = col("n") * col("sxy") - col("sx") * col("sy")
    val vx = col("n") * col("sxx") - col("sx") * col("sx")
    val vy = col("n") * col("syy") - col("sy") * col("sy")
    val r = m.select(round(cxy / vx, 6).as("slope"),
        round((col("sy") - (cxy / vx) * col("sx")) / col("n"), 6).as("icept"),
        round(cxy * cxy / (vx * vy), 6).as("r2"))
      .collect()(0)
    assert(r.getDouble(0) == 3.0 && r.getDouble(1) == 7.0 &&
      r.getDouble(2) == 1.0)
  }

  test("spearmanRho: monotone pairs hit ±1, ties use average ranks") {
    val sp = spark
    import sp.implicits._
    // Strictly monotone (nonlinear) association is exactly +1 / −1.
    val up = Seq((1L, 10L), (2L, 20L), (3L, 40L), (4L, 80L))
      .toDF("x", "y")
    assert(api.Quality.spearmanRho(up, col("x"), col("y"))
      .collect()(0).getDouble(1) == 1.0)
    assert(api.Quality.spearmanRho(up, col("x"), lit(0L) - col("y"))
      .collect()(0).getDouble(1) == -1.0)
    // Ties take average ranks: x=(1,1,2,3) → ranks (1.5,1.5,3,4),
    // y=(5,7,7,9) → (1,2.5,2.5,4); Pearson over them = 15/18.
    val tied = Seq((1L, 5L), (1L, 7L), (2L, 7L), (3L, 9L)).toDF("x", "y")
    val r = api.Quality.spearmanRho(tied, col("x"), col("y")).collect()(0)
    assert(r.getLong(0) == 4L)
    assert(r.getDouble(1) == math.rint(15.0 / 18.0 * 1e4) / 1e4,
      s"got ${r.getDouble(1)}")
  }

  test("central moments: symmetric data has zero skewness, known variance") {
    val sp = spark
    import sp.implicits._
    // {1,2,3,4,5}: mean 3, m2 = 2, m3 = 0, m4 = 6.8 ⇒ kurt = 6.8/4 - 3.
    val df = Seq(1.0, 2.0, 3.0, 4.0, 5.0).toDF("x").withColumn("g", lit("a"))
    val m = df.groupBy("g").agg(
      count(lit(1)).cast("double").as("n"),
      sum(col("x")).as("s1"), sum(col("x") * col("x")).as("s2"),
      sum(col("x") * col("x") * col("x")).as("s3"),
      sum(col("x") * col("x") * col("x") * col("x")).as("s4"))
    val mean = col("s1") / col("n")
    val m2 = col("s2") / col("n") - mean * mean
    val m3 = col("s3") / col("n") - lit(3.0) * mean * (col("s2") / col("n")) +
      lit(2.0) * mean * mean * mean
    val m4 = col("s4") / col("n") - lit(4.0) * mean * (col("s3") / col("n")) +
      lit(6.0) * mean * mean * (col("s2") / col("n")) -
      lit(3.0) * mean * mean * mean * mean
    val r = m.select(round(m2, 6).as("v"), round(m3, 6).as("m3"),
        round(m4 / (m2 * m2) - lit(3.0), 6).as("k"))
      .collect()(0)
    assert(r.getDouble(0) == 2.0)
    assert(r.getDouble(1) == 0.0)
    assert(math.abs(r.getDouble(2) - (6.8 / 4.0 - 3.0)) < 1e-9)
  }

  test("intervalOverlap equals the naive theta join, pairs exactly once") {
    val sp = spark
    import sp.implicits._
    // Boundary zoo: touching endpoints (no overlap under half-open),
    // containment, identical intervals, bin-straddling spans.
    val a = Seq((1L, 0L, 100L), (2L, 100L, 200L), (3L, 50L, 350L),
      (4L, 400L, 401L)).toDF("aid", "alo", "ahi")
    val b = Seq((10L, 99L, 101L), (11L, 200L, 300L), (12L, 0L, 100L),
      (13L, 350L, 400L), (14L, 50L, 350L)).toDF("bid", "blo", "bhi")
    val got = api.Joins.intervalOverlap(
        a, col("aid"), col("alo"), col("ahi"),
        b, col("bid"), col("blo"), col("bhi"), binWidth = 64L)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val naive = a.crossJoin(b)
      .filter(col("alo") < col("bhi") && col("blo") < col("ahi"))
      .collect().map(r => (r.getLong(0), r.getLong(3))).toSet
    assert(got.toSet == naive, s"got ${got.toSet} want $naive")
    assert(got.length == got.toSet.size, "a pair was emitted twice")
    // Spot facts: touching [0,100) and [100,200) do NOT overlap; the
    // wide [50,350) catches 99-101, 200-300, 0-100 copies, and itself.
    assert(!naive.contains((1L, 11L)) && naive.contains((3L, 14L)))
  }

  test("bfs: hand graph distances, early exit, hop cap") {
    val sp = spark
    import sp.implicits._
    // Path 1-2-3-4-5 with a branch 2-6; node 9 isolated via edge 9-10.
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (2L, 6L),
      (9L, 10L)).toDF("a", "b")
    val g = api.Graph.undirected(edges, col("a"), col("b"))
    val d = api.Graph.bfs(g, source = 1L, maxHops = 10)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(d == Map(1L -> 0, 2L -> 1, 3L -> 2, 6L -> 2, 4L -> 3, 5L -> 4))
    // Hop cap truncates the frontier expansion.
    val capped = api.Graph.bfs(g, source = 1L, maxHops = 2)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(capped == Map(1L -> 0, 2L -> 1, 3L -> 2, 6L -> 2))
  }

  test("sssp takes the lighter 2-hop path over the heavy direct edge") {
    val sp = spark
    import sp.implicits._
    // 1-3 direct costs 10; 1-2-3 costs 2+3=5. 3-4 extends to 5+1=6.
    val edges = Seq((1L, 3L, 10L), (1L, 2L, 2L), (2L, 3L, 3L), (3L, 4L, 1L))
      .toDF("a", "b", "w")
    val d = api.Graph.sssp(edges, col("a"), col("b"), col("w"),
        source = 1L, maxHops = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d == Map(1L -> 0L, 2L -> 2L, 3L -> 5L, 4L -> 6L))
    // With a 1-hop cap the heavy direct edge is the best available.
    val capped = api.Graph.sssp(edges, col("a"), col("b"), col("w"),
        source = 1L, maxHops = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(capped(3L) == 10L)
  }

  test("agg_ewma fold equals the closed-form decayed sum") {
    val sp = spark
    import sp.implicits._
    // One user, values 8, 4, 2 in time order: fold = (8*0.5+4)*0.5+2 = 6.
    val df = Seq((1L, 10L, 8.0), (1L, 20L, 4.0), (1L, 30L, 2.0))
      .toDF("u", "mu", "v")
    val got = df.groupBy("u")
      .agg(transform(array_sort(collect_list(struct(col("mu"), col("v")))),
        x => x.getField("v")).as("vs"))
      .select(aggregate(slice(col("vs"), lit(2), size(col("vs")) - 1),
        element_at(col("vs"), 1),
        (acc, v) => acc * lit(0.5) + v))
      .collect()(0).getDouble(0)
    assert(got == 6.0)
  }

  test("win_running_distinct is monotone and ends at the true distinct count") {
    val rows = SparkEntry.queries("win_running_distinct")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // event_id order IS time order within this corpus? Not guaranteed —
    // group by user and check the running count is a permutation-safe
    // invariant: max == number of distinct types the user actually has.
    val sp = spark
    val truth = graft.Tables.events(sp, sf0001)
      .groupBy("user_id")
      .agg(countDistinct("event_type").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.groupBy(_._2).foreach { case (user, rs) =>
      val counts = rs.map(_._3)
      assert(counts.max == truth(user))
      assert(counts.min >= 1)
    }
  }

  test("entropy and gini hit their closed-form anchors") {
    // Entropy must sit in [0, ln(n_types)]; Gini in [0, 1).
    val ent = SparkEntry.queries("agg_entropy")(spark, sf0001).collect()
    ent.foreach { r =>
      val (nTypes, e) = (r.getLong(2), r.getDouble(3))
      assert(e >= 0.0 && e <= math.log(nTypes.toDouble) + 1e-9,
        s"entropy $e outside [0, ln $nTypes]")
    }
    val gini = SparkEntry.queries("agg_gini")(spark, sf0001).collect()
    gini.foreach { r =>
      val g = r.getDouble(2)
      assert(g >= 0.0 && g < 1.0, s"gini $g outside [0, 1)")
    }
  }

  test("pattern_sequence: path length matches event count, flags consistent") {
    val rows = SparkEntry.queries("pattern_sequence")(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, path) = (r.getLong(1), r.getString(2))
      assert(path.length == n)
      assert(r.getBoolean(3) == "s.*p".r.findFirstIn(path).isDefined)
      assert(r.getInt(4) == path.count(_ == 'e'))
    }
  }

  test("agg_welch_ttest: zero on re-labeled identical samples, catches a shift") {
    val sp = spark
    import sp.implicits._
    import java.sql.Timestamp
    def t(day: Int) = Timestamp.valueOf(f"2024-01-${day}%02d 10:00:00")
    // Slice A (days 1-15) and B (16-30) carry the SAME value multiset:
    // t must be exactly 0. A second group shifts B by +10: |t| large,
    // sign negative (a - b).
    val rows =
      (0 until 100).map(i => ("same", t(1 + i % 15), 10.0 + (i % 7))) ++
      (0 until 100).map(i => ("same", t(16 + i % 15), 10.0 + (i % 7))) ++
      (0 until 100).map(i => ("shift", t(1 + i % 15), 10.0 + (i % 7))) ++
      (0 until 100).map(i => ("shift", t(16 + i % 15), 20.0 + (i % 7)))
    val df = rows.toDF("event_type", "ts", "value")
    val out = graft.api.Quality.welchTTest(df, col("event_type"),
      col("ts") < java.sql.Timestamp.valueOf("2024-01-16 00:00:00"),
      col("value"))
    val m = out.collect().map(r => r.getString(0) ->
      (r.getDouble(3), r.getDouble(4), r.getDouble(5))).toMap
    assert(m("same")._3 == 0.0, m.toString)
    assert(m("shift")._3 < -20.0, m.toString) // +10 shift on sd~2: huge t
    assert(m("shift")._2 - m("shift")._1 == 10.0, m.toString)
  }

  test("agg_ks_test: hand-computed D; argmax tie broken to smallest value") {
    val sp = spark
    import sp.implicits._
    import java.sql.Timestamp
    // view {1,2,3} vs click {2,3,4}: integer gap |cumA·nB − cumB·nA|
    // is 3 at c=100, 200, 300 and 0 at 400 — the tie must land on the
    // SMALLEST cent, so x_at_max = 1.0. D = 3/9; λ = D·√(9/6). The
    // purchase row and the null value must not count on either side.
    val rows = Seq(("view", Some(1.0)), ("view", Some(2.0)),
      ("view", Some(3.0)), ("click", Some(2.0)), ("click", Some(3.0)),
      ("click", Some(4.0)), ("purchase", Some(99.0)), ("view", None))
    val ev = rows.zipWithIndex.map { case ((et, v), i) =>
      (i.toLong, Timestamp.valueOf("2024-01-05 10:00:00"), i.toLong,
        et, v, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = graft.Scratch.fresh("ks_spec")
    ev.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = SparkEntry.queries("agg_ks_test")(sp, dir).collect()
    assert(out.length == 1)
    val r = out(0)
    assert((r.getLong(0), r.getLong(1)) == ((3L, 3L)), r.toString)
    assert(r.getDouble(2) == 1.0, r.toString) // x_at_max
    assert(r.getDouble(3) == 0.3333, r.toString) // D = 1/3
    assert(r.getDouble(4) == 0.4082, r.toString) // (1/3)·√1.5
  }

  test("agg_mannwhitney: hand U via midranks; tie-corrected z") {
    val sp = spark
    import sp.implicits._
    import java.sql.Timestamp
    // view {1,2,3} vs click {2,3,4}: combined midranks 1, 2.5, 2.5,
    // 4.5, 4.5, 6 → R_A = 8, U_A = 8 − 3·4/2 = 2 (so 2U = 4). Ties
    // t = (1,2,2,1) → Σ(t³−t) = 12; σ² = (9/12)·(7 − 12/30) = 4.95;
    // z = (2 − 4.5)/√4.95 = −1.1237 at 4 decimals.
    val rows = Seq(("view", 1.0), ("view", 2.0), ("view", 3.0),
      ("click", 2.0), ("click", 3.0), ("click", 4.0))
    val ev = rows.zipWithIndex.map { case ((et, v), i) =>
      (i.toLong, Timestamp.valueOf("2024-01-05 10:00:00"), i.toLong,
        et, v, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = graft.Scratch.fresh("mwu_spec")
    ev.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = SparkEntry.queries("agg_mannwhitney")(sp, dir).collect()(0)
    assert((r.getLong(0), r.getLong(1)) == ((3L, 3L)), r.toString)
    assert(r.getDouble(2) == 2.0, r.toString) // U_A
    assert(r.getDouble(3) == -1.1237, r.toString)
  }

  test("agg_chi2: hand 3x2 contingency incl. an EMPTY cell — chi2 = 37.5") {
    val sp = spark
    import sp.implicits._
    import java.sql.Timestamp
    // Rows X(30,10), Y(10,30), Z(20,0) over two weekdays: Z never
    // occurs on day 2, so the (Z, d2) cell is structurally absent from
    // the groupBy — densification must still charge its expected count
    // e = 20·40/100 = 8. Hand totals: terms 1.5 + 2.25 + 49/6 + 12.25
    // + 16/3 + 8 → χ² = 37.5 exactly, dof (3−1)(2−1) = 2, 6 cells.
    val d1 = Timestamp.valueOf("2024-01-01 12:00:00") // epoch-day dow 4
    val d2 = Timestamp.valueOf("2024-01-02 12:00:00") // dow 5
    val cells = Seq(("X", d1, 30), ("X", d2, 10),
      ("Y", d1, 10), ("Y", d2, 30), ("Z", d1, 20))
    val rows = cells.flatMap { case (et, ts, k) =>
      (0 until k).map(_ => (et, ts))
    }
    val ev = rows.zipWithIndex.map { case ((et, ts), i) =>
      (i.toLong, ts, i.toLong, et, 1.0, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = graft.Scratch.fresh("chi2_spec")
    ev.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = SparkEntry.queries("agg_chi2")(sp, dir).collect()(0)
    assert(r.getLong(0) == 100L, r.toString)
    assert(r.getLong(1) == 6L, r.toString)
    assert(r.getLong(2) == 2L, r.toString)
    assert(r.getDouble(3) == 37.5, r.toString)
  }

  test("agg_autocorr: alternation gives r = -1; absent days zero-fill") {
    val sp = spark
    import sp.implicits._
    import java.sql.Timestamp
    def t(day: Int) = Timestamp.valueOf(f"2024-01-${day}%02d 12:00:00")
    // 'alt' alternates daily counts 2,4,2,4 → perfectly anticorrelated
    // lag-1 pairs, r = -1 exactly. 'gap' has events only on days 1/3/5
    // (counts 5,1,3): the filled series [5,0,1,0,3] gives 4 pairs with
    // Σxy = 0 → r = -24/√1632 = -0.5941. Without the zero-fill the
    // 'gap' pairs would be (5,1),(1,3) — a different (and wrong) r.
    val alt = Seq(1 -> 2, 2 -> 4, 3 -> 2, 4 -> 4)
      .flatMap { case (d, k) => Seq.fill(k)("alt" -> t(d)) }
    val gap = Seq(1 -> 5, 3 -> 1, 5 -> 3)
      .flatMap { case (d, k) => Seq.fill(k)("gap" -> t(d)) }
    val ev = (alt ++ gap).zipWithIndex.map { case ((et, ts), i) =>
      (i.toLong, ts, i.toLong, et, 1.0, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = graft.Scratch.fresh("autocorr_spec")
    ev.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = SparkEntry.queries("agg_autocorr")(sp, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(out("alt") == ((3L, -1.0)), out.toString)
    assert(out("gap") == ((4L, -0.5941)), out.toString)
  }

  test("agg_mad: outlier-immune spread; lower median on even counts") {
    val sp = spark
    import sp.implicits._
    import java.sql.Timestamp
    // 'm' = [1,2,3,4,10]: median 3, deviations [2,1,0,1,7] → MAD 1 —
    // the planted 10 moves the mean/stddev but not the MAD. 'e' =
    // [1,2,3,4]: even count takes the LOWER median (rank ceil(n/2)=2)
    // → median 2, deviations [1,0,1,2] → MAD 1.
    val rows = Seq("m" -> 1.0, "m" -> 2.0, "m" -> 3.0, "m" -> 4.0,
      "m" -> 10.0, "e" -> 1.0, "e" -> 2.0, "e" -> 3.0, "e" -> 4.0)
    val ev = rows.zipWithIndex.map { case ((et, v), i) =>
      (i.toLong, Timestamp.valueOf("2024-01-05 10:00:00"), i.toLong,
        et, v, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = graft.Scratch.fresh("mad_spec")
    ev.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = SparkEntry.queries("agg_mad")(sp, dir).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(out("m") == ((5L, 3.0, 1.0)), out.toString)
    assert(out("e") == ((4L, 2.0, 1.0)), out.toString)
  }

  test("agg_median_ci: hand ranks select the exact order statistics") {
    val sp = spark
    import sp.implicits._
    import java.sql.Timestamp
    // 9 values 10..90: rmed = 5 -> 50. rlo = floor((9−1.96·3)/2) = 1
    // -> 10; rhi = ceil((9+1.96·3)/2 + 1) = 9 -> 90.
    val ev = (1 to 9).map { i =>
      (i.toLong, Timestamp.valueOf("2024-01-05 10:00:00"), i.toLong,
        "view", i * 10.0, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = graft.Scratch.fresh("medci_spec")
    ev.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = SparkEntry.queries("agg_median_ci")(sp, dir).collect()(0)
    assert(r.getLong(1) == 9L, r.toString)
    assert(r.getDouble(2) == 50.0, r.toString)
    assert(r.getDouble(3) == 10.0 && r.getDouble(4) == 90.0, r.toString)
  }

  test("agg_median_ci: corpus intervals bracket their medians tightly") {
    val out = SparkEntry.queries("agg_median_ci")(spark, sf001)
      .collect()
    assert(out.length == 5)
    out.foreach { r =>
      val (m, lo, hi) = (r.getDouble(2), r.getDouble(3), r.getDouble(4))
      assert(lo < m && m < hi, r.toString)
      // n ≈ 2000: the rank CI is a few percent of the median wide
      assert(hi - lo < m * 0.25, r.toString)
    }
  }

  test("agg_anova: separated triples give the textbook F = 300") {
    val sp = spark
    import sp.implicits._
    import java.sql.Timestamp
    // Groups {1,2,3}, {11,12,13}, {21,22,23}: SSB = 600, SSW = 6,
    // df (2, 6) -> F = (600/2)/(6/6) = 300; eta^2 = 600/606 = 0.9901.
    val rows = Seq("a" -> 1.0, "a" -> 2.0, "a" -> 3.0,
      "b" -> 11.0, "b" -> 12.0, "b" -> 13.0,
      "c" -> 21.0, "c" -> 22.0, "c" -> 23.0)
    val ev = rows.zipWithIndex.map { case ((et, v), i) =>
      (i.toLong, Timestamp.valueOf("2024-01-05 10:00:00"), i.toLong,
        et, v, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = graft.Scratch.fresh("anova_spec")
    ev.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = SparkEntry.queries("agg_anova")(sp, dir).collect()(0)
    assert(r.getLong(0) == 3L && r.getLong(1) == 9L, r.toString)
    assert(r.getLong(2) == 2L && r.getLong(3) == 6L, r.toString)
    assert(r.getDouble(4) == 300.0, r.toString)
    assert(r.getDouble(5) == 0.9901, r.toString)
  }

  test("agg_anova: corpus types share one distribution — honest null") {
    val r = SparkEntry.queries("agg_anova")(spark, sf001).collect()(0)
    assert(r.getLong(0) == 5L && r.getLong(1) == 10000L)
    assert(r.getDouble(4) > 0 && r.getDouble(4) < 5, r.toString)
    assert(r.getDouble(5) < 0.01, r.toString)
  }

  test("agg_order_gap: hand gaps give exact percentile cuts") {
    val sp = spark
    import sp.implicits._
    import java.sql.Timestamp
    // c1 orders on days 1,2,4,8 -> gaps 1,2,4; c2 on days 1,11 ->
    // gap 10. Gaps {1,2,4,10}: p25=1, p50=2, p75=4, p90=10;
    // mean 17/4 = 4.25. One single-order customer contributes nothing.
    val days = Seq((1L, 1), (1L, 2), (1L, 4), (1L, 8),
      (2L, 1), (2L, 11), (3L, 5))
    val orders = days.zipWithIndex.map { case ((c, d), i) =>
      (i.toLong, c, "O", 100.0,
        Timestamp.valueOf(f"2024-01-$d%02d 00:00:00"), "1-URGENT")
    }.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderdate", "o_orderpriority")
    val dir = graft.Scratch.fresh("ordergap_spec")
    orders.write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val r = SparkEntry.queries("agg_order_gap")(sp, dir).collect()(0)
    assert(r.getLong(0) == 4L && r.getLong(1) == 2L, r.toString)
    assert(r.getDouble(2) == 4.25, r.toString)
    assert((r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)) ==
      ((1L, 2L, 4L, 10L)), r.toString)
  }

  test("agg_order_gap: corpus cadence is ordered and plausible") {
    val r = SparkEntry.queries("agg_order_gap")(spark, sf001)
      .collect()(0)
    assert(r.getLong(0) == 13500L && r.getLong(1) == 1498L)
    val ps = Seq(r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))
    assert(ps.zip(ps.tail).forall { case (a, b) => a < b }, ps.toString)
    assert(r.getDouble(2) > ps.head && r.getDouble(2) < ps.last)
  }

  test("agg_rfm: five hand customers land on the diagonal") {
    val sp = spark
    import sp.implicits._
    import java.sql.Timestamp
    // Customer c (1..5) places c orders of $100·c, the last on day c —
    // recency, frequency and monetary all rank identically, so each
    // lands in its own (c,c,c) diagonal cell with ntile(5) over 5 rows.
    val orders = (for {
      c <- 1 to 5
      k <- 1 to c
    } yield ((c * 10 + k).toLong, c.toLong, "O", 100.0 * c,
      Timestamp.valueOf(f"2024-01-${math.min(k, c)}%02d 00:00:00"),
      "1-URGENT"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
    val dir = graft.Scratch.fresh("rfm_spec")
    orders.write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val out = SparkEntry.queries("agg_rfm")(sp, dir).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2)) ->
        ((r.getLong(3), r.getDouble(4)))).toMap
    assert(out.size == 5, out.toString)
    (1 to 5).foreach { c =>
      assert(out((c, c, c)) == ((1L, 100.0 * c * c)),
        s"cell $c: ${out.get((c, c, c))}")
    }
  }

  test("agg_rfm: corpus census covers all customers with sane cells") {
    val out = SparkEntry.queries("agg_rfm")(spark, sf001).collect()
    assert(out.map(_.getLong(3)).sum == 1500L)
    assert(out.length > 50 && out.length <= 125)
    out.foreach { r =>
      (0 to 2).foreach(i => assert(r.getInt(i) >= 1 && r.getInt(i) <= 5))
    }
    // monetary score must order mean monetary within fixed (r, f)
    val g = out.groupBy(r => (r.getInt(0), r.getInt(1)))
    g.values.filter(_.length >= 2).foreach { rs =>
      val s = rs.sortBy(_.getInt(2)).map(_.getDouble(4))
      assert(s.zip(s.tail).forall { case (a, b) => b > a },
        rs.mkString(";"))
    }
  }

  test("agg_top_share: one whale among twenty, partial take exercised") {
    val sp = spark
    import sp.implicits._
    import java.sql.Timestamp
    // 1×$1000 + 19×$100 = $2900. top1: k=1 -> 1000/2900 = 0.344828;
    // top10: k=2 -> the whale plus ONE partial take from the $100
    // bucket at its exact mean -> 1100/2900 = 0.37931.
    val orders = (0 until 20).map { i =>
      (i.toLong, 1L, "O", if (i == 0) 1000.0 else 100.0,
        Timestamp.valueOf("1995-06-01 00:00:00"), "1-URGENT")
    }.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderdate", "o_orderpriority")
    val dir = graft.Scratch.fresh("topshare_spec")
    orders.write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val r = SparkEntry.queries("agg_top_share")(sp, dir).collect()(0)
    assert(r.getLong(0) == 20L, r.toString)
    assert(r.getDouble(1) == 0.0029, r.toString) // $2900 in $M
    assert(r.getDouble(2) == 0.344828, r.toString)
    assert(r.getDouble(3) == 0.37931, r.toString)
  }

  test("agg_top_share: corpus has no whales and the shares say so") {
    val r = SparkEntry.queries("agg_top_share")(spark, sf001)
      .collect()(0)
    assert(r.getLong(0) == 15000L)
    val (s1, s10) = (r.getDouble(2), r.getDouble(3))
    assert(s1 >= 0.01 && s1 < 0.05, r.toString) // uniform-ish prices
    assert(s10 >= 0.10 && s10 < 0.25, r.toString)
    assert(s10 > s1, r.toString)
  }

  test("agg_dau_mau: hand week of one daily and one weekly user") {
    val sp = spark
    import sp.implicits._
    import java.sql.Timestamp
    // Epoch week 2818 = 2024-01-04..01-10 (Tables pins event years to
    // [2000, 2100]): u1 active on all 7 days, u2 only on one ->
    // sum_dau 8, wau 2, stickiness (8/7)/2 = 0.5714.
    val rows = (4 to 10).map(d => (1L, d)) :+ ((2L, 6))
    val ev = rows.zipWithIndex.map { case ((u, d), i) =>
      (i.toLong, Timestamp.valueOf(f"2024-01-$d%02d 10:00:00"),
        u, "view", 1.0, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = graft.Scratch.fresh("daumau_spec")
    ev.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = SparkEntry.queries("agg_dau_mau")(sp, dir).collect()
    assert(out.length == 1, out.mkString(";"))
    val r = out(0)
    assert(r.getLong(0) == 2818L && r.getLong(1) == 7L, r.toString)
    assert(r.getLong(2) == 8L && r.getLong(3) == 2L, r.toString)
    assert(r.getDouble(4) == 0.5714, r.toString)
  }

  test("agg_dau_mau: corpus weeks are dense but not saturated") {
    val out = SparkEntry.queries("agg_dau_mau")(spark, sf001).collect()
    assert(out.length == 5)
    assert(out.map(_.getLong(1)).sum == 30L) // 30 corpus days covered
    out.foreach { r =>
      assert(r.getLong(3) == 150L, r.toString) // all users weekly-active
      val s = r.getDouble(4)
      assert(s > 0.5 && s < 1.0, r.toString) // dense, yet nobody perfect
    }
  }

  test("agg_transition_matrix: hand chain with start distribution") {
    val sp = spark
    import sp.implicits._
    import java.sql.Timestamp
    // u1: v -> c -> v ; u2: v -> v. Transitions: _start->v ×2,
    // v->c 1 of 3 v-departures... rows: (_start,view,2,1.0),
    // (view,click,1,0.5), (click,view,1,1.0), (view,view,1,0.5).
    val rows = Seq((1L, 0, "view"), (1L, 1, "click"), (1L, 2, "view"),
      (2L, 0, "view"), (2L, 1, "view"))
    val ev = rows.zipWithIndex.map { case ((u, m, et), i) =>
      (i.toLong, Timestamp.valueOf(f"2024-01-05 10:$m%02d:00"), u,
        et, 1.0, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = graft.Scratch.fresh("markov_spec")
    ev.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = SparkEntry.queries("agg_transition_matrix")(sp, dir)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    assert(out.size == 4, out.toString)
    assert(out(("_start", "view")) == ((2L, 1.0)), out.toString)
    assert(out(("view", "click")) == ((1L, 0.5)), out.toString)
    assert(out(("view", "view")) == ((1L, 0.5)), out.toString)
    assert(out(("click", "view")) == ((1L, 1.0)), out.toString)
  }

  test("agg_transition_matrix: corpus rows normalize to 1 per state") {
    val out = SparkEntry.queries("agg_transition_matrix")(spark, sf001)
      .collect()
    assert(out.length == 30) // (_start + 5 types) × 5 types
    out.groupBy(_.getString(0)).foreach { case (prev, rs) =>
      val totP = rs.map(_.getDouble(3)).sum
      assert(math.abs(totP - 1.0) < 0.002, s"$prev rows sum to $totP")
    }
    val starts = out.filter(_.getString(0) == "_start")
      .map(_.getLong(2)).sum
    assert(starts == 150L, "every user contributes exactly one start")
  }

  test("agg_theil_sen: one crashed month cannot move the Sen slope") {
    val sp = spark
    import sp.implicits._
    import java.sql.Timestamp
    // Monthly revenue 100+3·idx for idx 0..5, then idx 6 crashes to 1.
    // Pairwise slopes: 15 clean pairs at exactly 3, 6 outlier pairs
    // negative -> lower median (rank 11 of 21) = 3.0; OLS is dragged
    // well below.
    val orders = (0 to 6).map { m =>
      (m.toLong, 1L, "O", 100.0 + (if (m == 6) -99.0 - 3 * m else 3.0 * m),
        Timestamp.valueOf(f"1995-${m + 1}%02d-01 00:00:00"), "1-URGENT")
    }.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderdate", "o_orderpriority")
    val dir = graft.Scratch.fresh("theilsen_spec")
    orders.write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val r = SparkEntry.queries("agg_theil_sen")(sp, dir).collect()(0)
    assert(r.getLong(0) == 7L && r.getLong(1) == 21L, r.toString)
    assert(r.getDouble(2) == 3.0, r.toString)
    assert(r.getDouble(3) < 0.0, r.toString) // OLS fooled by the crash
  }

  test("agg_theil_sen: corpus Sen and OLS disagree on the partial tail") {
    val r = SparkEntry.queries("agg_theil_sen")(spark, sf001)
      .collect()(0)
    assert(r.getLong(0) == 80L && r.getLong(1) == 80L * 79 / 2)
    // the single-day final month is an outlier: Sen stays positive,
    // OLS goes negative — the estimator pair proves its own point.
    assert(r.getDouble(2) > 0 && r.getDouble(3) < 0, r.toString)
  }

  test("agg_kaplan_meier: textbook product-limit with one censoring") {
    val sp = spark
    import sp.implicits._
    import java.sql.Timestamp
    // 4 single-user sessions, durations 1/2/2/3 min; the dur-2 session
    // at 23:30 ends within 2 h of the corpus max (23:32) -> censored.
    // KM: t=1: 4 at risk, 1 death -> 3/4; t=2: 3 at risk, 1 death +
    // 1 censor -> 3/4·2/3 = 1/2; t=3: 1 at risk, 1 death (n = d,
    // total-death edge) -> 0.
    val rows = Seq(
      (1L, "2024-01-05 10:00:00"), (1L, "2024-01-05 10:01:00"),
      (2L, "2024-01-05 10:00:00"), (2L, "2024-01-05 10:02:00"),
      (3L, "2024-01-05 23:30:00"), (3L, "2024-01-05 23:32:00"),
      (4L, "2024-01-05 10:00:00"), (4L, "2024-01-05 10:03:00"))
    val ev = rows.zipWithIndex.map { case ((u, t), i) =>
      (i.toLong, Timestamp.valueOf(t), u, "view", 1.0, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = graft.Scratch.fresh("km_spec")
    ev.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = SparkEntry.queries("agg_kaplan_meier")(sp, dir).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))))
      .toMap
    assert(out.size == 3, out.toString)
    assert(out(1L) == ((4L, 1L, 0L, 0.75)), out(1L).toString)
    assert(out(2L) == ((3L, 1L, 1L, 0.5)), out(2L).toString)
    assert(out(3L) == ((1L, 1L, 0L, 0.0)), out(3L).toString)
  }

  test("agg_kaplan_meier: corpus curve is monotone non-increasing") {
    val out = SparkEntry.queries("agg_kaplan_meier")(spark, sf001)
      .collect()
    assert(out.length == 37)
    val surv = out.map(_.getDouble(4))
    assert(surv.zip(surv.tail).forall { case (a, b) => b <= a },
      "survival must be non-increasing")
    assert(out.head.getLong(1) == 9549L) // every session at risk at t=0
    assert(out.map(_.getLong(3)).sum > 0, "no censoring exercised")
  }

  test("ml_corr_matrix: planted perfect correlations recovered") {
    val sp = spark
    import sp.implicits._
    // dim1 = dim0 (r = +1), dim2 = -dim0 (r = -1), dim3 = {1,-1,-1,1}
    // orthogonal to dim0 = {1,2,3,4} - mean 2.5 -> cov = 1·(-1.5) +
    // (-1)·(-0.5) + (-1)·0.5 + 1·1.5 = 0 -> r = 0. Dims 4..63 constant
    // zero (zero variance -> 0/0, not asserted).
    val vecs = Seq(1f, 2f, 3f, 4f).zip(Seq(1f, -1f, -1f, 1f))
      .zipWithIndex.map { case ((x, o), i) =>
        (i.toLong, Array(x, x, -x, o) ++ Array.fill(60)(0f), 0)
      }.toDF("vec_id", "embedding", "label")
    val dir = graft.Scratch.fresh("corr_spec")
    vecs.write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = SparkEntry.queries("ml_corr_matrix")(sp, dir).collect()
    assert(out.length == 2016)
    val m = out.map(r => (r.getInt(0), r.getInt(1)) ->
      (r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
    // r = ±1 lands EXACTLY on the ±10⁴ permyriad boundary (|num| = ⌊√vv⌋
    // by Cauchy–Schwarz equality) — the boundary cells the integer
    // output contract is for.
    assert(m((0, 1)) == ((4L, Some(10000L))), m((0, 1)).toString)
    assert(m((0, 2)) == ((4L, Some(-10000L))), m((0, 2)).toString)
    assert(m((1, 2)) == ((4L, Some(-10000L))), m((1, 2)).toString)
    assert(m((0, 3)) == ((4L, Some(0L))), m((0, 3)).toString)
    // zero-variance padding dims: r is undefined, surfaced as null
    assert(m((4, 5)) == ((4L, None)), m((4, 5)).toString)
  }

  test("ml_corr_matrix: corpus matrix is bounded and non-degenerate") {
    val out = SparkEntry.queries("ml_corr_matrix")(spark, sf001).collect()
    assert(out.length == 64 * 63 / 2)
    val rs = out.map(_.getLong(3))
    assert(rs.forall(r => r >= -10000L && r <= 10000L))
    assert(rs.distinct.length > 100, "correlations collapsed")
    assert(out.forall(_.getLong(2) == 500L))
  }

  test("ml_corr_matrix: permyriad cell replays the exact integer recipe") {
    // Independent BigInt replay of one cell (dims 0,1) straight from the
    // parquet: quantize at 1e4, build the 5 moments, and divide by the
    // EXACT floor-sqrt — pins the sign/floor/isqrt boundary the oracle's
    // Newton fixpoint must also land on (the r12 regression was exactly
    // this final division drifting between engines in double).
    val rows = spark.read.parquet(s"$sf001/embeddings.parquet")
      .selectExpr("cast(embedding[0] as double) AS x",
        "cast(embedding[1] as double) AS y")
      .collect()
      .map(r => (BigInt(math.round(r.getDouble(0) * 1e4)),
        BigInt(math.round(r.getDouble(1) * 1e4))))
    val n = BigInt(rows.length)
    val sx = rows.map(_._1).sum; val sy = rows.map(_._2).sum
    val sxy = rows.map(p => p._1 * p._2).sum
    val sxx = rows.map(p => p._1 * p._1).sum
    val syy = rows.map(p => p._2 * p._2).sum
    val num = n * sxy - sx * sy
    val vv = (n * sxx - sx * sx) * (n * syy - sy * sy)
    val expected =
      (BigInt(num.signum) *
        (num.abs * 10000 / BigInt(vv.bigInteger.sqrt()))).toLong
    val cell = SparkEntry.queries("ml_corr_matrix")(spark, sf001)
      .filter("dim_i = 0 AND dim_j = 1").collect()
    assert(cell.length == 1)
    assert(cell.head.getLong(3) == expected,
      s"got ${cell.head.getLong(3)}, replay says $expected")
  }

  test("ml_pca_power: planted dominant direction recovered") {
    val sp = spark
    import sp.implicits._
    // Data = t·(0.6, 0.8, 0, …) + tiny orthogonal jitter on dim 2: the
    // top principal component is (0.6, 0.8)/‖·‖∞ → after L∞
    // normalization loading(1) = 1e6 (the largest |coord|) and
    // loading(0)/loading(1) = 0.75 to within the 1e-6 grid.
    val vecs = Seq(-3f, -1f, 1f, 3f).zipWithIndex.map { case (t, i) =>
      val jit = Seq(0.01f, -0.01f, -0.01f, 0.01f)(i)
      (i.toLong, Array(0.6f * t, 0.8f * t, jit) ++ Array.fill(61)(0f), 0)
    }.toDF("vec_id", "embedding", "label")
    val dir = graft.Scratch.fresh("pca_spec")
    vecs.write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = SparkEntry.queries("ml_pca_power")(sp, dir).collect()
    assert(out.length == 64)
    val load = out.map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(load(1) == 1000000L, load(1).toString)
    assert(math.abs(load(0) - 750000L) <= 2, load(0).toString)
    // jitter dim: orthogonal to the signal, loading ~0
    assert(math.abs(load(2)) < 2000, load(2).toString)
    (3 until 64).foreach(d => assert(load(d) == 0L, s"dim $d"))
    assert(out.head.getLong(2) > 0L) // growth = L∞ eigenvalue estimate
  }

  test("ml_ab_power: hand moments give the textbook sample size") {
    val sp = spark
    import sp.implicits._
    import java.sql.Timestamp
    // values {1, 2, 3}: mean 2, variance 1 → n/arm =
    // ceil(2·(1.96+0.8416)²·1/(0.05·2)²) = ceil(1569.79) = 1570.
    val ev = Seq(1.0, 2.0, 3.0).zipWithIndex.map { case (v, i) =>
      (i.toLong, Timestamp.valueOf("2024-01-05 10:00:00"), i.toLong,
        "view", Some(v), "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = graft.Scratch.fresh("abpower_spec")
    ev.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = SparkEntry.queries("ml_ab_power")(sp, dir).collect()(0)
    assert(r.getLong(1) == 3L, r.toString)
    assert(r.getDouble(2) == 2.0 && r.getDouble(3) == 1.0, r.toString)
    assert(r.getLong(4) == 1570L, r.toString)
    assert(!r.getBoolean(5), r.toString)
  }

  test("ml_ab_power: corpus verdicts are internally consistent") {
    val out = SparkEntry.queries("ml_ab_power")(spark, sf001).collect()
    assert(out.length == 5)
    out.foreach { r =>
      assert(r.getLong(4) > 0 && r.getDouble(3) > 0, r.toString)
      assert(r.getBoolean(5) == (r.getLong(1) >= 2 * r.getLong(4)),
        r.toString)
    }
    // exponential-ish values (σ ≈ μ) need thousands per arm: the tiny
    // SF cannot power a 5% test — the honest platform answer
    assert(out.forall(!_.getBoolean(5)))
  }

  test("agg_changepoint_cusum: hand step series pinpoints the break") {
    val sp = spark
    import sp.implicits._
    import java.sql.Timestamp
    // Monthly revenue 0.10, 0.10, 0.20, 0.20: scaled |cusum| peaks at
    // t = 2 (|4·20 − 2·60| = 40 cents-units) → cp_month = idx 1,
    // means 0.10 → 0.20, shift +0.10.
    val orders = (1 to 4).map { mth =>
      (mth.toLong, 1L, "O", if (mth <= 2) 0.10 else 0.20,
        Timestamp.valueOf(f"1995-$mth%02d-10 00:00:00"), "1-URGENT")
    }.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderdate", "o_orderpriority")
    val dir = graft.Scratch.fresh("cusum_spec")
    orders.write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val r = SparkEntry.queries("agg_changepoint_cusum")(sp, dir)
      .collect()(0)
    assert(r.getLong(0) == 1L, r.toString)
    assert(r.getLong(1) == 40L, r.toString)
    assert(r.getDouble(2) == 0.1 && r.getDouble(3) == 0.2, r.toString)
    assert(r.getDouble(4) == 0.1, r.toString)
  }

  test("agg_changepoint_cusum: corpus peak is a real interior point") {
    val r = SparkEntry.queries("agg_changepoint_cusum")(spark, sf001)
      .collect()(0)
    assert(r.getLong(1) > 0L, "flat-series degenerate peak")
    assert(r.getDouble(2) > 0 && r.getDouble(3) > 0)
    assert(r.getDouble(4) == ((r.getDouble(3) * 10000).round -
      (r.getDouble(2) * 10000).round) / 10000.0, r.toString)
  }

  test("agg_winsorized_mean: hand quartile clamps and both means") {
    val sp = spark
    import sp.implicits._
    import java.sql.Timestamp
    // millis {0,1,2,3,100}: q1 = 1, q3 = 3 (indices 1 and 3 exactly);
    // clamped = {1,1,2,3,3} → winsor mean 2 millis = 0.002 while the
    // raw mean is 21.2 millis = 0.0212; one clamp each side.
    val vals = Seq(0.0, 0.001, 0.002, 0.003, 0.1)
    val ev = vals.zipWithIndex.map { case (v, i) =>
      (i.toLong, Timestamp.valueOf("2024-01-05 10:00:00"), i.toLong,
        "view", Some(v), "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = graft.Scratch.fresh("winsor_spec")
    ev.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = SparkEntry.queries("agg_winsorized_mean")(sp, dir)
      .collect()(0)
    assert((r.getLong(1), r.getLong(2), r.getLong(3)) == ((5L, 1L, 1L)),
      r.toString)
    assert(r.getDouble(4) == 0.0212, r.toString)
    assert(r.getDouble(5) == 0.002, r.toString)
  }

  test("agg_winsorized_mean: corpus tails are right-heavy, clamps bounded") {
    val out = SparkEntry.queries("agg_winsorized_mean")(spark, sf001)
      .collect()
    assert(out.length == 5)
    out.foreach { r =>
      val n = r.getLong(1)
      // at most a quarter of each side can be outside its own quartile
      assert(r.getLong(2) <= n / 4 + 1, r.toString)
      assert(r.getLong(3) <= n / 4 + 1, r.toString)
      // exponential-ish right tail: winsorizing must pull the mean DOWN
      assert(r.getDouble(5) < r.getDouble(4), r.toString)
    }
  }

  test("agg_mann_kendall: hand 5-month rising series is significant") {
    val sp = spark
    import sp.implicits._
    import java.sql.Timestamp
    // Strictly increasing revenue over 5 months: S = 10 (all pairs +1),
    // no ties, var18 = 5·4·15 = 300, Z = 9/√(300/18) = 2.2045 > 1.96.
    val orders = (1 to 5).map { mth =>
      (mth.toLong, 1L, "O", 100.0 * mth,
        Timestamp.valueOf(f"1995-$mth%02d-10 00:00:00"), "1-URGENT")
    }.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderdate", "o_orderpriority")
    val dir = graft.Scratch.fresh("mk_spec")
    orders.write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val r = SparkEntry.queries("agg_mann_kendall")(sp, dir).collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((5L, 10L, 10L, 300L)), r.toString)
    assert(r.getDouble(4) == 2.2045, s"Z ${r.getDouble(4)}")
    assert(r.getString(5) == "increasing", r.toString)
  }

  test("agg_mann_kendall: corpus verdict is internally consistent") {
    val r = SparkEntry.queries("agg_mann_kendall")(spark, sf001)
      .collect()(0)
    val (n, np, s) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(np == n * (n - 1) / 2)
    assert(math.abs(s) <= np)
    val z = r.getDouble(4)
    val expected = if (z > 1.96) "increasing"
      else if (z < -1.96) "decreasing" else "no_trend"
    assert(r.getString(5) == expected, r.toString)
  }

  test("agg_levene: hand Brown–Forsythe W and variance ratio") {
    val sp = spark
    import sp.implicits._
    import java.sql.Timestamp
    // A = {1,1,3,3} milli-units: med 2, |2v−4| = {2,2,2,2}.
    // B = {1,3,9,11}: med 6, |2v−12| = {10,6,6,10}.
    // z-ANOVA: sqb = 16+256 = 272, grand = round(40²/8) = 200,
    // W = (272−200)/1 ÷ (288−272)/6 = 27. Raw variances: 16/12 vs
    // 272/12 → ratio exactly 17.
    val rows = Seq(("a", 0.001), ("a", 0.001), ("a", 0.003), ("a", 0.003),
      ("b", 0.001), ("b", 0.003), ("b", 0.009), ("b", 0.011))
    val ev = rows.zipWithIndex.map { case ((et, v), i) =>
      (i.toLong, Timestamp.valueOf("2024-01-05 10:00:00"), i.toLong,
        et, Some(v), "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = graft.Scratch.fresh("levene_spec")
    ev.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = SparkEntry.queries("agg_levene")(sp, dir).collect()(0)
    assert((r.getLong(0), r.getLong(1)) == ((2L, 8L)), r.toString)
    assert((r.getLong(2), r.getLong(3)) == ((1L, 6L)), r.toString)
    assert(r.getDouble(4) == 27.0, s"W ${r.getDouble(4)}")
    assert(r.getDouble(5) == 17.0, s"ratio ${r.getDouble(5)}")
  }

  test("agg_levene: corpus null readout is finite and sane") {
    val r = SparkEntry.queries("agg_levene")(spark, sf001).collect()(0)
    assert(r.getLong(0) == 5L) // five event types
    assert(r.getLong(1) > 0L)
    assert(r.getDouble(4) >= 0.0 && !r.getDouble(4).isNaN, r.toString)
    // all five types draw one exponential: variances must be same-order
    assert(r.getDouble(5) >= 1.0 && r.getDouble(5) < 3.0, r.toString)
  }

  test("ml_linreg_normal: exact planted fit recovered with R² = 1") {
    val sp = spark
    import sp.implicits._
    // Texts pick (x1, x2) = (tokens, distinct tokens); y is planted as
    // exactly 2 + 3·x1 + 5·x2, so OLS must recover the coefficients
    // with zero residual. Points (2,1),(3,3),(4,2),(1,1) are affinely
    // independent — the normal matrix is nonsingular.
    val rows = Seq(
      ("a a", 2L, 1L), ("a b c", 3L, 3L),
      ("a b b b", 4L, 2L), ("a", 1L, 1L))
    val docs = rows.zipWithIndex.map { case ((t, x1, x2), i) =>
      (i.toLong, t, "en", "web", 2L + 3L * x1 + 5L * x2)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = graft.Scratch.fresh("linreg_spec")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("ml_linreg_normal")(sp, dir).collect()
    assert(out.length == 1)
    val r = out(0)
    assert(r.getLong(0) == 4L)
    assert(r.getDouble(1) == 2.0, s"beta0 ${r.getDouble(1)}")
    assert(r.getDouble(2) == 3.0, s"beta1 ${r.getDouble(2)}")
    assert(r.getDouble(3) == 5.0, s"beta2 ${r.getDouble(3)}")
    assert(r.getDouble(4) == 1.0, s"r2 ${r.getDouble(4)}")
  }

  test("ml_linreg_normal: corpus fit explains document size") {
    val out = SparkEntry.queries("ml_linreg_normal")(spark, sf001)
      .collect()
    assert(out.length == 1)
    val r = out(0)
    assert(r.getLong(0) == 500L)
    // chars ≈ tokens·(avg word len + 1): the corpus fit must be strong
    // and the token coefficient must dominate the distinct-token one.
    assert(r.getDouble(4) > 0.95, s"r2 ${r.getDouble(4)}")
    assert(r.getDouble(2) > 3.0 && r.getDouble(2) < 8.0,
      s"beta1 ${r.getDouble(2)}")
    assert(math.abs(r.getDouble(3)) < r.getDouble(2),
      s"beta2 ${r.getDouble(3)}")
  }

  test("ml_pca_project: planted data projects in order, share ≈ 1") {
    val sp = spark
    import sp.implicits._
    // Same planted geometry as the pca_power spec: data = t·(0.6, 0.8)
    // + tiny dim-2 jitter. Scores must be monotone in t and the top
    // component must explain (almost) all variance.
    val vecs = Seq(-3f, -1f, 1f, 3f).zipWithIndex.map { case (t, i) =>
      val jit = Seq(0.01f, -0.01f, -0.01f, 0.01f)(i)
      (i.toLong, Array(0.6f * t, 0.8f * t, jit) ++ Array.fill(61)(0f), 0)
    }.toDF("vec_id", "embedding", "label")
    val dir = graft.Scratch.fresh("pcaproj_spec")
    vecs.write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = SparkEntry.queries("ml_pca_project")(sp, dir)
      .orderBy("vec_id").collect()
    assert(out.length == 4)
    val scores = out.map(_.getLong(1))
    assert(scores.zip(scores.tail).forall { case (a, b) => a < b } ||
      scores.zip(scores.tail).forall { case (a, b) => a > b },
      scores.mkString(",")) // monotone in t (sign is eigenvector's)
    val share = out.head.getDouble(2)
    assert(share > 0.99 && share <= 1.0 + 1e-9, share.toString)
  }

  test("ml_pca_project: corpus scores are non-degenerate") {
    val out = SparkEntry.queries("ml_pca_project")(spark, sf001).collect()
    assert(out.length == 100)
    val scores = out.map(_.getLong(1))
    assert(scores.distinct.length > 90, "projection collapsed")
    val share = out.head.getDouble(2)
    // 64 near-isotropic random dims: the top component explains a few
    // percent — far from 0 (real signal) and far from 1 (no fake spike)
    assert(share > 1.0 / 64 && share < 0.5, share.toString)
  }

  test("ml_kcenter_greedy: hand trajectory on a line, ties to smallest id") {
    val sp = spark
    import sp.implicits._
    // 1-D points (dim 0, rest zero), quantized ×1e4:
    // id0=0, id1=1000, id2=9000, id3=10000, id4=5000, id5=2000.
    // Gonzalez: s1 = max-norm id3 (d=1e8); s2 = id0 (1e8); s3 = id4
    // (2.5e7); s4 = id5 (4e6); s5 = id1 vs id2 tie at 1e6 → smallest
    // id wins; coverage after 5 = id2's 1e6.
    val vals = Seq(0f, 0.1f, 0.9f, 1f, 0.5f, 0.2f)
    val vecs = vals.zipWithIndex.map { case (v, i) =>
      (i.toLong, Array(v) ++ Array.fill(63)(0f), 0)
    }.toDF("vec_id", "embedding", "label")
    val dir = graft.Scratch.fresh("kcenter_spec")
    vecs.write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = SparkEntry.queries("ml_kcenter_greedy")(sp, dir)
      .orderBy("round").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq(
      (1, 3L, 100000000L, 1000000L), (2, 0L, 100000000L, 1000000L),
      (3, 4L, 25000000L, 1000000L), (4, 5L, 4000000L, 1000000L),
      (5, 1L, 1000000L, 1000000L)), out.mkString(","))
  }

  test("ml_kcenter_greedy: corpus selection distances are monotone") {
    val out = SparkEntry.queries("ml_kcenter_greedy")(spark, sf001)
      .orderBy("round").collect()
    assert(out.length == 5)
    val ds = out.map(_.getLong(2))
    // Gonzalez invariant: from round 2 on (round 1 reports the seed's
    // NORM — distance to the empty set — which is not comparable) each
    // pick's distance-at-selection is non-increasing, and the final
    // coverage can't exceed the last pick.
    val sel = ds.drop(1)
    assert(sel.zip(sel.tail).forall { case (a, b) => b <= a },
      ds.mkString(","))
    assert(out.head.getLong(3) <= ds.last)
    assert(out.map(_.getLong(1)).distinct.length == 5, "seed repeated")
  }

  test("ml_pca_power: corpus component is L∞-normalized and stable") {
    val out = SparkEntry.queries("ml_pca_power")(spark, sf001).collect()
    assert(out.length == 64)
    val loads = out.map(_.getLong(1))
    assert(loads.map(math.abs).max == 1000000L, "L∞ norm must pin 1e6")
    assert(loads.forall(l => math.abs(l) <= 1000000L))
    assert(out.map(_.getLong(2)).distinct.length == 1) // growth constant
    // a 5th round must not move the answer much: re-run equality is
    // covered by repeatability; here pin non-degeneracy instead
    assert(loads.distinct.length > 32, "component collapsed")
  }
}
