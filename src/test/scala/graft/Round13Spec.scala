package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantic specs for the round-13 operator batch. Each new key gets an
  * independent cross-check: either a hand-computable invariant or a
  * re-derivation through a DIFFERENT plan shape than the key uses, so a
  * bug in the key's formulation can't hide in a self-comparison.
  */
class Round13Spec extends AnyFunSuite with SparkFixture {

  test("agg_log_histogram: buckets are powers of two and shares sum to 1") {
    val rows = SparkEntry.queries("agg_log_histogram")(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val bucket = r.getAs[Int]("bucket")
      val lo = r.getAs[Long]("lo"); val hi = r.getAs[Long]("hi")
      assert(lo == (1L << bucket) && hi == (1L << (bucket + 1)))
    }
    // shares within one source add to 1 (every doc lands in exactly one
    // bucket); tolerance covers the per-bucket 1e-6 rounding only
    rows.groupBy(_.getAs[String]("source")).foreach { case (_, rs) =>
      val total = rs.map(_.getAs[Double]("share")).sum
      assert(math.abs(total - 1.0) < 1e-4, s"shares sum to $total")
    }
  }

  test("agg_log_histogram: a hand value lands in its magnitude bucket") {
    // doc lengths bucket by bit length: any n in [512, 1023] => bucket 9
    val sp = spark
    val d = Tables.documents(sp, sf0001)
      .filter(col("n_chars") >= 512 && col("n_chars") <= 1023)
    val n512 = d.count()
    if (n512 > 0) {
      val out = SparkEntry.queries("agg_log_histogram")(sp, sf0001)
        .filter(col("bucket") === 9)
        .agg(sum(col("n"))).collect()(0).getLong(0)
      assert(out == n512)
    }
  }

  test("sample_ab_assign: arms partition users and chi2 matches by hand") {
    val rows = SparkEntry.queries("sample_ab_assign")(spark, sf0001)
      .collect().map(r => r.getAs[String]("arm") -> r).toMap
    assert(rows.keySet == Set("A", "B"))
    val na = rows("A").getAs[Long]("n_users")
    val nb = rows("B").getAs[Long]("n_users")
    // independent membership count straight from the events table
    val users = Tables.events(spark, sf0001)
      .select(col("user_id")).distinct()
      .withColumn("arm",
        when((col("user_id") * 2654435761L) % 1000L < 500, "A")
          .otherwise("B"))
      .groupBy("arm").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(users("A") == na && users("B") == nb)
    val chi2 = (na - nb).toDouble * (na - nb) / (na + nb)
    assert(math.abs(rows("A").getAs[Double]("srm_chi2") -
      math.rint(chi2 * 1e6) / 1e6) < 1e-9)
  }

  test("ml_ridge_normal: shrinks the fit relative to OLS, never improves it") {
    val ols = SparkEntry.queries("ml_linreg_normal")(spark, sf0001).collect()(0)
    val ridge = SparkEntry.queries("ml_ridge_normal")(spark, sf0001).collect()(0)
    assert(ridge.getAs[Long]("n") == ols.getAs[Long]("n"))
    // train-set R² of the penalized solution cannot exceed the OLS R²
    // (OLS is the unconstrained minimizer of SSE); equality would mean
    // λ had no effect, which 100·n visibly does on this corpus
    assert(ridge.getAs[Double]("r2") < ols.getAs[Double]("r2"))
    assert(ridge.getAs[Double]("r2") > 0.0)
    // the penalized feature-coefficient norm must shrink
    val bn = (r: org.apache.spark.sql.Row) =>
      math.pow(r.getAs[Double]("beta1"), 2) +
        math.pow(r.getAs[Double]("beta2"), 2)
    assert(bn(ridge) < bn(ols))
  }

  test("sim_radius_search: complete and exact vs an independent brute force") {
    val sp = spark
    val out = SparkEntry.queries("sim_radius_search")(sp, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // independent formulation: direct per-element squared-diff fold
    // (no dot-product identity, no custom expression)
    val q = Tables.embeddings(sp, sf001)
      .select(col("vec_id"),
        transform(col("embedding"),
          x => round(x.cast("double") * 10000).cast("long")).as("qv"))
    val brute = q.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("qv").as("qa"))
      .crossJoin(q.select(col("vec_id").as("cand_id"), col("qv").as("qb")))
      .filter(col("cand_id") =!= col("query_id"))
      .withColumn("d2", aggregate(
        zip_with(col("qa"), col("qb"), (a, b) => (a - b) * (a - b)),
        lit(0L), (acc, x) => acc + x))
      .filter(col("d2") <= 150000000L)
      .select("query_id", "cand_id", "d2")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out == brute)
    assert(out.nonEmpty)
  }

  test("text_ngram_novelty: window-min re-derivation agrees per source") {
    val sp = spark
    val w = Tables.documents(sp, sf001)
      .select(col("doc_id"), col("source"), split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= 8)
    val sh = w.select(col("doc_id"), col("source"),
        explode(sequence(lit(1), size(col("ws")) - 7)).as("i"), col("ws"))
      .select(col("doc_id"), col("source"),
        md5(concat_ws(" ", slice(col("ws"), col("i"), lit(8)))).as("k"))
      .distinct()
    // independent shape: window min over the shingle key instead of the
    // key's groupBy+join
    val win = org.apache.spark.sql.expressions.Window.partitionBy("k")
    val indep = sh.withColumn("first_doc", min(col("doc_id")).over(win))
      .groupBy("source")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("doc_id") === col("first_doc"), 1L).otherwise(0L))
          .as("n_novel"))
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val out = SparkEntry.queries("text_ngram_novelty")(sp, sf001).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (nsh, nnov) = indep(r.getAs[String]("source"))
      assert(r.getAs[Long]("n_shingles") == nsh)
      assert(r.getAs[Long]("n_novel") == nnov)
      val nov = r.getAs[Double]("novelty")
      assert(nov > 0.0 && nov <= 1.0)
    }
  }

  test("ml_dbscan_grid: census invariants and a real multi-cluster result") {
    val rows = SparkEntry.queries("ml_dbscan_grid")(spark, sf0001).collect()
    assert(rows.nonEmpty)
    val noise = rows.filter(_.getAs[Long]("component") == -1L)
    assert(noise.length == 1)
    assert(noise(0).getAs[Long]("n_core") == 0L &&
      noise(0).getAs[Long]("n_border") == 0L)
    val clusters = rows.filter(_.getAs[Long]("component") != -1L)
    assert(clusters.length >= 2, "density structure must exist at sf0.001")
    clusters.foreach { r =>
      assert(r.getAs[Long]("n_total") ==
        r.getAs[Long]("n_core") + r.getAs[Long]("n_border"))
      // every cluster has at least one core by construction
      assert(r.getAs[Long]("n_core") >= 1)
    }
    // labels are distinct components
    val labels = rows.map(_.getAs[Long]("component"))
    assert(labels.distinct.length == labels.length)
  }

  test("sim_ann_recall_radius: retrieved is a subset of exact per query") {
    val sp = spark
    val rows = SparkEntry.queries("sim_ann_recall_radius")(sp, sf001).collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      val ex = r.getAs[Long]("n_exact"); val lsh = r.getAs[Long]("n_lsh")
      assert(ex > 0 && lsh >= 0 && lsh <= ex,
        "same-threshold refine makes retrieved ⊆ exact")
      val rec = r.getAs[Double]("recall")
      assert(rec >= 0.0 && rec <= 1.0)
    }
  }

  test("win_bollinger: bands bracket the mid and match a hand recompute") {
    val sp = spark
    val rows = SparkEntry.queries("win_bollinger")(sp, sf001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Double]("upper") >= r.getAs[Double]("mid"))
      assert(r.getAs[Double]("lower") <= r.getAs[Double]("mid"))
    }
    // independent recompute of one type's series with a Scala sliding
    // window over the collected zero-filled daily counts
    val daily = Tables.events(sp, sf001)
      .filter(col("event_type") === "click")
      .groupBy(expr("unix_micros(ts) div 86400000000").as("day"))
      .agg(count(lit(1)).as("x"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val lo = daily.keys.min; val hi = daily.keys.max
    val series = (lo to hi).map(d => d -> daily.getOrElse(d, 0L))
    val expected = series.sliding(7).map { w =>
      val s1 = w.map(_._2).sum.toDouble
      val s2 = w.map(x => x._2 * x._2).sum.toDouble
      val mid = s1 / 7.0
      val sd = math.sqrt((s2 - s1 * s1 / 7.0) / 6.0)
      (w.last._1, math.rint(mid * 1e4) / 1e4,
        math.rint((mid + sd * 2.0) * 1e4) / 1e4)
    }.toSeq
    val got = rows.filter(_.getAs[String]("et") == "click")
      .map(r => (r.getAs[Long]("day"), r.getAs[Double]("mid"),
        r.getAs[Double]("upper"))).toSeq
    assert(got.size == expected.size)
    got.zip(expected.sortBy(_._1)).foreach { case (g, e) =>
      assert(g._1 == e._1 && math.abs(g._2 - e._2) < 1e-9 &&
        math.abs(g._3 - e._3) < 1e-9)
    }
  }

  test("join_interval_allen: census covers only defined relations, " +
    "during dominates single-day sessions") {
    val rows = SparkEntry.queries("join_interval_allen")(spark, sf001)
      .collect().map(r => r.getString(0) -> r.getAs[Long]("n_pairs")).toMap
    val legal = Set("equals", "starts", "started_by", "finishes",
      "finished_by", "during", "contains", "overlaps", "overlapped_by")
    assert(rows.keySet.subsetOf(legal))
    assert(rows.getOrElse("during", 0L) > 0, "single-day sessions exist")
    // a session contributes one pair per touched day: pair count >=
    // session count is the fan-out sanity bound
    assert(rows.values.sum > 0)
  }

  test("ml_gbdt_stump: the picked split beats a brute-force scan's rivals") {
    val sp = spark
    val row = SparkEntry.queries("ml_gbdt_stump")(sp, sf001).collect()(0)
    val t = row.getAs[Long]("threshold")
    val gain = row.getAs[Double]("sse_reduction")
    assert(gain > 0.0)
    // independent brute force over collected (x, y) pairs
    val xy = Tables.documents(sp, sf001)
      .select(size(split(col("text"), " ")).cast("long").as("x"),
        col("n_chars").as("y"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val sy = xy.map(_._2.toDouble).sum; val n = xy.length
    def g(th: Long): Double = {
      val l = xy.filter(_._1 <= th); val r = xy.filter(_._1 > th)
      if (l.isEmpty || r.isEmpty) Double.NegativeInfinity
      else {
        val syl = l.map(_._2.toDouble).sum; val syr = r.map(_._2.toDouble).sum
        syl * syl / l.length + syr * syr / r.length - sy * sy / n
      }
    }
    val best = xy.map(_._1).distinct.map(th => (math.rint(g(th) * 1e6) / 1e6,
      th)).maxBy(p => (p._1, -p._2))
    assert(best._2 == t, s"brute force picks ${best._2}, key picked $t")
    assert(math.abs(best._1 - gain) < 1e-6)
    assert(row.getAs[Long]("n_left") + row.getAs[Long]("n_right") == n)
  }

  test("sample_coreset: cells partition the corpus, radii within coverage") {
    val sp = spark
    val rows = SparkEntry.queries("sample_coreset")(sp, sf001).collect()
    assert(rows.length == 5)
    val total = Tables.embeddings(sp, sf001).count()
    assert(rows.map(_.getAs[Long]("weight")).sum == total,
      "every vector assigns to exactly one cell")
    // each cell's radius is bounded by the k-center coverage bound
    val cov = SparkEntry.queries("ml_kcenter_greedy")(sp, sf001)
      .collect()(0).getAs[Long]("coverage_sq")
    rows.foreach { r =>
      assert(r.getAs[Long]("radius_sq") <= cov)
      val share = r.getAs[Double]("share")
      assert(share > 0.0 && share <= 1.0)
    }
    // center ids are the greedy picks, round-aligned
    val centers = SparkEntry.queries("ml_kcenter_greedy")(sp, sf001)
      .collect().map(r => r.getAs[Int]("round") -> r.getAs[Long]("vec_id"))
      .toMap
    rows.foreach { r =>
      assert(centers(r.getAs[Int]("round")) == r.getAs[Long]("center_id"))
    }
  }

  test("mm_video_scene_cut: cuts bound scenes, hand recompute for one doc") {
    val sp = spark
    val rows = SparkEntry.queries("mm_video_scene_cut")(sp, sf001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val nf = r.getAs[Long]("n_frames"); val nc = r.getAs[Long]("n_cuts")
      val ls = r.getAs[Long]("longest_scene")
      assert(nc < nf && ls >= 1 && ls <= nf)
      // longest scene can't be shorter than the average scene
      assert(ls * (nc + 1) >= nf)
    }
    // independent recompute of one video's cut count in scala
    val d = rows.map(_.getAs[Long]("doc_id")).max
    val dur = Tables.documents(sp, sf001)
      .filter(col("doc_id") === d).select((col("n_chars") % 30 + 1))
      .collect()(0).getLong(0).toInt
    def h(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(md.take(15), 16)
    }
    val es = (0 until dur).map(f =>
      h(s"sc${d}_${f / 7}") % 100000L + h(s"fr${d}_$f") % 1000L)
    val cuts = es.sliding(2).count(p =>
      p.length == 2 && math.abs(p(1) - p(0)) > 2000L)
    val row = rows.find(_.getAs[Long]("doc_id") == d).get
    assert(row.getAs[Long]("n_frames") == dur.toLong)
    assert(row.getAs[Long]("n_cuts") == cuts.toLong)
  }

  test("dq_cross_field: profiled rates match independent counts, " +
    "conditional rules check antecedent subsets only") {
    val sp = spark
    val rows = SparkEntry.queries("dq_cross_field")(sp, sf0001)
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("n_checked"), r.getAs[Long]("n_violations"),
          r.getAs[Double]("violation_rate"))).toMap
    assert(rows.size == 4)
    // independent recount of one unconditional and one conditional rule
    val j = Tables.lineitem(sp, sf0001)
      .join(Tables.orders(sp, sf0001), col("l_orderkey") === col("o_orderkey"))
    val total = j.count()
    val shipViol = j.filter(!(col("l_shipdate") >= col("o_orderdate"))).count()
    assert(rows("ship_after_order")._1 == total)
    assert(rows("ship_after_order")._2 == shipViol)
    val finN = j.filter(col("o_orderstatus") === "F").count()
    assert(rows("finished_order_lines_finished")._1 == finN)
    assert(finN < total, "conditional rule must check the subset")
    rows.values.foreach { case (n, v, rate) =>
      assert(v >= 0 && v <= n)
      assert(rate >= 0.0 && rate <= 1.0)
      assert(math.abs(rate - math.rint(v.toDouble / n * 1e6) / 1e6) < 1e-9)
    }
  }

  test("text_dup_ngram_coverage: bounds and clean-doc consistency") {
    val rows = SparkEntry.queries("text_dup_ngram_coverage")(spark, sf001)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val covered = r.getAs[Long]("covered_tokens")
      val total = r.getAs[Long]("total_tokens")
      val clean = r.getAs[Long]("n_clean")
      val docs = r.getAs[Long]("n_docs")
      assert(covered >= 0 && covered <= total)
      assert(clean >= 0 && clean <= docs)
      val cov = r.getAs[Double]("dup_coverage")
      assert(cov >= 0.0 && cov <= 1.0)
      // a source where every doc is clean must have zero coverage
      if (clean == docs) assert(covered == 0L)
    }
    // the fixture corpus plants near-duplicates, so coverage exists
    assert(rows.map(_.getAs[Long]("covered_tokens")).sum > 0)
  }
}
