package graft

import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.funsuite.AnyFunSuite

/** ANN quality invariants on the recall-evaluation operator: multi-probe
  * LSH dominates single-probe per query (its candidate pool is a strict
  * superset, so exact-cosine ranking can only keep or gain true top-3
  * hits), and all recalls are valid fractions. Also the NN-descent kNN
  * index: quality monotone in rounds, its oracle's round count, and its
  * per-(session, dir) memo.
  */
class AnnRecallSpec extends AnyFunSuite with SparkFixture {

  test("multi-probe recall@3 dominates single-probe per query") {
    val rows = SparkEntry.queries("sim_ann_recall")(spark, sf001)
      .collect()
    assert(rows.length == 50)
    rows.foreach { r =>
      val lsh = r.getDouble(1); val mp = r.getDouble(2); val ivf = r.getDouble(3)
      assert(mp >= lsh, s"query ${r.getLong(0)}: mp=$mp < lsh=$lsh")
      Seq(lsh, mp, ivf).foreach(x => assert(x >= 0.0 && x <= 1.0))
    }
    // and multi-probe should actually help somewhere on this corpus
    val gain = rows.map(r => r.getDouble(2) - r.getDouble(1)).sum
    assert(gain > 0.0, "multi-probe never improved recall — probe set broken?")
  }

  test("norm-augmented LSH answers MIPS sublinearly with non-trivial recall") {
    val rows = SparkEntry.queries("sim_mips_augmented")(spark, sf001)
      .collect()
    assert(rows.length == 10)
    val nVecs = Tables.embeddings(spark, sf001).count() // same dir as the run
    rows.foreach { r =>
      val nCand = r.getLong(1); val rec = r.getDouble(2)
      assert(nCand > 0, s"query ${r.getLong(0)} probed an empty pool")
      // Sublinearity: the probed pool must be a small fraction of the
      // corpus, or the index is degenerate (everything in one bucket).
      assert(nCand * 4 < nVecs,
        s"query ${r.getLong(0)} scanned $nCand of $nVecs — not sublinear")
      assert(rec >= 0.0 && rec <= 1.0)
    }
    // The index must beat random bucketing somewhere: with ~7/64 buckets
    // probed, random candidate sets give expected recall ≈ 0.11 — demand
    // the mean clear that bar.
    val mean = rows.map(_.getDouble(2)).sum / rows.length
    assert(mean > 0.11, f"mean MIPS recall@3 $mean%.3f is no better than chance")
  }

  test("oracle-bearing IVF audit agrees with the recall report") {
    // sim_ann_recall_ivf counts hits of the SAME seed-IVF index that
    // sim_ann_recall reports as a ratio — the two views must agree per
    // query, and hit counts must be valid (0 <= hits <= k = 3).
    val audit = SparkEntry.queries("sim_ann_recall_ivf")(spark, sf001)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(audit.size == 50)
    audit.foreach { case (q, (k, hits)) =>
      assert(k == 3, s"query $q: exact top-k had $k rows")
      assert(hits >= 0 && hits <= k, s"query $q: $hits hits of $k")
    }
    val report = SparkEntry.queries("sim_ann_recall")(spark, sf001)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    audit.foreach { case (q, (k, hits)) =>
      val ratio = math.round(hits.toDouble / k * 10000) / 10000.0
      assert(math.abs(report(q) - ratio) < 1e-9,
        s"query $q: audit $ratio vs report ${report(q)}")
    }
  }

  test("oracle-bearing PQ audit agrees with the recall report; rerank " +
      "recall dominates plain ADC per query") {
    import org.apache.spark.sql.functions.col
    // sim_ann_recall_pq counts hits of the SAME ADC index that
    // sim_ann_recall reports as a ratio (pq_recall_at_3) — per-query
    // agreement pins the shared warmed index.
    val audit = SparkEntry.queries("sim_ann_recall_pq")(spark, sf001)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(audit.size == 50)
    audit.foreach { case (q, (k, hits)) =>
      assert(k == 3, s"query $q: exact top-k had $k rows")
      assert(hits >= 0 && hits <= k, s"query $q: $hits hits of $k")
    }
    val report = SparkEntry.queries("sim_ann_recall")(spark, sf001)
      .collect().map(r => r.getLong(0) -> r.getDouble(5)).toMap
    audit.foreach { case (q, (k, hits)) =>
      val ratio = math.round(hits.toDouble / k * 10000) / 10000.0
      assert(math.abs(report(q) - ratio) < 1e-9,
        s"query $q: audit $ratio vs report ${report(q)}")
    }
    // Rerank dominance: the exact-cosine rerank picks the 3 highest-true-
    // cosine members of the ADC top-20 pool, and exact-top-3 members are
    // by definition the globally highest cosines — so every exact-top-3
    // member that reaches the pool survives the rerank, and per-query
    // rerank hits >= plain ADC-top-3 hits.
    val emb = Tables.embeddings(spark, sf001)
      .select(col("vec_id"), col("embedding").as("e"))
    val exact = api.Similarity.cosineTopK(
        emb.filter(col("vec_id") < 50), col("vec_id"), col("e"),
        emb, col("vec_id"), col("e"), topK = 3)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val rerank = SparkEntry.queries("sim_pq_rerank")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(rerank.groupBy(_._1).values.forall(_.size == 3))
    val rerankHits = rerank.count(exact)
    val pqHits = audit.values.map(_._2).sum
    assert(rerankHits >= pqHits,
      s"rerank hits $rerankHits < plain ADC hits $pqHits")
    (0L until 50L).foreach { q =>
      val rh = rerank.count(p => p._1 == q && exact(p))
      val ph = audit(q)._2
      assert(rh >= ph, s"query $q: rerank $rh < adc $ph")
    }
  }

  test("ml_confusion_matrix: separable blobs score a perfect diagonal") {
    val sp = spark
    import sp.implicits._
    // 3 orthogonal 10-vector blobs, label = blob id; holdout ids
    // 0/7/14/21/28 -> n_true (2, 1, 2). Clean separation: P = R =
    // F1 = 1.0 everywhere on the diagonal.
    val vecs = (0 until 30).map { i =>
      val v = Array.fill(64)(0f)
      v(i / 10) = 1f; v(10 + (i % 10)) = 0.05f
      (i.toLong, v, i / 10)
    }.toDF("vec_id", "embedding", "label")
    val dir = graft.Scratch.fresh("confusion_spec")
    vecs.write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = SparkEntry.queries("ml_confusion_matrix")(sp, dir)
      .collect()
      .map(r => r.getInt(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4),
          r.getDouble(5), r.getDouble(6)))).toMap
    assert(out.size == 3, out.toString)
    assert(out(0) == ((2L, 2L, 2L, 1.0, 1.0, 1.0)), out.toString)
    assert(out(1) == ((1L, 1L, 1L, 1.0, 1.0, 1.0)), out.toString)
    assert(out(2) == ((2L, 2L, 2L, 1.0, 1.0, 1.0)), out.toString)
  }

  test("ml_roc_auc: separable parity labels score a perfect 1.0") {
    val sp = spark
    import sp.implicits._
    // Same 3-blob geometry as the confusion spec; blob 1 carries
    // label 1 (odd), blobs 0/2 label 0 -> the one positive holdout
    // (id 14) out-scores every negative -> AUC = 1.0 exactly.
    val vecs = (0 until 30).map { i =>
      val v = Array.fill(64)(0f)
      v(i / 10) = 1f; v(10 + (i % 10)) = 0.05f
      (i.toLong, v, if (i / 10 == 1) 1 else 0)
    }.toDF("vec_id", "embedding", "label")
    val dir = graft.Scratch.fresh("auc_spec")
    vecs.write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val r = SparkEntry.queries("ml_roc_auc")(sp, dir).collect()(0)
    assert(r.getLong(0) == 1L && r.getLong(1) == 4L, r.toString)
    assert(r.getDouble(2) == 1.0, r.toString)
  }

  test("ml_roc_auc: corpus parity target is near-chance, never degenerate") {
    val r = SparkEntry.queries("ml_roc_auc")(spark, sf001).collect()(0)
    assert(r.getLong(0) + r.getLong(1) == 72L, r.toString)
    val auc = r.getDouble(2)
    assert(auc > 0.3 && auc < 0.7, s"auc $auc") // arbitrary labels
  }

  test("ml_confusion_matrix: corpus counts balance and stay honest") {
    val out = SparkEntry.queries("ml_confusion_matrix")(spark, sf001)
      .collect()
    assert(out.length == 10)
    val (nt, np) = (out.map(_.getLong(1)).sum, out.map(_.getLong(2)).sum)
    assert(nt == np && nt == 72L, s"$nt/$np") // every holdout predicted
    val acc = out.map(_.getLong(3)).sum.toDouble / nt
    // arbitrary labels on random embeddings: accuracy ~chance, NOT zero
    assert(acc > 0.0 && acc < 0.35, s"accuracy $acc")
  }

  test("sim_matryoshka_eval: front-loaded signal gives perfect recall") {
    val sp = spark
    import sp.implicits._
    // All signal lives in dims 0..7 (rest zero), so every truncation
    // prefix ranks identically to the full vector: recall@3 = 1.0 at
    // 8, 16 and 32 dims.
    val vecs = (0 until 60).map { i =>
      val v = Array.fill(64)(0f)
      (0 until 8).foreach(d => v(d) = ((i * 7 + d * 3) % 13 + 1).toFloat)
      (i.toLong, v, 0)
    }.toDF("vec_id", "embedding", "label")
    val dir = graft.Scratch.fresh("mrl_spec")
    vecs.write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = SparkEntry.queries("sim_matryoshka_eval")(sp, dir)
      .collect()
    assert(out.length == 3)
    out.foreach { r =>
      assert(r.getLong(1) == 150L, r.toString)
      assert(r.getDouble(3) == 1.0, r.toString)
    }
  }

  test("sim_matryoshka_eval: corpus recall grows with kept dimensions") {
    val out = SparkEntry.queries("sim_matryoshka_eval")(spark, sf001)
      .collect().sortBy(_.getInt(0))
    assert(out.map(_.getInt(0)).toSeq == Seq(8, 16, 32))
    val rs = out.map(_.getDouble(3))
    assert(rs.zip(rs.tail).forall { case (a, b) => b >= a },
      rs.mkString(","))
    // random (non-MRL-trained) embeddings: truncation must HURT — the
    // audit's honesty check
    assert(rs.last < 0.9 && rs.head < rs.last)
  }

  test("sim_ivf_pq: probed-cell laws and subset-dominance vs plain PQ") {
    val ivfpq = SparkEntry.queries("sim_ivf_pq")(spark, sf001).collect()
    assert(ivfpq.length == 150) // 50 queries × top-3
    // nprobe = 2: every query's candidates come from at most 2 cells
    ivfpq.groupBy(_.getLong(0)).foreach { case (q, rs) =>
      assert(rs.map(_.getLong(3)).distinct.length <= 2, s"query $q")
      val ds = rs.sortBy(_.getInt(1)).map(_.getDouble(4))
      assert(ds.zip(ds.tail).forall { case (a, b) => a <= b + 1e-9 },
        s"query $q ranks out of ADC order")
    }
    // The IVF restriction ranks the SAME ADC metric over a SUBSET of
    // the corpus, so its best distance can never beat plain PQ's.
    val pq1 = SparkEntry.queries("sim_ann_pq")(spark, sf001).collect()
      .filter(_.getInt(1) == 1)
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    ivfpq.filter(_.getInt(1) == 1).foreach { r =>
      assert(r.getDouble(4) >= pq1(r.getLong(0)) - 1e-9,
        s"query ${r.getLong(0)}: subset min beat the full min")
    }
  }

  test("mmrRerank demotes near-duplicates that plain cosine ranks ahead") {
    val sp = spark
    import sp.implicits._
    // Query along x. A1/A2 are near-duplicates ~26 degrees off-axis
    // (rel 0.900/0.899, sim(A1,A2) ~0.9996); B sits BELOW the axis with
    // rel 0.870 and sim(A1,B) ~0.568. Plain cosine: A1, A2, B. MMR
    // (lambda .7) after picking A1: score(B) = 0.609 - 0.3*0.568 = 0.44
    // beats score(A2) = 0.629 - 0.3*0.9996 = 0.33 — diversity wins.
    // Expected pick order: A1, B, A2, then the filler.
    val vecs = Seq(
      (0L, Array(1f, 0f, 0f)),           // query
      (1L, Array(0.9f, 0.436f, 0f)),     // A1 (rel highest)
      (2L, Array(0.9f, 0.437f, 0.03f)),  // A2 (near-dup, rel just below)
      (3L, Array(0.87f, -0.493f, 0f)),   // B  (diverse, rel 0.870)
      (4L, Array(0.5f, 0f, 0.866f))      // filler (rel 0.5)
    ).toDF("vec_id", "e")
    val out = graft.api.Similarity.mmrRerank(
      vecs.filter(col("vec_id") === 0L), col("vec_id"), col("e"),
      vecs, col("vec_id"), col("e"),
      poolK = 4, selectK = 4, lambdaPct = 70)
      .orderBy("rank").collect().map(r => (r.getInt(1), r.getLong(2)))
    assert(out.toSeq == Seq((1, 1L), (2, 3L), (3, 2L), (4, 4L)),
      out.mkString(","))
    // Plain cosine keeps the duplicate adjacent — the thing MMR fixes.
    val plain = graft.api.Similarity.cosineTopK(
      vecs.filter(col("vec_id") === 0L), col("vec_id"), col("e"),
      vecs, col("vec_id"), col("e"), topK = 4)
      .orderBy("rank").collect().map(_.getLong(2))
    assert(plain.toSeq == Seq(1L, 2L, 3L, 4L), plain.mkString(","))
    // Trajectory is partitioning-independent.
    val rep = graft.api.Similarity.mmrRerank(
      vecs.filter(col("vec_id") === 0L), col("vec_id"), col("e"),
      vecs.repartition(5), col("vec_id"), col("e"),
      poolK = 4, selectK = 4, lambdaPct = 70)
      .orderBy("rank").collect().map(r => (r.getInt(1), r.getLong(2)))
    assert(rep.toSeq == out.toSeq)
  }

  test("sim_hamming_topk: valid codes, bounded distances, useful recall") {
    val out = SparkEntry.queries("sim_hamming_topk")(spark, sf001)
      .collect()
    assert(out.length == 30) // 10 queries × top-3
    out.foreach { r =>
      val h = r.getInt(3); val cos = r.getDouble(4)
      assert(h >= 0 && h <= 64, r.toString)
      assert(cos >= -1.0001 && cos <= 1.0001, r.toString)
      // A reranked top-3 neighbor drawn from the CLOSE half of Hamming
      // space: median thresholding centers random pairs at 32/64, so a
      // candidate that survives both stages must sit well below that.
      assert(h < 32, s"rank-${r.getInt(1)} neighbor at hamming $h")
    }
    // Recall@3 vs the exact cosine top-3 (sim_cosine_topk restricted to
    // rank<=3): 8-byte codes + a 20-of-500 pool measured 19/30 on this
    // corpus — pin a conservative floor so a quantizer regression
    // (unbalanced bits, broken packing) fails loudly.
    val exact = SparkEntry.queries("sim_cosine_topk")(spark, sf001)
      .filter(col("rank") <= 3)
      .select("query_id", "cand_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val hits = out.count(r => exact((r.getLong(0), r.getLong(2))))
    assert(hits >= 13, s"recall@3 = $hits/30 — binary index degraded")
  }

  test("ml_calibration_curve: accounting closes and ECE is the weighted gap") {
    val out = SparkEntry.queries("ml_calibration_curve")(spark, sf001)
      .collect()
    assert(out.map(_.getLong(1)).sum == 72L) // every holdout in a bucket
    out.foreach { r =>
      val (score, n, np) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(score >= 0 && score <= 10)
      assert(np >= 0 && np <= n)
      assert(r.getLong(3) == score * 100)
      assert(r.getLong(4) == 1000 * np / n)
      assert(r.getLong(5) == r.getLong(4) - r.getLong(3))
    }
    val ece = out.map(r => r.getLong(1) * math.abs(r.getLong(5))).sum /
      out.map(_.getLong(1)).sum
    assert(out.forall(_.getLong(6) == ece), s"ece mismatch vs $ece")
    // random labels: observed rate can't follow the predicted ramp, so
    // calibration error must be clearly nonzero — the honest readout
    assert(ece > 50, s"ece $ece suspiciously perfect for random labels")
  }

  test("sim_ann_recall_hamming: constant pool, recall floor holds") {
    val out = SparkEntry.queries("sim_ann_recall_hamming")(spark, sf001)
      .collect()
    assert(out.length == 10)
    out.foreach { r =>
      assert(r.getLong(1) == 20L, r.toString) // pool is FIXED by design
      val rec = r.getDouble(2)
      assert(rec >= 0.0 && rec <= 1.0)
    }
    val total = out.map(_.getDouble(2)).sum / 10
    assert(total >= 0.4, s"mean recall@3 $total — binary index degraded")
  }

  test("nndescent: top-8 quality is monotone in rounds, bounded, deterministic") {
    val sp = spark
    import org.apache.spark.sql.functions.{avg, col, count, max}
    // The NN-descent invariant: each round's candidate union CONTAINS
    // the incumbent top-8, so mean neighbor quality can only improve.
    val means = (0 to 3).map { r =>
      graft.operators.Similarity.nndescentKnn(sp, sf0001, rounds = r)
        .agg(avg("cq")).head().getDouble(0)
    }
    means.sliding(2).foreach { case Seq(a, b) =>
      assert(b >= a, s"quality regressed across rounds: $means")
    }
    assert(means.last > means.head, s"no convergence at all: $means")
    // bounded: exactly <= 8 neighbors per node, no self-loops
    val g = graft.operators.Similarity.nndescentKnn(sp, sf0001, rounds = 2)
    val per = g.groupBy("u").agg(count(lit(1)).as("c"))
      .agg(max("c")).head().getLong(0)
    assert(per <= 8, s"node with $per neighbors")
    assert(g.filter(col("u") === col("m")).count() == 0)
    // deterministic: a rebuild is bit-identical
    val h1 = g.orderBy("u", "m").collect().toSeq
    val h2 = graft.operators.Similarity.nndescentKnn(sp, sf0001, rounds = 2)
      .orderBy("u", "m").collect().toSeq
    assert(h1 == h2)
  }

  test("nndescent oracle SQL replays exactly NndRounds rounds and the " +
    "graph is memoized per (session, dir, rounds)") {
    // The rounds constant and the oracle's CTE depth derive from ONE
    // value — a drift would rename the terminal CTE and break both
    // oracle queries at driver time; this pins it at test time.
    val sql = SparkEntry.oracleSql("sim_ann_nndescent")
    val r = graft.operators.Similarity.NndRounds
    assert(sql.contains(s"FROM k$r "), s"oracle must read k$r")
    assert(!sql.contains(s"k${r + 1}"), "oracle replays too many rounds")
    // Memoization: the second call must return the SAME frame reference
    // (a rebuild is the 3.41 s VERDICT r14 defect).
    val sp = spark
    val dir = "/root/testdata/sf0.001"
    val a = graft.operators.Similarity.nndescentKnn(sp, dir)
    val b = graft.operators.Similarity.nndescentKnn(sp, dir)
    assert(a eq b, "nndescentKnn must be memoized per (session, dir)")
  }
}
