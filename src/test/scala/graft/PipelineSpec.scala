package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** graft.api.Pipeline — the training-data pipeline operators — exercised
  * on small non-corpus DataFrames with hand-computed expectations.
  */
class PipelineSpec extends AnyFunSuite with SparkFixture {

  test("chunkWindows: stride arithmetic, tail chunk, short doc") {
    val sp = spark
    import sp.implicits._
    // 20 tokens t1..t20, window 8, stride 5 → ceil((20-8)/5)+1 = 4 chunks
    // starting at 0,5,10,15; the tail chunk is short (len 5) and reaches
    // the final token.
    val doc = (1 to 20).map(i => s"t$i").mkString(" ")
    val out = api.Pipeline.chunkWindows(
      Seq((1L, doc), (2L, "a b")).toDF("id", "txt"),
      col("id"), col("txt"), window = 8, stride = 5)
      .orderBy("id", "chunk_id").collect()
    val d1 = out.filter(_.getLong(0) == 1L)
    assert(d1.map(_.getLong(1)).toSeq == Seq(0L, 1L, 2L, 3L))
    assert(d1.map(_.getLong(3)).toSeq == Seq(8L, 8L, 8L, 5L)) // chunk_len
    assert(d1.map(_.getString(4)).toSeq == Seq("t1", "t6", "t11", "t16"))
    assert(d1.map(_.getString(5)).toSeq == Seq("t8", "t13", "t18", "t20"))
    val d2 = out.filter(_.getLong(0) == 2L)
    assert(d2.length == 1 && d2(0).getLong(3) == 2L)
    assert(d2(0).getString(4) == "a" && d2(0).getString(5) == "b")
  }

  test("chunkWindows covers every token when stride < window") {
    val sp = spark
    import sp.implicits._
    // window 8 stride 5 on 23 tokens: chunks 0,5,10,15 → last covers
    // t16..t23; union of [start, start+len) must be [0, n).
    val doc = (1 to 23).map(i => s"t$i").mkString(" ")
    val rows = api.Pipeline.chunkWindows(
      Seq((1L, doc)).toDF("id", "txt"), col("id"), col("txt"), 8, 5)
      .collect()
    val covered = rows.flatMap { r =>
      val s = r.getLong(2); val l = r.getLong(3); s until (s + l)
    }.toSet
    assert(covered == (0L until 23L).toSet)
  }

  test("contaminationNgram finds the planted overlap, not the disjoint doc") {
    val sp = spark
    import sp.implicits._
    val bench = Seq((100L, "alpha beta gamma delta epsilon")).toDF("id", "t")
    val corpus = Seq(
      (1L, "zzz alpha beta gamma delta yyy"), // shares 3 of 4 bigrams
      (2L, "one two three four five six")     // shares none
    ).toDF("id", "t")
    val got = api.Pipeline.contaminationNgram(
      corpus, col("id"), col("t"), bench, col("id"), col("t"),
      n = 2, minOverlap = 0.5).collect()
    assert(got.length == 1)
    assert(got(0).getLong(0) == 1L && got(0).getLong(1) == 100L)
    assert(got(0).getLong(2) == 3L && got(0).getLong(3) == 4L)
    assert(got(0).getDouble(4) == 0.75)
  }

  test("sessionize splits on gap, numbers sessions per key") {
    val sp = spark
    import sp.implicits._
    val base = 1700000000000000L // µs
    val m = 60L * 1000000L
    val ev = Seq(
      ("u1", base, 1L), ("u1", base + 10 * m, 2L),      // session 1
      ("u1", base + 50 * m, 3L),                         // gap 40m → s2
      ("u1", base + 55 * m, 4L),
      ("u2", base, 5L)                                   // own key → s1
    ).toDF("u", "us", "eid")
      .select(col("u"), timestamp_micros(col("us")).as("ts"), col("eid"))
    val got = api.Pipeline.sessionize(
      ev, col("u"), col("ts"), col("eid"), gapMinutes = 30)
      .select("sess_key", "sess_tie", "session_seq")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set(("u1", 1L, 1L), ("u1", 2L, 1L), ("u1", 3L, 2L),
      ("u1", 4L, 2L), ("u2", 5L, 1L)))
  }

  test("stratifiedHashSample is deterministic and near the target rate") {
    val df = spark.range(10000).toDF("id")
    val a = api.Pipeline.stratifiedHashSample(df, col("id"), 100)
      .collect().map(_.getLong(0)).toSet
    val b = api.Pipeline.stratifiedHashSample(df, col("id"), 100)
      .collect().map(_.getLong(0)).toSet
    assert(a == b)
    assert(math.abs(a.size - 1000) < 150, s"rate off: ${a.size}")
    // permille 0 and 1000 are the empty and full samples.
    assert(api.Pipeline.stratifiedHashSample(df, col("id"), 0).count() == 0)
    assert(api.Pipeline.stratifiedHashSample(df, col("id"), 1000)
      .count() == 10000)
  }

  test("weightedMixture quotas are integer-exact and selection is min-ids") {
    val sp = spark
    import sp.implicits._
    // a: 10 docs, b: 30 docs; weights 500/300 permille.
    // T = min(1000*10/500, 1000*30/300) = min(20, 100) = 20
    // quota_a = 20*500/1000 = 10, quota_b = 20*300/1000 = 6.
    val df = ((1 to 10).map(i => ("a", i.toLong)) ++
      (101 to 130).map(i => ("b", i.toLong))).toDF("src", "id")
    val got = api.Pipeline.weightedMixture(
      df, col("src"), col("id"), Map("a" -> 500L, "b" -> 300L))
    val byS = got.collect().groupBy(_.getString(0))
    assert(byS("a").length == 10 && byS("b").length == 6)
    assert(byS("b").map(_.getLong(1)).sorted.toSeq ==
      (101L to 106L)) // smallest ids win
    assert(byS("a").head.getLong(4) == 10L && byS("b").head.getLong(4) == 6L)
  }

  test("packConcatSplit bins follow the running sum") {
    val sp = spark
    import sp.implicits._
    // budget 10, one group, docs of 4,4,4,9,1 tokens →
    // before: 0,4,8,12,21 → first_bin 0,0,0,1,2 / last_bin 0,0,1,2,2.
    val df = Seq(("g", 1L, 4L), ("g", 2L, 4L), ("g", 3L, 4L),
      ("g", 4L, 9L), ("g", 5L, 1L)).toDF("g", "id", "tc")
    val got = api.Pipeline.packConcatSplit(
      df, col("g"), col("id"), col("tc"), budget = 10)
      .orderBy("id").collect()
    assert(got.map(_.getLong(3)).toSeq == Seq(0L, 0L, 0L, 1L, 2L))
    assert(got.map(_.getLong(4)).toSeq == Seq(0L, 0L, 1L, 2L, 2L))
    assert(got.map(_.getLong(5)).toSeq == Seq(1L, 1L, 2L, 2L, 1L))
  }

  test("funnel counts strictly-ordered stage reachers") {
    val sp = spark
    import sp.implicits._
    val base = 1700000000000000L
    val ev = Seq(
      // u1 completes view→click→buy in order.
      ("u1", "view", 1L), ("u1", "click", 2L), ("u1", "buy", 3L),
      // u2 clicks BEFORE viewing — click must not count.
      ("u2", "click", 1L), ("u2", "view", 2L),
      // u3 views only.
      ("u3", "view", 5L),
      // u4 has click exactly AT the view instant — strict > excludes it.
      ("u4", "view", 7L), ("u4", "click", 7L)
    ).toDF("u", "et", "off")
      .select(col("u"), col("et"),
        timestamp_micros(col("off") * 1000000L + base).as("ts"))
    val got = api.Pipeline.funnel(
      ev, col("u"), col("et"), col("ts"), Seq("view", "click", "buy"))
      .orderBy("stage_idx").collect()
    assert(got.map(_.getLong(2)).toSeq == Seq(4L, 1L, 1L))
    assert(got.map(_.getDouble(3)).toSeq == Seq(1.0, 0.25, 0.25))
  }

  test("cohortRetention buckets by first-seen day and week offset") {
    val sp = spark
    import sp.implicits._
    val ev = Seq(
      ("a", "2024-01-01"), ("a", "2024-01-03"), ("a", "2024-01-09"),
      ("b", "2024-01-01"), ("b", "2024-01-20"),
      ("c", "2024-01-02")
    ).toDF("u", "ds").select(col("u"), col("ds").cast("timestamp").as("ts"))
    val got = api.Pipeline.cohortRetention(ev, col("u"), col("ts"))
      .collect()
      .map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2))).toSet
    // a: offsets 0 (d0,d2), 1 (d8); b: 0 and 2 (d19); c: 0.
    assert(got == Set(
      ("2024-01-01", 0L, 2L), ("2024-01-01", 1L, 1L), ("2024-01-01", 2L, 1L),
      ("2024-01-02", 0L, 1L)))
  }

  test("pageRank matches power iteration on a hand graph, mass conserved") {
    val sp = spark
    import sp.implicits._
    // Directed: 1→2, 1→3, 2→3, 3→1, 4 dangling (edge 2→4 gives it rank).
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 1L))
      .toDF("s", "d")
    val got = api.Graph.pageRank(
      api.Graph.rankEdges(edges, col("s"), col("d")),
      iterations = 30, damping = 0.85)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // Reference power iteration, same dangling/teleport handling.
    var r = Map(1L -> 0.25, 2L -> 0.25, 3L -> 0.25, 4L -> 0.25)
    val out = Map(1L -> Seq(2L, 3L), 2L -> Seq(3L, 4L), 3L -> Seq(1L))
    (1 to 30).foreach { _ =>
      val dm = r(4L)
      val contrib = out.toSeq.flatMap { case (s, ds) =>
        ds.map(d => d -> r(s) / ds.size)
      }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      r = r.keys.map(k =>
        k -> (0.15 / 4 + 0.85 * (contrib.getOrElse(k, 0.0) + dm / 4))).toMap
    }
    r.foreach { case (k, v) => assert(math.abs(got(k) - v) < 1e-9, s"$k") }
    assert(math.abs(got.values.sum - 1.0) < 1e-9)
  }

  test("neighborJaccard: exact on a hand graph; hub cap bounds and stays deterministic") {
    val sp = spark
    import sp.implicits._
    // Square 1-2-3-4-1 plus diagonal 1-3: N(2)={1,3}, N(4)={1,3} →
    // common(2,4)=2, deg 2+2, jaccard = 2/(2+2-2) = 1.
    val sq = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L))
      .toDF("s", "d")
    val exact = api.Graph.neighborJaccard(
      api.Graph.undirected(sq, col("s"), col("d")), minCommon = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getLong(2), r.getDouble(3))).toSet
    assert(exact.contains((2L, 4L, 2L, 1.0)))
    // Hub star: node 0 adjacent to 1..40, plus a planted pair 41-42
    // sharing neighbors 1,2,3. Cap 5: every capped degree <= 5, so
    // common <= 5 everywhere and the join is bounded — and the sampled
    // result must be IDENTICAL under different input partitionings
    // (md5 order, no RNG).
    val hub = ((1L to 40L).map(i => (0L, i)) ++
      Seq((41L, 1L), (41L, 2L), (41L, 3L), (42L, 1L), (42L, 2L), (42L, 3L)))
      .toDF("s", "d")
    def run(parts: Int) = api.Graph.neighborJaccard(
      api.Graph.undirected(hub.repartition(parts), col("s"), col("d")),
      minCommon = 1, maxNeighbors = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getLong(2), r.getDouble(3))).toSet
    val a = run(2)
    assert(a == run(7), "capped sample must be partition-invariant")
    assert(a.forall(_._3 <= 5), "common cannot exceed the cap")
    // 41 and 42 have true degree 3 (< cap): their pair survives exactly.
    assert(a.contains((41L, 42L, 3L, 1.0)))
  }

  test("pageRank fixed-point is partition-invariant, bit-exact") {
    val sp = spark
    import sp.implicits._
    // A messy-enough synthetic graph (hash-derived, ~200 nodes, skewed
    // degrees) where float summation order WOULD diverge across
    // partitionings; fixed-point must not move a single unit.
    val edges = (0 until 800).map { i =>
      (math.abs((i * 2654435761L) % 200), math.abs((i * 40503L + 7) % 200))
    }.filter { case (s, d) => s != d }.toDF("s", "d")
    def run(parts: Int): Map[Long, Long] =
      api.Graph.pageRank(api.Graph.rankEdges(edges.repartition(parts),
          col("s"), col("d"), undirected = true), iterations = 8)
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val a = run(1)
    val b = run(13)
    assert(a == b, "rank_fp must be identical at any parallelism")
    // Mass conservation in integer units: truncation loses < Σdeg + 2n
    // units per round — far inside the 1e-6 certificate.
    val total = a.values.sum
    assert(math.abs(1000000000000000L - total) < 1000000000L)
  }

  test("perplexity matches the closed form on a tiny corpus") {
    val sp = spark
    import sp.implicits._
    // Corpus: "a a a b" → p(a)=3/4, p(b)=1/4.
    // doc1 "a a" → ppl = exp(-ln(3/4)) = 4/3; doc2 "a b" →
    // exp(-(ln .75 + ln .25)/2) = 1/sqrt(.1875).
    val docs = Seq((1L, "a a"), (2L, "a b")).toDF("id", "t")
    val got = api.Text.perplexity(docs, col("id"), col("t"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    assert(got(1L)._1 == 2 && math.abs(got(1L)._2 - 4.0 / 3.0) < 1e-3)
    assert(math.abs(got(2L)._2 - 1.0 / math.sqrt(0.1875)) < 1e-3)
    // Rare-token docs score strictly higher than boilerplate docs.
    assert(got(2L)._2 > got(1L)._2)
  }

  test("countmin bound certificate holds on the registry query") {
    val rows = SparkEntry.queries("udaf_countmin")(spark, sf0001).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getBoolean(4)), "CMS one-sided bound violated")
  }

  test("kMeans recovers separable blobs exactly") {
    val sp = spark
    import sp.implicits._
    // Two tight blobs around (0,0) and (10,10); init takes the first 2
    // vectors (one from each blob by construction of the ids).
    val pts = Seq(
      (1L, Seq(0.0, 0.1)), (2L, Seq(10.0, 10.1)),
      (3L, Seq(0.1, 0.0)), (4L, Seq(9.9, 10.0)),
      (5L, Seq(-0.1, 0.0)), (6L, Seq(10.1, 9.9))
    ).toDF("id", "v")
    val got = api.Similarity.kMeans(pts, col("id"), col("v"),
      k = 2, iterations = 5)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got(1L) == got(3L) && got(3L) == got(5L))
    assert(got(2L) == got(4L) && got(4L) == got(6L))
    assert(got(1L) != got(2L))
    // Assignment distance is to the blob mean, so it's tiny.
    val d = api.Similarity.kMeans(pts, col("id"), col("v"), 2, 5)
      .agg(max("sq_dist")).collect()(0).getDouble(0)
    assert(d < 0.05, s"max sq_dist $d")
  }

  test("kMeansSilhouettePoints: 1-d line gives hand-exact a2/b2") {
    val sp = spark
    import sp.implicits._
    // Points 0/2 and 10/12 on a line; Lloyd(k=2) converges to centroids
    // 1 and 11, so every point has a2 = 1 and b2 = (dist to the other
    // centroid)^2 = 121/81/81/121.
    val pts = Seq(
      (1L, Seq(0.0)), (2L, Seq(2.0)), (3L, Seq(10.0)), (4L, Seq(12.0))
    ).toDF("id", "v")
    val got = api.Similarity.kMeansSilhouettePoints(
        pts, col("id"), col("v"), k = 2, iterations = 5)
      .collect()
      .map(r => r.getLong(0) -> ((r.getDouble(2), r.getDouble(3)))).toMap
    assert(got(1L) == ((1.0, 121.0)), got.toString)
    assert(got(2L) == ((1.0, 81.0)), got.toString)
    assert(got(3L) == ((1.0, 81.0)), got.toString)
    assert(got(4L) == ((1.0, 121.0)), got.toString)
    // silhouette of the corpus key's shape: s = (b−a)/max -> 10/11, 8/9
    val s1 = (11.0 - 1.0) / 11.0
    assert(math.abs(s1 - 0.9091) < 1e-4)
  }

  test("ml_silhouette: corpus clusters are coherent (0 < s <= 1)") {
    val out = SparkEntry.queries("ml_silhouette")(spark, sf001).collect()
    assert(out.length == 8)
    assert(out.map(_.getLong(1)).sum == 500L)
    out.foreach { r =>
      val (mean, mn) = (r.getDouble(2), r.getDouble(3))
      assert(mean > 0 && mean <= 1.0, r.toString)
      assert(mn <= mean && mn >= -1.0, r.toString)
    }
  }

  test("fuzzyJoin blocks first, then scores within the block") {
    val sp = spark
    import sp.implicits._
    val l = Seq((1L, "red widget", "B1"), (2L, "blue bolt", "B2"))
      .toDF("id", "name", "brand")
    val r = Seq(
      (10L, "red widgets", "B1"), // dist 1, same block → match
      (11L, "red widget", "B2"),  // identical text, DIFFERENT block → out
      (12L, "blue volt", "B2")    // dist 1 vs blue bolt, same block
    ).toDF("rid", "rname", "rbrand")
    val got = api.Joins.fuzzyJoin(
      l, col("id"), col("name"), Seq(col("brand")),
      r, col("rid"), col("rname"), Seq(col("rbrand")), maxDist = 2)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getInt(4))).toSet
    assert(got == Set((1L, 10L, 1), (2L, 12L, 1)))
  }

  test("scd2Apply closes changed rows, appends versions, ignores no-ops") {
    val sp = spark
    import sp.implicits._
    val dim = Seq(
      // (key, value, from, to): key 1 has history + live, key 2 live only.
      (1L, 10, "2024-01-01", Some("2024-03-01")),
      (1L, 11, "2024-03-01", None),
      (2L, 20, "2024-01-01", None),
      (3L, 30, "2024-01-01", None)
    ).toDF("k", "v", "f", "t")
      .select(col("k"), col("v"), col("f").cast("date").as("f"),
        col("t").cast("date").as("t"))
    val ch = Seq((1L, 99), (2L, 20), (4L, 40)) // change, no-op, unknown key
      .toDF("k", "nv")
      .withColumn("ed", lit("2024-06-01").cast("date"))
    val got = api.Joins.scd2Apply(
      dim, col("k"), col("v"), col("f"), col("t"),
      ch, col("k"), col("nv"), col("ed"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1),
        r.getDate(2).toString,
        Option(r.getDate(3)).map(_.toString), r.getBoolean(4))).toSet
    assert(got == Set(
      (1L, 10, "2024-01-01", Some("2024-03-01"), false), // history kept
      (1L, 11, "2024-03-01", Some("2024-06-01"), false), // closed
      (1L, 99, "2024-06-01", None, true),                // new version
      (2L, 20, "2024-01-01", None, true),                // no-op unchanged
      (3L, 30, "2024-01-01", None, true)))               // untouched
  }

  test("packNextFit: fill bound holds, docs never split, oversize isolated") {
    val sp = spark
    import sp.implicits._
    val rnd = new scala.util.Random(11)
    val docs = (1L to 200L).map(i => ("g" + (i % 2), i,
      if (i == 7L) 900L else 1 + rnd.nextInt(400).toLong))
    val df = docs.toDF("src", "id", "tc")
    val got = api.Pipeline.packNextFit(
      df, col("src"), col("id"), col("tc"), budget = 512, shards = 3)
      .collect()
    assert(got.length == 200) // every doc packed exactly once
    got.foreach { r =>
      val tc = r.getLong(4); val fill = r.getLong(5)
      assert(fill <= 512 || tc > 512, s"overfull bin: $r")
    }
    // Within a (group, shard), bins are consecutive from 0 and fills are
    // reconstructible by replaying next-fit over ids in order.
    got.groupBy(r => (r.getString(1), r.getInt(2))).foreach {
      case (_, rows) =>
        val sorted = rows.sortBy(_.getLong(0))
        var bin = 0L; var fill = 0L
        sorted.foreach { r =>
          val tc = r.getLong(4)
          if (fill > 0 && fill + tc > 512) { bin += 1; fill = 0 }
          fill += tc
          assert(r.getLong(3) == bin && r.getLong(5) == fill,
            s"replay mismatch at ${r.getLong(0)}")
        }
    }
  }

  test("packFirstFitDecreasing: replayable, bounded, never worse than next-fit") {
    val sp = spark
    import sp.implicits._
    val rnd = new scala.util.Random(13)
    val docs = (1L to 200L).map(i => ("g" + (i % 2), i,
      if (i == 9L) 900L else 1 + rnd.nextInt(400).toLong))
    val df = docs.toDF("src", "id", "tc")
    val got = api.Pipeline.packFirstFitDecreasing(
      df, col("src"), col("id"), col("tc"), budget = 512, shards = 3)
      .collect()
    assert(got.length == 200)
    got.foreach { r =>
      assert(r.getLong(5) <= 512 || r.getLong(4) > 512, s"overfull bin: $r")
    }
    // Replay FFD independently per (group, shard) and compare bins.
    got.groupBy(r => (r.getString(1), r.getInt(2))).foreach {
      case (_, rows) =>
        val byId = rows.map(r => r.getLong(0) -> r.getLong(3)).toMap
        val items = rows.map(r => (r.getLong(0), r.getLong(4)))
          .sortBy { case (id, tc) => (-tc, id) }
        val loads = scala.collection.mutable.ArrayBuffer.empty[Long]
        items.foreach { case (id, tc) =>
          val i = loads.indexWhere(_ + tc <= 512)
          val bin = if (i >= 0) { loads(i) += tc; i }
          else { loads += tc; loads.length - 1 }
          assert(byId(id) == bin.toLong, s"replay mismatch at doc $id")
        }
        // FFD's bin count must never exceed next-fit's on the same items.
        var nfBins = 1L; var fill = 0L
        rows.sortBy(_.getLong(0)).foreach { r =>
          val tc = r.getLong(4)
          if (fill > 0 && fill + tc > 512) { nfBins += 1; fill = 0 }
          fill += tc
        }
        assert(loads.length <= nfBins,
          s"FFD used ${loads.length} bins, next-fit $nfBins")
    }
  }

  test("triangleStats: hand graph census, dup/self-loop/direction immune") {
    val sp = spark
    import sp.implicits._
    // K4 on {1,2,3,4} (4 triangles) plus pendant edge 5-1.
    // Degrees: 1→4, 2,3,4→3, 5→1 ⇒ wedges = C(4,2)+3·C(3,2) = 6+9 = 15.
    // Edges fed with duplicates, reversed copies, self-loops and null
    // endpoints — all must be dropped by canonicalization.
    val messy = Seq[(Option[Long], Option[Long])](
      (Some(1L), Some(2L)), (Some(2L), Some(1L)), (Some(1L), Some(3L)),
      (Some(1L), Some(4L)), (Some(2L), Some(3L)), (Some(3L), Some(4L)),
      (Some(2L), Some(4L)), (Some(4L), Some(2L)), (Some(1L), Some(5L)),
      (Some(3L), Some(3L)), (Some(1L), Some(2L)), (Some(6L), None),
      (None, None))
      .toDF("a", "b")
    val edges = api.Graph.undirected(messy, col("a"), col("b"))
    val r = api.Graph.triangleStats(edges).collect()(0)
    assert(r.getLong(0) == 5, "n_nodes")
    assert(r.getLong(1) == 7, "n_edges")
    assert(r.getLong(2) == 15, "n_wedges")
    assert(r.getLong(3) == 4, "n_triangles")
    assert(math.abs(r.getDouble(4) - 3.0 * 4 / 15) < 1e-4, "transitivity")
    // The canonical form of the same graph: every kernel over
    // Graph.Edges must read the messy list exactly as this one.
    val canonical = api.Graph.undirected(Seq((1L, 2L), (1L, 3L), (1L, 4L),
      (1L, 5L), (2L, 3L), (2L, 4L), (3L, 4L)).toDF("a", "b"),
      col("a"), col("b"))
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    assert(rows(edges.df) == rows(canonical.df), "canonical edge rows")
    val kernels: Seq[(String, api.Graph.Edges => org.apache.spark.sql.DataFrame)] =
      Seq(
        "triangleStats" -> (e => api.Graph.triangleStats(e)),
        "localClustering" -> (e => api.Graph.localClustering(e)),
        "bfs" -> (e => api.Graph.bfs(e, source = 5L, maxHops = 3)),
        "multiSourceBfs" ->
          (e => api.Graph.multiSourceBfs(e, Seq(2L, 5L), maxHops = 3)),
        "kCorePeel" -> (e => api.Graph.kCorePeel(e, k = 3, rounds = 2)),
        "neighborJaccard" -> (e => api.Graph.neighborJaccard(e, minCommon = 1)),
        "labelPropagation" -> (e => api.Graph.labelPropagation(e, rounds = 2)),
        "modularity" -> (e => api.Graph.modularity(e,
          api.Graph.labelPropagation(e, rounds = 2))))
    kernels.foreach { case (name, k) =>
      assert(rows(k(edges)) == rows(k(canonical)), name)
    }
  }

  test("triangleStats: triangle-free bipartite graph counts zero") {
    val sp = spark
    import sp.implicits._
    // C4 cycle 1-2-3-4-1 (bipartite): 4 wedges, 0 triangles.
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("a", "b")
    val r = api.Graph.triangleStats(
      api.Graph.undirected(edges, col("a"), col("b"))).collect()(0)
    assert(r.getLong(2) == 4 && r.getLong(3) == 0)
  }

  test("graph_triangles registry census is internally consistent") {
    val r = SparkEntry.queries("graph_triangles")(spark, sf0001).collect()(0)
    val (nodes, edges, wedges, tris) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    assert(nodes > 0 && edges > 0)
    assert(edges <= nodes * (nodes - 1) / 2)
    // Each triangle consumes 3 wedges; transitivity ∈ [0, 1].
    assert(3 * tris <= wedges)
    assert(r.getDouble(4) >= 0.0 && r.getDouble(4) <= 1.0)
  }

  test("binned range join equals the naive nested-loop on a hand case") {
    val sp = spark
    import sp.implicits._
    // Intervals [0,200) and [250,450) in µs-scale ticks; points chosen to
    // sit on bin edges (bin width from the registry op is 1h — here we
    // replicate the shape inline with the same sequence/explode plumbing
    // at width 100 to keep numbers readable).
    val BIN = 100L
    val iv = Seq((10L, 0L, 200L), (20L, 250L, 450L), (30L, 500L, 510L))
      .toDF("iid", "lo", "hi")
    val pts = Seq((1L, 0L), (2L, 199L), (3L, 200L), (4L, 249L), (5L, 250L),
      (6L, 449L), (7L, 450L), (8L, 505L))
      .toDF("pid", "pt")
    val binned = iv.withColumn("bin",
      explode(sequence(expr(s"lo div $BIN"), expr(s"hi div $BIN"))))
    val ptsB = pts.withColumn("bin", expr(s"pt div $BIN"))
    val got = binned.join(ptsB,
        binned("bin") === ptsB("bin") &&
          col("pt") >= col("lo") && col("pt") < col("hi"), "left")
      .groupBy("iid").agg(count(col("pid")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // Naive check: [0,200) gets pts 1,2; [250,450) gets 5,6 (4 is below
    // lo in a shared bin, 7 sits exactly at hi); [500,510) gets 8.
    assert(got == Map(10L -> 2L, 20L -> 2L, 30L -> 1L))
  }

  test("bitmap distinct equals count distinct on a skewed hand set") {
    val sp = spark
    import sp.implicits._
    // Keys straddling word boundaries (63/64/65) and heavy duplication.
    val df = Seq(0L, 1L, 63L, 64L, 64L, 65L, 127L, 128L, 1000L, 1000L, 0L)
      .toDF("k").withColumn("g", lit("x"))
    val got = df
      .select(col("g"), (col("k") / 64).cast("long").as("word"),
        expr("shiftleft(1L, CAST(k % 64 AS INT))").as("bit"))
      .groupBy("g", "word").agg(expr("bit_or(bit)").as("w"))
      .groupBy("g").agg(sum(bit_count(col("w"))).as("n"))
      .collect()(0).getLong(1)
    assert(got == 8)
  }

  test("epochShuffle: bijective positions, shard law, epochs permute") {
    val sp = spark
    import sp.implicits._
    val df = (1L to 200L).toDF("id")
    val e0 = api.Pipeline.epochShuffle(df, col("id"), epoch = 0,
      numShards = 4).collect()
    assert(e0.length == 200)
    // (shard, pos) is a bijection: within each shard, pos is 1..n_shard.
    e0.groupBy(_.getLong(1)).foreach { case (_, rows) =>
      assert(rows.map(_.getInt(2)).sorted.toSeq == (1 to rows.length))
    }
    // Shard law: shard == sort_key mod numShards.
    e0.foreach(r => assert(r.getLong(1) == ((r.getLong(3) % 4) + 4) % 4))
    // Deterministic: a second run is bit-identical.
    val again = api.Pipeline.epochShuffle(df, col("id"), 0, 4).collect()
    assert(e0.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
    // A different epoch genuinely permutes: the id sequence read off in
    // (shard, pos) order must differ.
    val order = (rows: Array[org.apache.spark.sql.Row]) =>
      rows.sortBy(r => (r.getLong(1), r.getInt(2))).map(_.getLong(0)).toSeq
    val e1 = api.Pipeline.epochShuffle(df, col("id"), 1, 4).collect()
    assert(order(e0) != order(e1))
    assert(order(e0).toSet == order(e1).toSet) // same corpus either way
  }

  test("repeatMixture: copy counts honor factors, default, drop, growth") {
    val sp = spark
    import sp.implicits._
    val docs = (1L to 100L).map { i =>
      (i, Seq("a", "b", "c", "d")((i % 4).toInt))
    }.toDF("id", "src")
    val out = api.Pipeline.repeatMixture(docs, col("src"), col("id"),
      Map("a" -> 2500L, "b" -> 300L, "c" -> 0L)).collect()
    val byId = out.groupBy(_.getLong(0))
    byId.foreach { case (_, rows) =>
      val n = rows.head.getLong(3)
      // one row per copy, numbered 1..n_copies
      assert(rows.map(_.getLong(4)).sorted.toSeq == (1L to n))
      rows.head.getString(1) match {
        case "a" => assert(n == 2L || n == 3L) // 2500‰ → 2 or 3 copies
        case "b" => assert(n == 1L)            // 300‰ → present iff 1
        case "c" => fail("factor 0 source must emit nothing")
        case "d" => assert(n == 1L)            // unlisted → default 1000‰
      }
    }
    assert(!out.exists(_.getString(1) == "c"))
    // Stability: a doc's copy count is a pure function of (id, factor) —
    // running on a subset yields the same counts for the subset's ids.
    val sub = api.Pipeline.repeatMixture(
      docs.filter(col("id") <= 50), col("src"), col("id"),
      Map("a" -> 2500L, "b" -> 300L, "c" -> 0L)).collect()
    val full = byId.map { case (id, rows) => id -> rows.head.getLong(3) }
    sub.groupBy(_.getLong(0)).foreach { case (id, rows) =>
      assert(rows.head.getLong(3) == full(id))
    }
  }

  test("epochShuffle: numShards=1 degenerates to one global permutation") {
    val sp = spark
    import sp.implicits._
    val one = api.Pipeline.epochShuffle(
      (1L to 50L).toDF("id"), col("id"), epoch = 7, numShards = 1)
      .collect()
    assert(one.forall(_.getLong(1) == 0L)) // single shard 0
    assert(one.map(_.getInt(2)).sorted.toSeq == (1 to 50)) // pos = 1..n
    // position order must follow the hash key, not the id
    val byPos = one.sortBy(_.getInt(2)).map(_.getLong(0)).toSeq
    assert(byPos != (1L to 50L).toSeq)
  }

  test("repeatMixture: factor above 3 epochs and factor exactly 1000") {
    val sp = spark
    import sp.implicits._
    val docs = (1L to 60L).map(i => (i, if (i % 2 == 0) "hi" else "flat"))
      .toDF("id", "src")
    val out = api.Pipeline.repeatMixture(docs, col("src"), col("id"),
      Map("hi" -> 3400L, "flat" -> 1000L)).collect()
    val byId = out.groupBy(_.getLong(0)).map { case (id, rs) =>
      id -> rs.head.getLong(3)
    }
    // hi: 3 or 4 copies; flat: exactly 1 (the fractional part is 0,
    // so NO doc may get a second copy — hash < 0 is impossible)
    (1L to 60L).foreach { id =>
      if (id % 2 == 0) assert(byId(id) == 3L || byId(id) == 4L)
      else assert(byId(id) == 1L)
    }
    // emitted row count equals the sum of copy counts
    assert(out.length == byId.values.sum)
  }

  test("balanceCap: cap above every group size is the identity") {
    val sp = spark
    import sp.implicits._
    val df = ((1L to 9L).map((_, "x")) ++ (10L to 12L).map((_, "y")))
      .toDF("id", "grp")
    val kept = api.Pipeline.balanceCap(df, col("grp"), col("id"), cap = 100)
      .collect()
    assert(kept.map(_.getLong(0)).sorted.toSeq == (1L to 12L))
  }

  test("balanceCap: over-cap groups cut to cap, under-cap pass complete") {
    val sp = spark
    import sp.implicits._
    val df = ((1L to 50L).map((_, "big")) ++ (51L to 53L).map((_, "small")))
      .toDF("id", "grp")
    val kept = api.Pipeline.balanceCap(df, col("grp"), col("id"), cap = 10)
      .collect()
    val byGrp = kept.groupBy(_.getString(1))
    assert(byGrp("big").length == 10)
    assert(byGrp("small").map(_.getLong(0)).sorted.toSeq ==
      Seq(51L, 52L, 53L)) // under cap: every row survives
    // ranks are 1..k within each surviving group
    byGrp.values.foreach { rows =>
      assert(rows.map(_.getInt(rows.head.length - 1)).sorted.toSeq ==
        (1 to rows.length))
    }
    // survivor set is deterministic
    val again = api.Pipeline.balanceCap(df, col("grp"), col("id"), 10)
      .collect().map(_.getLong(0)).toSet
    assert(again == kept.map(_.getLong(0)).toSet)
  }

  test("mix_budget_solver output is executable by repeatMixture") {
    val sp = spark
    import org.apache.spark.sql.functions._
    val solved = SparkEntry.queries("mix_budget_solver")(sp, sf001)
      .collect()
      .map(r => (r.getString(0), (r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))).toMap
    // Feed the planner's (epochs, residual) straight into the executor
    // as f_pm = epochs*1000 + residual_pm for two sources.
    val pick = Seq("src0", "src7")
    val fpm = pick.map { src =>
      val (_, _, ep, res) = solved(src); src -> (ep * 1000 + res)
    }.toMap
    val docs = graft.Tables.documents(sp, sf001)
      .filter(col("source").isin(pick: _*))
    val copies = graft.api.Pipeline.repeatMixture(
        docs, col("source"), col("doc_id"), fpm)
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    pick.foreach { src =>
      val (_, _, ep, _) = solved(src)
      val nDocs = docs.filter(col("source") === src).count()
      // Every doc repeats `epochs` times plus a hash-sampled residual
      // copy: the count must land inside [n·ep, n·(ep+1)] with the
      // residual actually sampling (strictly inside unless res is 0).
      assert(copies(src) >= nDocs * ep && copies(src) <= nDocs * (ep + 1),
        s"$src: ${copies(src)} vs ep=$ep n=$nDocs")
    }
  }

  test("win_concurrency carries midnight-spanning sessions into the next day") {
    val sp = spark
    import sp.implicits._
    import java.sql.Timestamp
    // u1's session spans midnight (23:50 -> 00:10, gap 20m < 30m); u2
    // opens a second concurrent session at 00:05 the next day. Day 2's
    // peak must be carry(1) + its own sweep(+1) = 2 — a day-local window
    // alone would report 1.
    val rows = Seq(
      (1L, Timestamp.valueOf("2024-03-01 23:50:00"), 100L),
      (1L, Timestamp.valueOf("2024-03-02 00:10:00"), 101L),
      (2L, Timestamp.valueOf("2024-03-02 00:05:00"), 102L),
      // u3 spans into day 3, which has NO other activity: its only
      // day-3 endpoint is a -1, so the naive carry+peak would report
      // 1 + (-1) = 0 — the true peak is the day-start baseline, 1.
      (3L, Timestamp.valueOf("2024-03-02 23:55:00"), 103L),
      (3L, Timestamp.valueOf("2024-03-03 00:05:00"), 104L))
    val ev = rows.toDF("user_id", "ts", "event_id")
    val D = 86400000000L
    val sess = graft.api.Pipeline.sessionize(
        ev, col("user_id"), col("ts"), col("event_id"), gapMinutes = 30)
      .groupBy(col("sess_key"), col("session_seq"))
      .agg(min("sess_us").as("st"), max("sess_us").as("en"))
    assert(sess.count() == 3) // midnight split neither spanning session
    // Drive the registry key's exact pipeline on this frame via a temp
    // parquet dir shaped like the events table.
    val dir = graft.Scratch.fresh("win_conc_spec")
    ev.withColumn("event_type", lit("t")).withColumn("value", lit(1.0))
      .withColumn("props", lit("{}"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = SparkEntry.queries("win_concurrency")(sp, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    val d1 = Timestamp.valueOf("2024-03-01 23:50:00").getTime * 1000L / D
    assert(out.toSeq == Seq(
      (d1, 1L, 0L, 1L),
      (d1 + 1, 2L, 1L, 2L),
      (d1 + 2, 0L, 1L, 1L)), // end-only day: baseline, not carry-1
      out.mkString(","))
  }

  test("labelPropagation: frequency rule splits bridged triangles") {
    val sp = spark
    import sp.implicits._
    // Two triangles {1,2,3} and {4,5,6} joined by bridge 3–4: the whole
    // graph is ONE connected component, but LPA's most-frequent rule
    // (ties to the smallest label) converges each triangle to its own
    // label by round 3 — hand-simulated: r1 = (2,1,1,3,4,4),
    // r2 = (1,1,1,4,3,3), r3 = (1,1,1,3,3,3).
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L),
      (5L, 6L), (3L, 4L)).toDF("s", "d")
    val got = api.Graph.labelPropagation(
        api.Graph.undirected(edges, col("s"), col("d")), rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      4L -> 3L, 5L -> 3L, 6L -> 3L), got.toString)
    // Canonicalization: reversed duplicates and self-loops must not
    // change the fixpoint (counts are per DISTINCT undirected edge).
    val messy = edges.unionAll(Seq((2L, 1L), (5L, 5L), (4L, 3L))
      .toDF("s", "d"))
    val got2 = api.Graph.labelPropagation(
        api.Graph.undirected(messy, col("s"), col("d")), rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got2 == got, got2.toString)
  }

  test("sample_bootstrap: balanced totals, real variation, sane means") {
    val rows = SparkEntry.queries("sample_bootstrap")(
        spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.length == 9 && rows.map(_._1).toSeq == (0L to 8L))
    val n = rows.find(_._1 == 0L).get._2 // rep 0 is unweighted: n rows
    rows.foreach { case (_, nEff, m) =>
      // balanced-bootstrap totals stay near n; means stay near the
      // point estimate (loose 10σ-style sanity windows).
      assert(math.abs(nEff - n) <= n / 10, s"n_eff $nEff vs $n")
      assert(m > 0 && m < 1000, s"mean $m")
    }
    // the replicates must actually vary — a constant column would mean
    // the weights collapsed to 1 (vacuous-demo check).
    assert(rows.filter(_._1 > 0).map(_._3).distinct.length >= 2)
  }

  test("modularity: bridged triangles hand value, one community is zero") {
    val sp = spark
    import sp.implicits._
    // Two triangles bridged by 3–4 (canonical u < v edges), perfect
    // partition {1,2,3}|{4,5,6}: m = 7, intra = 6, D_c = (2+2+3, 7),
    // Q = (4·7·6 − 2·49)/(4·49) = 70/196 = 0.3571.
    val edges = api.Graph.undirected(Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (4L, 5L), (4L, 6L), (5L, 6L), (3L, 4L)).toDF("u", "v"),
      col("u"), col("v"))
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 2L), (5L, 2L),
      (6L, 2L)).toDF("n", "label")
    val r = api.Graph.modularity(edges, labels).collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((7L, 2L, 6L)),
      r.toString)
    assert(r.getDouble(3) == math.rint(70.0 / 196.0 * 1e4) / 1e4,
      r.toString)
    // The degenerate one-community partition scores exactly 0:
    // intra = m and Σ D_c² = (2m)².
    val allOne = labels.select(col("n"), lit(9L).as("label"))
    assert(api.Graph.modularity(edges, allOne).collect()(0)
      .getDouble(3) == 0.0)
  }

  test("kCorePeel: path tail peels in two sweeps, triangle survives") {
    val sp = spark
    import sp.implicits._
    // Path 1-2-3-4 + triangle 5-6-7, k=2: sweep 1 peels the path ends
    // (deg 1), sweep 2 peels the stranded 2-3 edge, and the triangle is
    // the 2-core — the census must freeze at (3, 3) from round 2 on.
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (5L, 6L), (5L, 7L),
      (6L, 7L)).toDF("s", "d")
    val got = api.Graph.kCorePeel(
        api.Graph.undirected(edges, col("s"), col("d")), k = 2, rounds = 3)
      .orderBy("round")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq((0, 7L, 6L), (1, 5L, 4L), (2, 3L, 3L),
      (3, 3L, 3L)), got.mkString(","))
  }

  test("graph_assortativity: a star is exactly -1") {
    val sp = spark
    import sp.implicits._
    import java.sql.Timestamp
    // Star K1,3 (hub 100, leaves 1..3): every edge pairs degree 3 with
    // degree 1, the canonical disassortative shape — Newman's r = -1
    // exactly (x = [3,3,3,1,1,1], y reversed; integer moments).
    // Build a lineitem/orders fixture whose urgent co-purchase graph IS
    // that star: one urgent order containing the hub part with each
    // leaf part would close a leaf-leaf triangle, so use 3 orders of 2
    // parts each.
    val orders = Seq(10L, 11L, 12L).map(o =>
      (o, 1L, "O", 1.0, Timestamp.valueOf("2024-01-01 00:00:00"),
        "1-URGENT"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
    val li = Seq((10L, 100L), (10L, 1L), (11L, 100L), (11L, 2L),
      (12L, 100L), (12L, 3L)).zipWithIndex.map { case ((o, p), i) =>
      (o, p, 1L, i, 1.0, 10.0, 0.0, 0.0, "N", "O",
        Timestamp.valueOf("2024-01-01 00:00:00"))
    }.toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
      "l_quantity", "l_extendedprice", "l_discount", "l_tax",
      "l_returnflag", "l_linestatus", "l_shipdate")
    val dir = graft.Scratch.fresh("assort_spec")
    orders.write.mode("overwrite").parquet(s"$dir/orders.parquet")
    li.write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val r = SparkEntry.queries("graph_assortativity")(sp, dir)
      .collect()(0)
    assert(r.getLong(0) == 3L, r.toString)
    assert(r.getDouble(1) == -1.0, r.toString)
  }

  test("sample_time_split: hand timeline splits and leaks exactly") {
    val sp = spark
    import sp.implicits._
    import java.sql.Timestamp
    // Corpus starts Jan 1. u1 spans all three windows (leaks twice),
    // u2 exists only in train, u3 only in test (no leak).
    val rows = Seq((1L, 1), (1L, 22), (1L, 27), (2L, 5), (3L, 28))
    val ev = rows.zipWithIndex.map { case ((u, d), i) =>
      (i.toLong, Timestamp.valueOf(f"2024-01-$d%02d 10:00:00"), u,
        "view", 1.0, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = graft.Scratch.fresh("timesplit_spec")
    ev.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = SparkEntry.queries("sample_time_split")(sp, dir)
      .collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out("1_train") == ((2L, 2L, 0L)), out.toString)
    assert(out("2_valid") == ((1L, 1L, 1L)), out.toString)
    assert(out("3_test") == ((2L, 2L, 1L)), out.toString)
  }

  test("sample_time_split: corpus leaks every user — the honest census") {
    val out = SparkEntry.queries("sample_time_split")(spark, sf001)
      .collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out.keySet == Set("1_train", "2_valid", "3_test"))
    assert(out.values.map(_._1).sum == 10000L)
    assert(out("1_train")._3 == 0L) // nothing is earlier than train
    // dense 30-day activity: every valid/test user predates itself
    assert(out("2_valid")._3 == out("2_valid")._2)
    assert(out("3_test")._3 == out("3_test")._2)
  }

  test("pack_attention_density: hand bins give exact fill and density") {
    val sp = spark
    import sp.implicits._
    // One source, one shard (ids ≡ 0 mod 4), lengths 300/200/100,
    // budget 512: FFD packs [300,200] + [100]. Bin densities
    // (300²+200²)/500² = 0.52 and 1.0 -> mean 0.76; fills 500/512 and
    // 100/512 -> mean 58.5938%.
    val docs = Seq((0L, 300), (4L, 200), (8L, 100)).map { case (i, n) =>
      (i, Seq.fill(n)("w").mkString(" "), "en", "s1", n.toLong * 2)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = graft.Scratch.fresh("attn_spec")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = SparkEntry.queries("pack_attention_density")(sp, dir)
      .collect()(0)
    assert(r.getLong(1) == 2L && r.getLong(2) == 3L, r.toString)
    assert(r.getDouble(3) == 58.5938, r.toString)
    assert(r.getDouble(4) == 0.76, r.toString)
  }

  test("pack_attention_density: corpus bins are efficient but honest") {
    val out = SparkEntry.queries("pack_attention_density")(spark, sf001)
      .collect()
    assert(out.length == 20)
    assert(out.map(_.getLong(2)).sum == 500L)
    out.foreach { r =>
      assert(r.getDouble(3) > 30 && r.getDouble(3) <= 100, r.toString)
      val d = r.getDouble(4)
      // packed bins always contaminate: intra share well below 1,
      // but above the uniform-shred floor
      assert(d > 0.05 && d < 0.9, r.toString)
    }
  }

  test("graph_recommend: count weighting beats mere co-occurrence") {
    val sp = spark
    import sp.implicits._
    import java.sql.Timestamp
    // Part 1 shares THREE orders with part 2 but only one with part 3:
    // the rec list must rank 2 above 3 even though both co-occur.
    val orders = Seq(10L, 11L, 12L, 13L).map(o =>
      (o, 1L, "O", 1.0, Timestamp.valueOf("2024-01-01 00:00:00"),
        "1-URGENT"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
    val li = Seq((10L, 1L), (10L, 2L), (11L, 1L), (11L, 2L),
      (12L, 1L), (12L, 2L), (13L, 1L), (13L, 3L)).zipWithIndex
      .map { case ((o, p), i) =>
        (o, p, 1L, i, 1.0, 10.0, 0.0, 0.0, "N", "O",
          Timestamp.valueOf("2024-01-01 00:00:00"))
      }.toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate")
    val dir = graft.Scratch.fresh("recommend_spec")
    orders.write.mode("overwrite").parquet(s"$dir/orders.parquet")
    li.write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val out = SparkEntry.queries("graph_recommend")(sp, dir).collect()
    val p1 = out.filter(_.getLong(0) == 1L).sortBy(_.getInt(2))
    assert(p1.length == 2, out.mkString(";"))
    assert(p1(0).getLong(3) == 2L && p1(0).getLong(4) == 3L,
      p1(0).toString)
    assert(p1(1).getLong(3) == 3L && p1(1).getLong(4) == 1L,
      p1(1).toString)
    assert(p1(0).getLong(1) == 4L, p1(0).toString) // total weight 3+1
  }

  test("graph_recommend: corpus lists are ranked and self-free") {
    val out = SparkEntry.queries("graph_recommend")(spark, sf001)
      .collect()
    assert(out.length == 60) // 20 anchors × 3
    out.groupBy(_.getLong(0)).foreach { case (p, rs) =>
      assert(rs.map(_.getInt(2)).sorted.toSeq == Seq(1, 2, 3))
      val ws = rs.sortBy(_.getInt(2)).map(_.getLong(4))
      assert(ws.zip(ws.tail).forall { case (a, b) => b <= a })
      assert(rs.forall(_.getLong(3) != p), s"part $p recommends itself")
    }
  }

  test("graph_degree_stats: star K1,4 fits slope -1, r2 = 1 exactly") {
    val sp = spark
    import sp.implicits._
    import java.sql.Timestamp
    // Hub 100 with leaves 1..4 via 4 urgent 2-part orders: histogram
    // (deg 1: 4 nodes, deg 4: 1 node) -> two ln-ln points, a perfect
    // line of slope -1; p50 = 1 (cum 4/5), p90 = 4 (needs cum 4.5).
    val orders = Seq(10L, 11L, 12L, 13L).map(o =>
      (o, 1L, "O", 1.0, Timestamp.valueOf("2024-01-01 00:00:00"),
        "1-URGENT"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
    val li = Seq((10L, 100L), (10L, 1L), (11L, 100L), (11L, 2L),
      (12L, 100L), (12L, 3L), (13L, 100L), (13L, 4L)).zipWithIndex
      .map { case ((o, p), i) =>
        (o, p, 1L, i, 1.0, 10.0, 0.0, 0.0, "N", "O",
          Timestamp.valueOf("2024-01-01 00:00:00"))
      }.toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate")
    val dir = graft.Scratch.fresh("degstats_spec")
    orders.write.mode("overwrite").parquet(s"$dir/orders.parquet")
    li.write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val r = SparkEntry.queries("graph_degree_stats")(sp, dir)
      .collect()(0)
    assert(r.getLong(0) == 5L && r.getLong(1) == 4L, r.toString)
    assert(r.getLong(2) == 4L, r.toString)
    assert(r.getLong(3) == 1L && r.getLong(4) == 4L, r.toString)
    assert(r.getDouble(5) == -1.0, r.toString)
    assert(r.getDouble(6) == 1.0, r.toString)
  }

  test("graph_degree_stats: corpus diagnostic is honest about its fit") {
    val r = SparkEntry.queries("graph_degree_stats")(spark, sf001)
      .collect()(0)
    assert(r.getLong(0) == 1995L && r.getLong(1) == 22892L)
    assert(r.getLong(3) <= r.getLong(4) && r.getLong(4) <= r.getLong(2))
    // near-Poisson degrees: the power-law fit must SELF-REPORT as poor
    assert(r.getDouble(6) < 0.5,
      s"r2 ${r.getDouble(6)} — this graph is not heavy-tailed")
  }

  test("scd2Lookup: half-open versions; boundary fact sees the NEW one") {
    val sp = spark
    import sp.implicits._
    import java.sql.Timestamp
    def t(s: String) = Timestamp.valueOf(s + " 00:00:00")
    val dim = Seq(
      (1L, 10, t("2020-01-01"), Some(t("2020-06-01"))),
      (1L, 20, t("2020-06-01"), None),
      (2L, 30, t("2020-01-01"), None))
      .toDF("k", "v", "vf", "vt")
    val facts = Seq(
      ("f1", 1L, t("2020-03-01")), // inside v=10
      ("f2", 1L, t("2020-06-01")), // EXACTLY at the change: new version
      ("f3", 1L, t("2021-01-01")), // open tail of v=20
      ("f4", 2L, t("2019-12-31")), // before any version: drops
      ("f5", 2L, t("2020-02-01"))) // v=30
      .toDF("fid", "fk", "ft")
    val got = graft.api.Joins.scd2Lookup(facts, col("fk"), col("ft"),
        dim, col("k"), col("vf"), col("vt"))
      .select("fid", "v")
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(got == Map("f1" -> 10, "f2" -> 20, "f3" -> 20, "f5" -> 30),
      got.toString)
  }

  test("mm_aspect_buckets: hand dims snap to all three rungs") {
    val sp = spark
    import sp.implicits._
    // Image docs (id % 3 = 0): id 6 landscape n=100 -> 164×148 (1:1);
    // id 12 landscape n=500 -> 564×68 (2:1); id 3 PORTRAIT n=500 ->
    // 68×564 (1:2). One image per rung, one open batch each.
    val docs = Seq((6L, 100L), (12L, 500L), (3L, 500L))
      .map { case (i, n) => (i, "x", "en", "s1", n) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = graft.Scratch.fresh("aspect_spec")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("mm_aspect_buckets")(sp, dir)
      .collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out.size == 3, out.toString)
    Seq("1:2", "1:1", "2:1").foreach { k =>
      assert(out(k) == ((1L, 1L, 1L)), s"$k -> ${out(k)}")
    }
  }

  test("mm_aspect_buckets: corpus batches account for every image") {
    val out = SparkEntry.queries("mm_aspect_buckets")(spark, sf001)
      .collect()
    assert(out.length == 3)
    assert(out.map(_.getLong(1)).sum == 167L) // 500/3 images
    out.foreach { r =>
      val (n, b, tail) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(tail >= 1 && tail <= 16, r.toString)
      assert((b - 1) * 16 + tail == n, r.toString) // batches partition
    }
  }

  test("graph_anf_hll: path graph counts exactly in the linear regime") {
    val sp = spark
    import sp.implicits._
    import java.sql.Timestamp
    // Urgent orders {10,20} and {20,30} → path 10–20–30 (node ids all
    // ≡ 0 mod 10, so the h = 2 audit sample covers every node). Balls
    // of radius 1 (with self): N(1) = 7; radius 2 → all 9. 2-3 distinct
    // values per node sit deep in HLL's linear-counting range, so the
    // estimates are EXACT and err_pm = 0.
    val orders = Seq((10L, "1-URGENT"), (20L, "1-URGENT")).map {
      case (k, pr) => (k, 1L, "O", 1.0,
        Timestamp.valueOf("1995-01-10 00:00:00"), pr)
    }.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderdate", "o_orderpriority")
    val li = Seq((10L, 10L), (10L, 20L), (20L, 20L), (20L, 30L))
      .zipWithIndex.map { case ((ok, pk), i) =>
        (ok, pk, 1L, i + 1, 1.0, 1.0, 0.0, 0.0, "N", "O",
          Timestamp.valueOf("1995-01-11 00:00:00"))
      }.toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate")
    val dir = graft.Scratch.fresh("anf_spec")
    orders.write.mode("overwrite").parquet(s"$dir/orders.parquet")
    li.write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val out = SparkEntry.queries("graph_anf_hll")(sp, dir)
      .orderBy("h").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq((1, 7L, 7L, 0L), (2, 9L, 9L, 0L)),
      out.mkString(","))
  }

  test("graph_anf_hll: corpus estimates stay within 2% of exact") {
    val out = SparkEntry.queries("graph_anf_hll")(spark, sf001)
      .orderBy("h").collect()
    assert(out.length == 2)
    out.foreach { r =>
      assert(r.getLong(1) > 0L, "audit leg found no pairs")
      assert(r.getLong(3) <= 20L,
        s"h=${r.getInt(0)} err ${r.getLong(3)} permille — sketch degraded")
    }
    // h=2 balls strictly outgrow h=1 even on the 10% audit sample once
    // scaled back up (sampled nodes hold ~10% of N(2))
    assert(out(1).getLong(1) * 5 > out(0).getLong(1),
      s"${out(0)} vs ${out(1)}")
  }

  test("mix_dedup_weighted: identical pair halves its weight, unique keeps 1e6") {
    val sp = spark
    import sp.implicits._
    // src_a: two IDENTICAL 4-token docs (J = 1 → one cluster of 2 →
    // weight 500000 each) + one unique 5-token doc. src_b: one unique
    // doc. Weighted budget for src_a = 4·5e5 + 4·5e5 + 5·1e6 = 9e6 ppm
    // over 13 raw tokens → retention = 9e6 div 13 = 692307.
    val docs = Seq(
      (1L, "alpha beta gamma delta", "src_a"),
      (2L, "alpha beta gamma delta", "src_a"),
      (3L, "epsilon zeta eta theta iota", "src_a"),
      (4L, "kappa lambda mu nu", "src_b"))
      .map { case (i, t, s) => (i, t, "en", s, t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = graft.Scratch.fresh("mixdw_spec")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("mix_dedup_weighted")(sp, dir)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5))).toMap
    assert(out("src_a") == ((3L, 2L, 13L, 9000000L, 692307L)),
      out("src_a").toString)
    assert(out("src_b") == ((1L, 0L, 4L, 4000000L, 1000000L)),
      out("src_b").toString)
  }

  test("mix_dedup_weighted: corpus near-dups get downweighted somewhere") {
    val out = SparkEntry.queries("mix_dedup_weighted")(spark, sf001)
      .collect()
    assert(out.length == 20)
    out.foreach { r =>
      assert(r.getLong(5) <= 1000000L && r.getLong(5) > 0L, r.toString)
      assert(r.getLong(4) <= r.getLong(3) * 1000000L, r.toString)
    }
    // the corpus plants near-duplicates — the op must actually bite
    assert(out.map(_.getLong(2)).sum > 0, "no doc was downweighted")
    assert(out.exists(_.getLong(5) < 1000000L), "retention never moved")
  }

  test("mix_kl_audit: hand 3:1 split gives the textbook KL and TV") {
    val sp = spark
    import sp.implicits._
    // p = (3/4, 1/4) vs uniform 1/2: KL = 0.75·ln1.5 + 0.25·ln0.5 =
    // 0.130812 (after the 1e-6 ln quantization: exactly 523248/4e6);
    // TV = (|1/4| + |1/4|)/2 = 0.25; absdiffs tie -> worst is the
    // alphabetically first lang.
    val docs = Seq((1L, "x", "aa"), (2L, "x", "aa"), (3L, "x", "aa"),
      (4L, "x", "bb")).map { case (i, t, l) => (i, t, l, "s1", 1L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = graft.Scratch.fresh("kl_spec")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = SparkEntry.queries("mix_kl_audit")(sp, dir).collect()(0)
    assert(r.getLong(0) == 4L && r.getLong(1) == 2L, r.toString)
    assert(r.getDouble(2) == 0.130812, r.toString)
    assert(r.getDouble(3) == 0.25, r.toString)
    assert(r.getString(4) == "aa" && r.getDouble(5) == 0.25, r.toString)
  }

  test("mix_kl_audit: corpus lang skew is real and en-dominated") {
    val r = SparkEntry.queries("mix_kl_audit")(spark, sf001)
      .collect()(0)
    assert(r.getLong(1) == 5L)
    assert(r.getDouble(2) > 0.1, "KL collapsed — lang axis not skewed?")
    assert(r.getString(4) == "en", r.toString)
    assert(r.getDouble(3) > 0.2 && r.getDouble(3) < 0.5, r.toString)
  }

  test("dedup_semantic_cluster: planted near-dups, one per cluster") {
    val sp = spark
    import sp.implicits._
    // ids 0..7 are the 8 orthogonal axes (and the Lloyd seeds); ids
    // 8..15 are perturbed copies (cos = 1/sqrt(1.01) ≈ 0.995 with
    // their axis, ~0 cross-axis). Every cluster must hold exactly its
    // axis + copy, one dup pair, one removal.
    val vecs = ((0 until 8).map { i =>
      val v = Array.fill(64)(0f); v(i) = 1f
      (i.toLong, v, 0)
    } ++ (0 until 8).map { i =>
      val v = Array.fill(64)(0f); v(i) = 1f; v((i + 1) % 8) = 0.1f
      (i.toLong + 8, v, 0)
    }).toDF("vec_id", "embedding", "label")
    val dir = graft.Scratch.fresh("semdedup_spec")
    vecs.write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = SparkEntry.queries("dedup_semantic_cluster")(sp, dir)
      .collect()
    assert(out.length == 8, out.mkString(";"))
    out.foreach { r =>
      assert(r.getLong(1) == 2L, r.toString)
      assert(r.getLong(2) == 1L && r.getLong(3) == 1L, r.toString)
    }
  }

  test("dedup_semantic_cluster: corpus census is consistent with kmeans") {
    val out = SparkEntry.queries("dedup_semantic_cluster")(spark, sf001)
      .collect()
    assert(out.length == 8)
    assert(out.map(_.getLong(1)).sum == 500L)
    out.foreach { r =>
      assert(r.getLong(3) <= r.getLong(2), r.toString) // removed <= pairs
      assert(r.getLong(3) < r.getLong(1), r.toString) // keeper survives
    }
    assert(out.map(_.getLong(2)).sum > 0, "no semantic dup exercised")
    val km = SparkEntry.queries("ml_kmeans")(spark, sf001)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    out.foreach(r => assert(km(r.getInt(0)) == r.getLong(1),
      "cluster sizes must match ml_kmeans on the same training"))
  }

  test("hits: symmetric bipartite reaches its exact fixpoint") {
    val sp = spark
    import sp.implicits._
    // hubs {1,2}, auths {10,11,12}; 11 is shared. The fixpoint is
    // exact in fixed point (every normalization divides evenly):
    // a = (S/4, S/2, S/4), h = (S/2, S/2), reached at round 1 and
    // stable thereafter — so rounds=4 must return exactly these.
    val e = Seq((1L, 10L), (1L, 11L), (2L, 11L), (2L, 12L))
      .toDF("c", "p")
    val out = graft.api.Graph.hits(
        graft.api.Graph.bipartite(e, col("c"), col("p")), rounds = 4)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val S = 1000000000000000L
    assert(out(("auth", 10L)) == S / 4, out.toString)
    assert(out(("auth", 11L)) == S / 2, out.toString)
    assert(out(("auth", 12L)) == S / 4, out.toString)
    assert(out(("hub", 1L)) == S / 2, out.toString)
    assert(out(("hub", 2L)) == S / 2, out.toString)
  }

  test("graph_hits: corpus top-10s are ranked, positive, mass-sane") {
    val out = SparkEntry.queries("graph_hits")(spark, sf001).collect()
    assert(out.length == 20)
    val byKind = out.groupBy(_.getString(0))
    assert(byKind.keySet == Set("auth", "hub"))
    byKind.foreach { case (_, rows) =>
      assert(rows.map(_.getInt(1).toLong).toSeq.sorted == (1L to 10L))
      val scores = rows.sortBy(_.getInt(1)).map(_.getLong(3))
      assert(scores.zip(scores.tail).forall { case (a, b) => b <= a })
      assert(scores.forall(_ > 0))
      // top-10 of a ~2k-node near-regular graph holds well under the
      // whole mass, but each score must exceed the uniform floor's
      // neighborhood to prove reinforcement actually concentrated.
      assert(scores.head < 1000000000000000L / 100)
    }
  }

  test("sample_neyman: zero-variance stratum gets zero budget") {
    val sp = spark
    import sp.implicits._
    import java.sql.Timestamp
    // stratum a: constant 10.0 -> sigma 0 -> wq 0 -> alloc 0 (absent
    // from output); stratum b: {0, 20, 0, 20} -> wq = sqrt(4·8e8 −
    // (4e4)²) = 40000, takes the whole budget, capped at N=4.
    val rows = Seq(("a", 10.0), ("a", 10.0), ("a", 10.0), ("a", 10.0),
      ("b", 0.0), ("b", 20.0), ("b", 0.0), ("b", 20.0))
    val ev = rows.zipWithIndex.map { case ((et, v), i) =>
      (i.toLong, Timestamp.valueOf("2024-01-05 10:00:00"), i.toLong,
        et, v, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = graft.Scratch.fresh("neyman_spec")
    ev.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = SparkEntry.queries("sample_neyman")(sp, dir).collect()
    assert(out.length == 1, out.mkString(";"))
    val r = out(0)
    assert(r.getString(0) == "b", r.toString)
    assert(r.getLong(1) == 4L && r.getLong(2) == 40000L, r.toString)
    assert(r.getLong(3) == 4L && r.getLong(4) == 4L, r.toString)
    assert(r.getLong(5) == 4L + 5L + 6L + 7L, r.toString)
    assert(r.getDouble(6) == 10.0, r.toString)
  }

  test("sample_neyman: corpus allocations exhaust the budget exactly") {
    val out = SparkEntry.queries("sample_neyman")(spark, sf001)
      .collect()
    assert(out.length == 5)
    assert(out.map(_.getLong(3)).sum == 1000L, out.mkString(";"))
    out.foreach(r => assert(r.getLong(4) == r.getLong(3), r.toString))
    // Neyman must not collapse to a flat split (vacuous-demo check).
    assert(out.map(_.getLong(3)).distinct.length > 1)
  }
}
