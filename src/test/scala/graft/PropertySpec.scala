package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Algebraic invariants over generated inputs (SURVEY.md §5.3). Generators
  * are sampled with fixed seeds (no scalatestplus bridge in the offline
  * cache), which also keeps failures reproducible.
  */
class PropertySpec extends AnyFunSuite with SparkFixture {

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  private lazy val sp = spark

  private def toDF(xs: Seq[(Long, String)]) = {
    import sp.implicits._
    xs.toDF("id", "s")
  }

  private val rows: Gen[List[(Long, String)]] = Gen.listOfN(30,
    Gen.zip(Gen.choose(0L, 20L), Gen.oneOf("a", "b", "c", "d")))

  test("union_all is count-additive; intersect/except partition distinct left") {
    samples(Gen.zip(rows, rows), 5).foreach { case (xs, ys) =>
      val (l, r) = (toDF(xs), toDF(ys))
      assert(l.unionByName(r).count() == l.count() + r.count())
      val both = l.distinct().intersect(r).count()
      val only = l.distinct().except(r).count()
      assert(both + only == l.distinct().count())
    }
  }

  test("dedup is idempotent") {
    samples(rows, 5).foreach { xs =>
      val d = toDF(xs).dropDuplicates("s")
      assert(d.count() == d.dropDuplicates("s").count())
    }
  }

  test("row_number is a bijection per partition") {
    import org.apache.spark.sql.expressions.Window
    samples(rows, 5).foreach { xs =>
      val w = Window.partitionBy("s").orderBy("id", "rnd")
      val d = toDF(xs).withColumn("rnd", monotonically_increasing_id())
        .withColumn("rn", row_number().over(w))
      d.groupBy("s").agg(count(lit(1)).as("n"), max("rn").as("m"))
        .collect()
        .foreach(r => assert(r.getAs[Long]("n") == r.getAs[Int]("m").toLong))
    }
  }

  test("cosine self-similarity is 1 for nonzero vectors") {
    import graft.functions.CosineSimilarity
    import sp.implicits._
    val vecs = Gen.listOfN(8, Gen.listOfN(16, Gen.choose(-5f, 5f)))
    samples(vecs, 5).foreach { vs =>
      val nonzero = vs.filter(v => v.exists(_ != 0f)).map(Tuple1(_))
      if (nonzero.nonEmpty) {
        val d = nonzero.toDF("v")
        val r = d.select(CosineSimilarity(col("v"), col("v"))).collect()
        r.foreach(row => assert(math.abs(row.getDouble(0) - 1.0) < 1e-6))
      }
    }
  }

  test("intervalOverlap matches the naive theta join on random intervals") {
    import sp.implicits._
    val iv = for {
      lo <- Gen.choose(0L, 500L)
      len <- Gen.choose(0L, 200L) // includes zero-length (must drop out)
    } yield (lo, lo + len)
    val sets = Gen.listOfN(12, iv)
    samples(Gen.zip(sets, sets, Gen.choose(16L, 128L)), 4).foreach {
      case (as, bs, width) =>
        val a = as.zipWithIndex.map { case ((l, h), i) => (i.toLong, l, h) }
          .toDF("id", "lo", "hi")
        val b = bs.zipWithIndex.map { case ((l, h), i) => (100L + i, l, h) }
          .toDF("id", "lo", "hi")
        val got = api.Joins.intervalOverlap(a, col("id"), col("lo"),
            col("hi"), b, col("id"), col("lo"), col("hi"), width)
          .collect().map(r => (r.getLong(0), r.getLong(1)))
        val naive = for {
          ((al, ah), ai) <- as.zipWithIndex if al < ah
          ((bl, bh), bi) <- bs.zipWithIndex if bl < bh
          if al < bh && bl < ah
        } yield (ai.toLong, 100L + bi)
        assert(got.toSeq.sorted == naive.sorted,
          s"width=$width got=${got.toSeq.sorted} want=${naive.sorted}")
    }
  }

  test("bfs distances satisfy the triangle property on random graphs") {
    import sp.implicits._
    val edge = Gen.zip(Gen.choose(1L, 12L), Gen.choose(1L, 12L))
    samples(Gen.listOfN(18, edge), 3).foreach { es =>
      val real = es.filter { case (u, v) => u != v }
      if (real.nonEmpty) {
        val src = real.head._1
        val d = api.Graph.bfs(
            api.Graph.undirected(real.toDF("a", "b"), col("a"), col("b")),
            source = src, maxHops = 12)
          .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
        assert(d(src) == 0)
        // Every edge (u,v) with both reachable: |d(u) - d(v)| <= 1.
        real.foreach { case (u, v) =>
          (d.get(u), d.get(v)) match {
            case (Some(du), Some(dv)) => assert(math.abs(du - dv) <= 1)
            case (Some(_), None) | (None, Some(_)) =>
              fail(s"edge ($u,$v) half-reachable — BFS missed a node")
            case _ => ()
          }
        }
      }
    }
  }

  test("expectations: violations + satisfactions = checked, per rule") {
    import sp.implicits._
    val gen = Gen.listOfN(40,
      Gen.zip(Gen.choose(-10L, 10L), Gen.option(Gen.choose(-5L, 5L))))
    samples(gen, 5).foreach { xs =>
      val df = xs.toDF("a", "b")
      val rules = Seq(
        "a_pos" -> (col("a") > 0),
        "b_small" -> (col("b") <= 2)) // null b -> violation (fail-closed)
      val got = graft.api.Quality.expectations(df, rules)
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
        .toMap
      val aViol = xs.count(_._1 <= 0).toLong
      val bViol = xs.count(x => x._2.forall(_ > 2)).toLong // None violates
      assert(got("a_pos") == (xs.size.toLong, aViol))
      assert(got("b_small") == (xs.size.toLong, bViol))
    }
  }

  test("diffSnapshots partitions keyspace; diff(a,a) is unchanged; " +
    "diff(a,b) mirrors diff(b,a)") {
    import sp.implicits._
    val gen = Gen.listOfN(25,
      Gen.zip(Gen.choose(0L, 15L), Gen.oneOf("x", "y", "z")))
    samples(Gen.zip(gen, gen), 5).foreach { case (xs, ys) =>
      // Last-wins dedup to honest keyed tables.
      val a = xs.toMap.toSeq.toDF("k0", "v")
      val b = ys.toMap.toSeq.toDF("k0", "v")
      val ab = graft.api.Quality
        .diffSnapshots(a, b, col("k0"), Seq(col("v")))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      val ba = graft.api.Quality
        .diffSnapshots(b, a, col("k0"), Seq(col("v")))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      val keys = xs.map(_._1).toSet ++ ys.map(_._1).toSet
      assert(ab.keySet == keys, "every key classified exactly once")
      // Mirror symmetry: inserted <-> deleted, updated/unchanged fixed.
      keys.foreach { k =>
        val mirrored = ab(k) match {
          case "inserted" => "deleted"
          case "deleted" => "inserted"
          case other => other
        }
        assert(ba(k) == mirrored, s"key $k: ${ab(k)} vs ${ba(k)}")
      }
      val self = graft.api.Quality
        .diffSnapshots(a, a, col("k0"), Seq(col("v")))
      assert(self.filter(col("change") =!= "unchanged").count() == 0)
    }
  }

  test("temperatureMixture never upsamples and fills every quota") {
    import sp.implicits._
    val gen = Gen.listOfN(60,
      Gen.zip(Gen.choose(0L, 1000L), Gen.oneOf("s0", "s1", "s2")))
    samples(gen, 5).foreach { xs =>
      val df = xs.toMap.toSeq.toDF("id0", "src") // unique ids
      val sel = graft.api.Pipeline.temperatureMixture(
        df, col("src"), col("id0"))
      val per = sel.groupBy("source")
        .agg(count(lit(1)).as("n"), max("quota").as("q"),
          max("n_avail").as("avail"))
        .collect()
      per.foreach { r =>
        assert(r.getLong(1) == r.getLong(2), "quota filled exactly")
        assert(r.getLong(2) <= r.getLong(3), "never upsampled")
      }
      // Selection is deterministic: running it again yields the same ids.
      val ids1 = sel.select("id").collect().map(_.getLong(0)).sorted
      val ids2 = graft.api.Pipeline.temperatureMixture(
        df, col("src"), col("id0"))
        .select("id").collect().map(_.getLong(0)).sorted
      assert(ids1.sameElements(ids2))
    }
  }

  test("FFD packs within budget, never worse than next-fit, on random loads") {
    import sp.implicits._
    val gen = Gen.listOfN(80,
      Gen.zip(Gen.choose(1L, 2000L), Gen.choose(1L, 700L)))
    samples(gen, 5).foreach { xs =>
      val items = xs.toMap.toSeq // unique ids
      val df = items.map { case (id, tc) => ("g", id, tc) }
        .toDF("s", "id", "tc")
      val got = graft.api.Pipeline.packFirstFitDecreasing(
        df, col("s"), col("id"), col("tc"), budget = 512, shards = 1)
        .collect()
      assert(got.length == items.size, "every item packed exactly once")
      // No bin over budget unless it holds a single oversized item.
      got.groupBy(_.getLong(3)).foreach { case (bin, rows) =>
        val loads = rows.map(_.getLong(4))
        assert(loads.sum <= 512 || rows.length == 1,
          s"bin $bin overfull with ${rows.length} items")
      }
      // Bin count ≤ next-fit's on the same items (FFD quality bound).
      val ffdBins = got.map(_.getLong(3)).distinct.length
      var nf = 1; var fill = 0L
      items.sortBy(_._1).foreach { case (_, tc) =>
        if (fill > 0 && fill + tc > 512) { nf += 1; fill = 0 }
        fill += tc
      }
      assert(ffdBins <= nf, s"FFD $ffdBins bins > next-fit $nf")
    }
  }

  test("sampleEntities membership is invariant under repartitioning") {
    import sp.implicits._
    val gen = Gen.listOfN(60, Gen.choose(0L, 40L))
    samples(gen, 3).foreach { uids =>
      val df = uids.zipWithIndex
        .map { case (u, i) => (u, i.toLong) }.toDF("uid", "rid")
      def ids(d: org.apache.spark.sql.DataFrame) =
        graft.api.Pipeline.sampleEntities(d, col("uid"), 30)
          .select("rid").collect().map(_.getLong(0)).sorted.toSeq
      val base = ids(df)
      assert(ids(df.repartition(7)) == base,
        "membership must be a pure function of the key, not layout")
      assert(ids(df.coalesce(1)) == base)
      // Monotone in pct: a larger quota keeps a superset of entities.
      val small = graft.api.Pipeline.sampleEntities(df, col("uid"), 10)
        .select("uid").distinct().collect().map(_.getLong(0)).toSet
      val big = graft.api.Pipeline.sampleEntities(df, col("uid"), 60)
        .select("uid").distinct().collect().map(_.getLong(0)).toSet
      assert(small.subsetOf(big), "pct must be monotone in membership")
    }
  }

  test("packers bound per-task state under heavy group skew (one group = half the corpus)") {
    import sp.implicits._
    // The 100 TB memory contract of the sequential packers (pack_ffd /
    // pack_sequences): flatMapGroups materializes ONE (group, shard)
    // at a time, so the id-mod-shard sub-key — not the group — bounds
    // task state. A pathologically skewed corpus (one source holding
    // 50% of all docs) must therefore still fold in |group|/shards-item
    // tasks, with FFD's extra state (the bin-load list) proportional to
    // tokens/budget, never to item count.
    val n = 8000
    val shards = 8
    val budget = 512
    val rows = (0 until n).map { i =>
      val g = if (i < n / 2) "big" else s"g${i % 37}"
      (g, i.toLong, 1L + (i.toLong * 37L) % 400L)
    }
    val df = rows.toDF("src", "doc_id", "tc")
    val packed = api.Pipeline.packFirstFitDecreasing(
      df, col("src"), col("doc_id"), col("tc"), budget, shards)
    val perTask = packed.groupBy("group", "shard")
      .agg(count(lit(1)).as("m"), (max("bin_id") + 1).as("bins"),
        sum("n_tokens").as("tok"))
      .collect()
    // 1) the skewed group split into `shards` independent folds: no task
    //    ever materialized more than |big|/shards items
    assert(perTask.map(_.getLong(2)).max <= n / 2 / shards,
      "a single fold saw more items than the shard bound allows")
    // 2) FFD's sequential state is the bin-load list: every fold's bin
    //    count stays within the half-full guarantee (≤ 2·tokens/budget
    //    + 1), orders below the item count
    perTask.foreach { r =>
      val (bins, tok) = (r.getLong(3), r.getLong(4))
      assert(bins <= 2 * tok / budget + 1,
        s"bin list grew past the packing bound: $bins bins for $tok tokens")
    }
    // 3) no bin overfills (oversized docs excepted — none generated here)
    assert(packed.filter(col("load_after") > budget).count() == 0)
    // Same contract for the next-fit packer behind pack_sequences.
    val nf = api.Pipeline.packNextFit(
      df, col("src"), col("doc_id"), col("tc"), budget, shards)
    assert(nf.filter(col("fill_after") > budget).count() == 0)
    val nfMax = nf.groupBy("group", "shard").count()
      .agg(max("count")).first().getLong(0)
    assert(nfMax <= n / 2 / shards)
  }

  test("bpeTrain ladder equals an array-fold reference on random corpora") {
    import sp.implicits._
    // Reference BPE in plain Scala: per-word symbol lists, pair counts
    // weighted by word freq, (n desc, l, r) winner, leftmost
    // non-overlapping merge via an explicit index scan — no string
    // encoding anywhere, so it cannot share the engine's separator
    // trick (what this property actually certifies).
    def refTrain(words: Seq[String], rounds: Int)
        : Seq[(Int, String, String, String, Long)] = {
      var wf: Map[Vector[String], Long] = words.filter(_.length >= 2)
        .groupBy(identity).map { case (w, ws) =>
          (w.map(_.toString).toVector, ws.size.toLong) }
      val out = Seq.newBuilder[(Int, String, String, String, Long)]
      var r = 1
      var done = false
      while (r <= rounds && !done) {
        val counts = scala.collection.mutable.Map
          .empty[(String, String), Long]
        wf.foreach { case (syms, c) =>
          syms.sliding(2).foreach {
            case Vector(a, b) =>
              counts((a, b)) = counts.getOrElse((a, b), 0L) + c
            case _ => ()
          }
        }
        if (counts.isEmpty) done = true
        else {
          val ((l, rt), n) = counts.toSeq
            .sortBy { case ((a, b), m) => (-m, a, b) }.head
          out += ((r, l, rt, l + rt, n))
          wf = wf.toSeq.map { case (syms, c) =>
            val merged = Vector.newBuilder[String]
            var i = 0
            while (i < syms.length) {
              if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == rt) {
                merged += (l + rt); i += 2
              } else { merged += syms(i); i += 1 }
            }
            (merged.result(), c)
          }.groupBy(_._1).map { case (k, vs) => (k, vs.map(_._2).sum) }
          r += 1
        }
      }
      out.result()
    }
    val word: Gen[String] = Gen.choose(1, 6)
      .flatMap(n => Gen.listOfN(n, Gen.oneOf("a", "b", "c")).map(_.mkString))
    val corpus: Gen[List[String]] = Gen.choose(5, 40)
      .flatMap(n => Gen.listOfN(n, word))
    samples(corpus, 6).foreach { words =>
      val df = Seq((1L, words.mkString(" "))).toDF("id", "body")
      val engine = api.Text.bpeTrain(df, col("body"), rounds = 4)
        .collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2),
          r.getString(3), r.getLong(4))).toSeq
      val expected = refTrain(words, 4)
      assert(engine == expected,
        s"corpus=${words.mkString(" ")} engine=$engine ref=$expected")
    }
  }
}
