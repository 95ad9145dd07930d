package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The public graft.api surface exercised on NON-corpus DataFrames built
  * inline — proving the operators are callable engine functions over
  * arbitrary (DataFrame, Column) inputs, not registry demos hard-wired to
  * the test tables.
  */
class ApiSpec extends AnyFunSuite with SparkFixture {

  private def docs = {
    val sp = spark
    import sp.implicits._
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (2L, "quick brown fox jumps over the lazy dog near the river bank"),
      (3L, "completely different content about spark catalyst optimizer rules"),
      (4L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (5L, "ANOTHER unrelated document mentioning shuffle partitions and joins")
    ).toDF("id", "body")
  }

  test("minhashNearDuplicates finds the perturbed pair, not the unrelated ones") {
    val pairs = api.Dedup.minhashNearDuplicates(
      docs, col("id"), col("body"), numHashes = 32, bands = 8,
      minJaccard = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // 1↔2 near-dup (one token dropped), 1↔4 and 2↔4 exact-text pairs;
    // 3 and 5 must never pair with anything.
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((1L, 4L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
    assert(!pairs.exists(p => p._1 == 5L || p._2 == 5L))
  }

  test("exactDuplicates groups identical normalized text") {
    val groups = api.Dedup.exactDuplicates(docs, col("id"), col("body"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // ids 1 and 4 share a text → keeper 1 with 2 copies; 4 groups total.
    assert(groups.length == 4)
    assert(groups.contains((1L, 2L)))
  }

  test("simhashSignatures: near-dups are close in hamming, unrelated far") {
    val sig = api.Dedup.simhashSignatures(docs, col("id"), col("body"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(sig(1L) == sig(4L)) // identical text, identical signature
    assert(hamming(sig(1L), sig(2L)) < hamming(sig(1L), sig(3L)))
  }

  test("shingles column expression produces distinct k-grams") {
    val sh = docs.filter(col("id") === 3)
      .select(api.Dedup.shingles(col("body"), k = 2))
      .collect()(0).getSeq[String](0)
    assert(sh.contains("completely different"))
    assert(sh.contains("catalyst optimizer"))
    assert(sh.distinct.length == sh.length)
  }

  test("cosineTopK ranks an identical vector first") {
    val sp = spark
    import sp.implicits._
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(1.0f, 0.0f, 0.0f)),   // identical to 0
      (2L, Array(0.9f, 0.1f, 0.0f)),   // close
      (3L, Array(0.0f, 0.0f, 1.0f))    // orthogonal
    ).toDF("vid", "v")
    val top = api.Similarity.cosineTopK(
      vecs.filter(col("vid") === 0), col("vid"), col("v"),
      vecs, col("vid"), col("v"), topK = 3)
      .orderBy("rank").collect()
    assert(top.map(_.getLong(2)).toSeq == Seq(1L, 2L, 3L))
    assert(math.abs(top(0).getDouble(3) - 1.0) < 1e-9)
  }

  test("lshSignature is deterministic and buckets identical vectors together") {
    val sp = spark
    import sp.implicits._
    val vecs = Seq(
      (0L, Seq.tabulate(64)(i => math.sin(i + 1))),
      (1L, Seq.tabulate(64)(i => math.sin(i + 1))),
      (2L, Seq.tabulate(64)(i => math.cos(3 * i + 2)))
    ).toDF("vid", "v")
    val sig = vecs.select(col("vid"),
      api.Similarity.lshSignature(col("v")).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(sig(0L) == sig(1L))
    assert(sig.values.forall(s => s >= 0 && s < 64))
    // Re-evaluation yields the same buckets (plan-time literal planes).
    val sig2 = vecs.select(col("vid"),
      api.Similarity.lshSignature(col("v")).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(sig == sig2)
  }

  test("lshSignature: NULL vector yields NULL signature; wrong dim raises with a message") {
    val sp = spark
    import sp.implicits._
    val withNull = Seq((0L, Option(Seq.tabulate(64)(i => math.sin(i + 1)))),
      (1L, Option.empty[Seq[Double]])).toDF("vid", "v")
    val rows = withNull.select(col("vid"),
      api.Similarity.lshSignature(col("v")).as("sig")).orderBy("vid").collect()
    assert(!rows(0).isNullAt(1))
    assert(rows(1).isNullAt(1))
    val short = Seq((0L, Seq.tabulate(8)(i => math.sin(i + 1)))).toDF("vid", "v")
    val ex = intercept[Exception] {
      short.select(api.Similarity.lshSignature(col("v"))).collect()
    }
    assert(ex.getMessage.contains("vector length 8"))
  }

  test("Joins.asOf picks the latest right row at or before each left time") {
    val sp = spark
    import sp.implicits._
    val trades = Seq((1L, "A", 100L), (2L, "A", 205L), (3L, "B", 150L))
      .toDF("trade_id", "sym", "t")
    val quotes = Seq(("A", 90L, 10.0), ("A", 200L, 11.0), ("A", 210L, 12.0),
      ("B", 150L, 20.0), ("B", 160L, 21.0))
      .toDF("q_sym", "q_t", "px")
    val got = api.Joins.asOf(
      trades, col("trade_id"), col("sym"), col("t"),
      quotes, col("q_sym"), col("q_t"), tieBreak = col("q_t"))
      .select("trade_id", "px").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // trade 1 at t=100 sees quote t=90; trade 2 at t=205 sees t=200 (not
    // 210); trade 3 at t=150 matches the equal-time quote (non-strict).
    assert(got == Map(1L -> 10.0, 2L -> 11.0, 3L -> 20.0))
  }

  test("Joins.salted equals the unsalted join result") {
    val sp = spark
    import sp.implicits._
    val fact = sp.range(1000)
      .select(col("id"), (when(col("id") % 100 === 0, "rare")
        .otherwise("hot")).as("k"))
    val dim = Seq(("hot", 1.0), ("rare", 100.0)).toDF("k", "wt")
    val salted = api.Joins.salted(fact, dim, "k", col("id"), salts = 4)
      .agg(sum("wt")).collect()(0).getDouble(0)
    val plain = fact.join(dim, "k")
      .agg(sum("wt")).collect()(0).getDouble(0)
    assert(salted == plain)
  }

  test("hllCountDistinct estimates within dense-HLL error bounds") {
    val sp = spark
    import sp.implicits._
    val n = 5000
    val est = (0 until n).map(_.toLong).toDF("x")
      .agg(api.Sketches.hllCountDistinct(col("x")).as("est"))
      .collect()(0).getLong(0)
    // p=12 ⇒ σ ≈ 1.63%; 5σ bound keeps the test deterministic-safe.
    assert(math.abs(est - n) < n * 0.082, s"est=$est for n=$n")
  }

  test("LSH candidates rescored exactly: minhashNearDuplicates -> ngramJaccard") {
    // The production near-dup pipeline: cheap LSH candidate generation,
    // then exact Jaccard rescoring of only those pairs.
    val cands = api.Dedup.minhashNearDuplicates(
      docs, col("id"), col("body"), numHashes = 32, bands = 8,
      minJaccard = 0.3).select("id_a", "id_b")
    val scored = api.Dedup.ngramJaccard(docs, col("id"), col("body"), cands)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(scored((1L, 4L)) == 1.0) // identical docs: exact jaccard 1
    val near = scored((1L, 2L))     // one-token-dropped copy
    assert(near > 0.7 && near < 1.0)
  }

  test("Dedup.connectedComponents labels a long chain, a triangle, an isolate") {
    val sp = spark
    import sp.implicits._
    // chain 0-1-2-...-40 (diameter 40 — needs pointer jumping at 8 iters),
    // triangle 100-101-102, isolated node 200
    val chain = (0L until 40L).map(i => (i, i + 1))
    val edges = (chain ++ Seq((100L, 101L), (101L, 102L), (100L, 102L)))
      .toDF("s", "t")
    val nodes = ((0L to 40L) ++ Seq(100L, 101L, 102L, 200L)).toDF("nid")
    val comp = api.Dedup.connectedComponents(
      nodes, col("nid"), edges, col("s"), col("t"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0L to 40L).forall(comp(_) == 0L))
    assert(Seq(100L, 101L, 102L).forall(comp(_) == 100L))
    assert(comp(200L) == 200L)
  }

  test("Text.languageId classifies disjoint-vocabulary languages") {
    val sp = spark
    import sp.implicits._
    val labeled = Seq(
      ("aa bb cc dd aa bb", "xx"), ("aa cc bb dd dd", "xx"),
      ("zz yy ww vv zz yy", "qq"), ("ww vv zz yy ww", "qq")
    ).toDF("body", "tongue")
    val unknown = Seq((1L, "aa bb dd"), (2L, "zz ww yy"))
      .toDF("uid", "body")
    val pred = api.Text.languageId(
      labeled, col("body"), col("tongue"),
      unknown, col("uid"), col("body"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(pred == Map(1L -> "xx", 2L -> "qq"))
  }

  test("Text.tfIdf: corpus-wide terms score zero, rare terms positive") {
    val sp = spark
    import sp.implicits._
    val docs = Seq((1L, "common rare1"), (2L, "common rare2"))
      .toDF("did", "body")
    val scores = api.Text.tfIdf(docs, col("did"), col("body"))
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(scores((1L, "common")) == 0.0) // ln(2/2) = 0
    assert(scores((1L, "rare1")) > 0.3)   // 0.5 * ln 2
    assert(scores.get((1L, "rare2")).isEmpty)
  }

  test("API edge cases: nulls and empties don't throw, contracts hold") {
    val sp = spark
    import sp.implicits._
    val withNull = Seq((1L, "real text here"), (2L, null: String))
      .toDF("id", "body")
    // null text rows produce no signature (posexplode drops them) — they
    // can't be near-duplicates of anything.
    val sigs = api.Dedup.minhashSignatures(withNull, col("id"), col("body"))
      .collect()
    assert(sigs.map(_.getLong(0)).toSet == Set(1L))
    // exactDuplicates groups nulls into one digest-null class, no throw
    val groups = api.Dedup.exactDuplicates(withNull, col("id"), col("body"))
    assert(groups.count() == 2)
    // empty query side → empty top-k, no throw
    val vecs = Seq((0L, Array(1.0f, 0.0f))).toDF("vid", "v")
    val empty = api.Similarity.cosineTopK(
      vecs.filter(col("vid") < 0), col("vid"), col("v"),
      vecs, col("vid"), col("v"), topK = 3)
    assert(empty.count() == 0)
    // single-doc corpus → no candidate pairs
    val single = api.Dedup.minhashNearDuplicates(
      withNull.filter(col("id") === 1), col("id"), col("body"))
    assert(single.count() == 0)
  }

  test("Text.fingerprint matches the hand-computed rolling hash") {
    val sp = spark
    import sp.implicits._
    // "ab" → (0*31+97)*31+98 = 3105
    val fp = Seq("ab").toDF("t")
      .select(api.Text.fingerprint(col("t"))).collect()(0).getLong(0)
    assert(fp == 3105L)
    val tc = Seq("one two  three").toDF("t")
      .select(api.Text.tokenCount(col("t"))).collect()(0).getInt(0)
    assert(tc == 4) // split on single space: empty token counts, as documented
  }

  test("Layout.zorderBy preserves caller columns named like its sort key") {
    val sp = spark
    import sp.implicits._
    // A caller column that collides with the internal sort-key name must
    // survive the layout pass untouched (regression: hardcoded temp name
    // silently replaced and dropped it).
    val df = Seq((1L, 2L, "keep-me"), (3L, 4L, "me-too"))
      .toDF("x", "y", "__graft_z0")
    val out = api.Layout.zorderBy(df, col("x"), col("y"), numFiles = 2)
    assert(out.columns.toSeq == Seq("x", "y", "__graft_z0"))
    assert(out.select("__graft_z0").collect().map(_.getString(0)).toSet ==
      Set("keep-me", "me-too"))
  }

  test("canonicalizeUrl collapses tracking/port/case/slash/fragment noise") {
    val sp = spark
    import sp.implicits._
    val cases = Seq(
      // (input, expected canonical)
      ("https://Example.COM/a/b?utm_source=x&id=9",
        "https://example.com/a/b?id=9"), // leading utm param: no dangling &
      ("https://example.com:443/a/b#frag", "https://example.com/a/b"),
      ("HTTPS://EXAMPLE.com/a/b/", "https://example.com/a/b"),
      ("https://example.com/a/b?id=9&utm_campaign=z&utm_medium=m",
        "https://example.com/a/b?id=9"), // multiple utm params all strip
      ("https://example.com/A/B?x=1&y=2",
        "https://example.com/A/B?x=1&y=2"), // path case + real params kept
      ("https://example.com/only?utm_ref=q", "https://example.com/only"),
      ("https://x.com/a&b?c=1",
        "https://x.com/a&b?c=1"), // literal '&' in the PATH stays put
      ("https://x.com/a&b?utm_s=1",
        "https://x.com/a&b"), // ...even when the query strips away
      ("https://example.com/p?utm_a=1&utm_b=2",
        "https://example.com/p")) // consecutive leading utm params
    val got = cases.map(_._1).toDF("u")
      .select(api.Text.canonicalizeUrl(col("u"))).collect().map(_.getString(0))
    cases.map(_._2).zip(got).foreach { case (want, g) =>
      assert(g == want, s"want $want got $g")
    }
  }

  test("wavFrameEnergy: exact per-frame sums, partial tail dropped") {
    val sp = spark
    import sp.implicits._
    // 10 samples, frameLen 4: frames [3,3,3,3] → 36, [0,0,5,-5] → 50;
    // the 2-sample tail (7,7) is an incomplete frame and must vanish.
    val wav = graft.functions.Codecs.encodeWav(8000,
      Array[Short](3, 3, 3, 3, 0, 0, 5, -5, 7, 7))
    val df = Seq((1L, wav)).toDF("id", "payload")
    val got = api.Multimodal.wavFrameEnergy(
        df, org.apache.spark.sql.functions.col("id"),
        org.apache.spark.sql.functions.col("payload"), frameLen = 4)
      .orderBy("frame_idx")
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq((0L, 36L), (1L, 50L)), got.mkString(","))
  }

  test("bmpBandFeatures aggregates the decoded pixels per horizontal band") {
    val sp = spark
    import sp.implicits._
    // 2 wide × 4 tall, pixel value = 10·y (all channels): with bands=2,
    // band 0 = rows 0-1 (values 0,10), band 1 = rows 2-3 (values 20,30).
    val bytes = graft.functions.Codecs.encodeBmp(2, 4, (_, y) =>
      (10 * y, 10 * y, 10 * y))
    val df = Seq((7L, bytes)).toDF("id", "payload")
    val out = api.Multimodal.bmpBandFeatures(
        df, col("id"), col("payload"), bands = 2)
      .orderBy("band")
      .collect().map(r => (r.getInt(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(out.toSeq == Seq(
      (0, 4L, 3L * (0 + 0 + 10 + 10), 0L, 10L),
      (1, 4L, 3L * (20 + 20 + 30 + 30), 20L, 30L)))
  }

  test("Layout.publish: readers never resolve a partial version") {
    val sp = spark
    import sp.implicits._
    val root = Scratch.fresh("publish_spec")
    api.Layout.publish(Seq((1L, "one")).toDF("k", "v"), root)
    def current() = api.Layout.readCurrent(spark, root).get
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(current() == Seq(1L))
    // Simulate an IN-FLIGHT second publish: the new version's data is on
    // disk (even fully written) but the pointer has not swapped — readers
    // must still resolve v1. This is the window where a plain in-place
    // overwrite would expose partial state.
    Seq((2L, "two"), (3L, "three")).toDF("k", "v")
      .write.parquet(s"$root/v2")
    assert(current() == Seq(1L))
    // Complete the swap exactly as publish does; readers flip atomically.
    val tmp = java.nio.file.Paths.get(root, "_CURRENT.tmp2")
    java.nio.file.Files.writeString(tmp, "v2")
    java.nio.file.Files.move(tmp, java.nio.file.Paths.get(root, "_CURRENT"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    assert(current() == Seq(2L, 3L))
    // And a subsequent publish() picks up after the manual v2.
    val v3 = api.Layout.publish(Seq((4L, "four")).toDF("k", "v"), root)
    assert(v3.endsWith("/v3") && current() == Seq(4L))
  }

  test("Layout.publish keeps the schema: a version reads back with no " +
    "inference job") {
    val sp = spark
    import sp.implicits._
    val root = Scratch.fresh("publish_schema")
    val kv = Seq((1L, "one")).toDF("k", "v")
    api.Layout.publish(kv, root)
    def typed(df: org.apache.spark.sql.DataFrame) =
      df.schema.map(f => f.name -> f.dataType)
    // Inferring a parquet schema runs a job that reads a file footer.
    val (kept, jobs, _) =
      Probe.schedulerWork(spark)(api.Layout.readCurrent(spark, root).get)
    assert(jobs == 0 && typed(kept) == typed(kv))
    assert(kept.as[(Long, String)].collect().toSeq == Seq((1L, "one")))
    // A version written without the kept schema is read with inference.
    java.nio.file.Files.delete(java.nio.file.Paths.get(root, "v1", "_schema.json"))
    val (inferred, inferJobs, _) =
      Probe.schedulerWork(spark)(api.Layout.readCurrent(spark, root).get)
    assert(inferJobs > 0 && typed(inferred) == typed(kv))
  }

  test("Layout.publishManifest: retention swaps complete generations, never a mixture") {
    val sp = spark
    import sp.implicits._
    val root = s"${Scratch.fresh("manifest_spec")}/table"
    Seq((19730L, "a"), (19731L, "b"), (19740L, "c")).toDF("day", "v")
      .write.partitionBy("day").parquet(root)
    val dirs = scala.util.Using.resource(
        java.nio.file.Files.list(java.nio.file.Paths.get(root)))(_.toArray)
      .map(_.toString).filter(_.contains("day=")).sorted.toSeq
    api.Layout.publishManifest(root, dirs)
    assert(api.Layout.currentManifest(root) == dirs)
    // Retention pass: generation 2 lists only the surviving day. The swap
    // is metadata-only; the dropped days are still complete on disk, so a
    // reader that resolved the OLD pointer mid-pass reads generation 1
    // whole — never a partially-deleted mixture.
    api.Layout.publishManifest(root, dirs.filter(_.contains("day=19740")))
    val oldGen = spark.read.option("basePath", root).parquet(dirs: _*)
    assert(oldGen.count() == 3)
    val cur = api.Layout.currentManifest(root)
    assert(cur.size == 1)
    val newGen = spark.read.option("basePath", root).parquet(cur: _*)
    assert(newGen.select("v").collect().map(_.getString(0)).toSeq == Seq("c"))
    // full-expiry edge: a generation that drops EVERY partition is a
    // valid (empty) manifest, not an error — readers see zero dirs
    api.Layout.publishManifest(root, Seq.empty)
    assert(api.Layout.currentManifest(root).isEmpty)
  }

  test("Layout.publishManifest: concurrent writers never share a " +
    "generation and never lose one") {
    val root = s"${Scratch.fresh("manifest_race")}/table"
    // 8 threads race 5 publishes each through the claim protocol. Every
    // publish must win a DISTINCT generation (the r11 verdict's
    // generation-race gap), and the final pointer must resolve the
    // highest one.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    val gens = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    val futures = (0 until 8).map { w =>
      pool.submit(new Runnable {
        override def run(): Unit = (0 until 5).foreach { i =>
          val g = api.Layout.publishManifest(root, Seq(s"d-$w-$i"))
          assert(gens.add(g), s"generation $g was published TWICE")
        }
      })
    }
    futures.foreach(_.get())
    pool.shutdown()
    assert(gens.size == 40, s"expected 40 distinct generations, ${gens.size}")
    assert((1L to 40L).forall(gens.contains), "generations must be dense")
    // the pointer resolves the last swap, and its manifest content is the
    // winner's list (claim content written before the swap)
    val cur = api.Layout.currentManifest(root)
    assert(cur.size == 1 && cur.head.startsWith("d-"))
  }

  test("Layout time travel + vacuum: old versions readable until retired, " +
    "current never deleted") {
    val sp = spark
    import sp.implicits._
    val root = s"${Scratch.fresh("layout_vacuum")}/table"
    (1 to 4).foreach { i =>
      api.Layout.publish(Seq((i.toLong, s"gen$i")).toDF("k", "v"), root)
    }
    // time travel: every published version readable, content intact
    (1 to 4).foreach { i =>
      val df = api.Layout.readVersion(spark, root, i.toLong)
      assert(df.isDefined, s"v$i missing before vacuum")
      assert(df.get.select("v").first().getString(0) == s"gen$i")
    }
    assert(api.Layout.readVersion(spark, root, 99L).isEmpty)
    // vacuum keeps the newest 2 (v3, v4) and deletes v1, v2
    assert(api.Layout.vacuum(root, keepLast = 2) == Seq(1L, 2L))
    assert(api.Layout.readVersion(spark, root, 1L).isEmpty)
    assert(api.Layout.readVersion(spark, root, 2L).isEmpty)
    assert(api.Layout.readVersion(spark, root, 3L).isDefined)
    assert(api.Layout.readCurrent(spark, root).get
      .select("v").first().getString(0) == "gen4")
    // the current pointer target survives even a keepLast=1 vacuum that
    // would otherwise be tempted past it
    assert(api.Layout.vacuum(root, keepLast = 1) == Seq(3L))
    assert(api.Layout.readCurrent(spark, root).get.count() == 1)
    // idempotent: nothing left to retire
    assert(api.Layout.vacuum(root, keepLast = 1).isEmpty)
  }

  test("Layout.publishManifestIf: stale expected generation is rejected, " +
    "fresh one wins (optimistic CAS)") {
    val root = s"${Scratch.fresh("manifest_cas")}/table"
    val g1 = api.Layout.publishManifest(root, Seq("a"))
    assert(g1 == 1L)
    // read-modify-write from generation 1 succeeds...
    assert(api.Layout.publishManifestIf(root, Seq("a", "b"), 1L)
      .contains(2L))
    // ...but a writer still holding the generation-1 view must NOT be
    // able to clobber generation 2's list (lost-update prevention)
    assert(api.Layout.publishManifestIf(root, Seq("stale"), 1L).isEmpty)
    assert(api.Layout.currentManifest(root) == Seq("a", "b"))
    // and the CAS loser can retry from the fresh generation
    assert(api.Layout.publishManifestIf(root, Seq("a", "b", "c"), 2L)
      .contains(3L))
    assert(api.Layout.currentManifest(root) == Seq("a", "b", "c"))
  }

  test("distinctiveTerms ranks by tf desc, rarity asc, term asc") {
    val sp = spark
    import sp.implicits._
    // doc 1: "zeta" twice (tf wins), then ties broken by corpus rarity
    // ("rare" appears in 1 doc, "common" in both) then alphabetically.
    val df = Seq(
      (1L, "zeta zeta rare common alpha"),
      (2L, "common alpha beta beta")).toDF("id", "body")
    val kw = api.Text.distinctiveTerms(df, col("id"), col("body"), k = 3)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(kw(1L) == "zeta,rare,alpha")
    assert(kw(2L) == "beta,alpha,common")
  }

  test("duplicateSpanProfile counts shared windows, not merely shared docs") {
    val sp = spark
    import sp.implicits._
    // Docs 1/2 share the 5-word passage "one two three four five"; doc 1
    // repeats it twice (both occurrences count as duplicated windows);
    // doc 3 shares nothing; doc 4 is too short for any 5-word window.
    val df = Seq(
      (1L, "one two three four five one two three four five"),
      (2L, "zz one two three four five yy"),
      (3L, "aa bb cc dd ee ff gg"),
      (4L, "too short here")).toDF("id", "body")
    val out = api.Dedup.duplicateSpanProfile(
        df, col("id"), col("body"), spanWords = 5)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // doc 1: 6 windows; the shared passage occurs at offsets 1 and 6, and
    // the straddling windows ("four five one two three" etc.) also repeat
    // within the doc but not across docs — only cross-doc grams count,
    // and every window of doc 1 that equals a window of doc 2 is just the
    // passage itself at its two offsets.
    assert(out(1L)._1 == 6 && out(1L)._2 == 2, out(1L).toString)
    assert(out(2L) == ((3L, 1L)))
    assert(out(3L) == ((3L, 0L)))
    assert(!out.contains(4L), "short doc must be excluded, not zero-filled")
  }

  test("bpePairStats weights pairs by word frequency with deterministic rank") {
    val sp = spark
    import sp.implicits._
    // 'ab' appears in "abc" (x3 tokens) and "ab" (x1) = 4; 'bc' in "abc"
    // (x3) = 3; 'xy'/'yz' in "xyz" (x2) = 2 each, tie broken 'xy' < 'yz'.
    val df = Seq((1L, "abc abc xyz ab"), (2L, "abc xyz x")).toDF("id", "body")
    val out = api.Text.bpePairStats(df, col("body"), topK = 10)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    assert(out.toSeq == Seq(
      (1, "ab", 4L), (2, "bc", 3L), (3, "xy", 2L), (4, "yz", 2L)))
  }

  test("bpeTrain merges leftmost non-overlapping and builds on prior rounds") {
    val sp = spark
    import sp.implicits._
    // Round 1 on {aaaa x3, aab x2, bb x1}: pairs aa=3·3+2=11 (leftmost
    // scan of aaaa yields 3 aa-adjacencies... weighted by word freq),
    // merge 'aa'. CRITICALLY 'aaaa' must become [aa, aa] (leftmost
    // non-overlap), NOT [aa, a, a] — round 2's count of (aa, aa) proves
    // which one happened: 3 if correct, 0 if the shared-flank bug bit.
    val df = Seq((1L, "aaaa aaaa aaaa aab aab bb")).toDF("id", "body")
    val out = api.Text.bpeTrain(df, col("body"), rounds = 3)
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4)))
    // Round 1: aa (from aaaa: 3 adjacent pairs each, aab: 1 each) = 11.
    assert(out(0) == ((1, "a", "a", "aa", 11L)), out(0).toString)
    // Round 2 pair counts over {[aa,aa] x3, [aa,b] x2, [b,b] x1}:
    // (aa,aa)=3, (aa,b)=2, (b,b)=1 → merge aaaa with n=3. A
    // shared-flank replace bug would have left [aa,a,a] and merged
    // (aa,a) or (a,a) instead.
    assert(out(1) == ((2, "aa", "aa", "aaaa", 3L)), out(1).toString)
    // Round 3: (aa,b)=2 beats (b,b)=1 — merged symbol built on round 1.
    assert(out(2) == ((3, "aa", "b", "aab", 2L)), out(2).toString)
  }

  test("bpeTokenStats counts merged symbols, single-char words count one") {
    val sp = spark
    import sp.implicits._
    // Same ladder as the bpeTrain spec (aa, aaaa, aab after 3 rounds).
    // Final vocab: aaaa→1 token, aab→1, bb→[b,b]→2; 'x' is excluded from
    // training (len 1) and must count as ONE token via the coalesce.
    val df = Seq(
      ("s1", "aaaa aaaa aaaa aab aab bb"),
      ("s2", "x aaaa")).toDF("src", "body")
    val out = api.Text.bpeTokenStats(df, col("src"), col("body"), rounds = 3)
      .orderBy("grp").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    // s1: ws=6, chars=3·4+2·3+2=20, bpe=3·1+2·1+2=7, rate=700 div 20=35.
    assert(out(0) == (("s1", 6L, 20L, 7L, 35L)), out(0).toString)
    // s2: ws=2, chars=1+4=5, bpe=1+1=2, rate=200 div 5=40.
    assert(out(1) == (("s2", 2L, 5L, 2L, 40L)), out(1).toString)
  }


  test("geoCellJoin finds boundary pairs across cells and respects the radius") {
    val sp = spark
    import sp.implicits._
    import org.apache.spark.sql.functions.col
    // Pairs planted around lat 0 — where Spark's TRUNCATING `div` makes
    // cell 0 twice as wide as DuckDB's floor cells, the worst case for
    // a completeness bug. cell = 1000 micro.
    val a = Seq(
      (1L, -100L, 0L),   // near the 0-boundary from below
      (2L, 900L, 900L),  // inside cell (0,0)
      (3L, -5000L, 0L)   // far from everything
    ).toDF("id", "lat", "lon")
    val b = Seq(
      (10L, 100L, 0L),   // 200 micro from a1, across the boundary
      (20L, 1500L, 900L), // 600 micro from a2, next cell up
      (30L, 2500L, 900L)  // 1600 micro from a2: outside radius 1000
    ).toDF("id", "lat", "lon")
    val out = graft.api.Joins.geoCellJoin(
        a, col("id"), col("lat"), col("lon"),
        b, col("id"), col("lat"), col("lon"), cellMicro = 1000L)
      .orderBy("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq((1L, 10L, 200L), (2L, 20L, 600L)),
      out.mkString(","))
  }

  test("bpeTrain is stable under repartitioning") {
    val docs = graft.Tables.documents(spark, sf0001)
    val a = api.Text.bpeTrain(docs, col("text"), rounds = 4).collect()
    val b = api.Text.bpeTrain(docs.repartition(7), col("text"), rounds = 4)
      .collect()
    assert(a.toSeq == b.toSeq)
    assert(a.length == 4)
  }

  test("dHash collapses noise but separates patterns; MIH finds the pairs") {
    val sp = spark
    import sp.implicits._
    def bmp(f: (Int, Int) => Int): Array[Byte] =
      graft.functions.Codecs.encodeBmp(32, 28, (x, y) => {
        val v = f(x, y); (v, v, v)
      })
    val pattern: (Int, Int) => Int = (x, y) => (x * x * 17 + y * y * 23) % 256
    val df = Seq(
      (1L, bmp(pattern)),
      // same pattern, one corrupted pixel OFF the 9x7 sample grid
      (2L, bmp((x, y) => if (x == 1 && y == 1) 250 else pattern(x, y))),
      // a genuinely different interference pattern
      (3L, bmp((x, y) => (x * x * 20 + y * y * 31 + x * y * 9) % 256)),
      (4L, Array[Byte](1, 2, 3))) // undecodable: dropped, not thrown
    .toDF("id", "payload")
    val sigs = api.Multimodal.dHashes(df, col("id"), col("payload"))
    val byId = sigs.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byId.keySet == Set(1L, 2L, 3L))
    assert(byId(1L) == byId(2L), "off-grid noise must not perturb the hash")
    assert(byId(1L) != byId(3L), "distinct patterns must separate")
    assert(byId.values.forall(_ >= 0L), "56-bit hash is sign-safe")
    val pairs = api.Multimodal.dhashNearPairs(sigs, maxDist = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.toSeq == Seq((1L, 2L, 0L)),
      s"expected exactly the noise pair at distance 0, got ${pairs.toSeq}")
  }

  test("dhashNearPairs at radius 6 equals the exact all-pairs scan") {
    val sp = spark
    import sp.implicits._
    // 40 synthetic 56-bit signatures with planted near-dups: id and
    // id+100 differ in exactly (id % 8) bits — distances 0..7 straddle
    // the radius, so both keep and reject cases exercise the bands.
    val sigs = (0L until 20L).flatMap { i =>
      val base = (i * 0x9e3779b97f4a7c15L) & ((1L << 56) - 1)
      val flipped = (0 until (i % 8).toInt)
        .foldLeft(base)((h, k) => h ^ (1L << (k * 7)))
      Seq((i, base), (i + 100L, flipped))
    }.toDF("id", "dhash")
    val got = api.Multimodal.dhashNearPairs(sigs, maxDist = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val rows = sigs.collect().map(r => (r.getLong(0), r.getLong(1)))
    val want = (for {
      (ia, ha) <- rows; (ib, hb) <- rows if ia < ib
      d = java.lang.Long.bitCount(ha ^ hb) if d <= 6
    } yield (ia, ib, d.toLong)).toSet
    assert(got == want, "multi-index hashing must match brute force exactly")
  }

  test("freshness flags exactly the groups lagging past the threshold") {
    val sp = spark
    import sp.implicits._
    val df = Seq(
      ("a", "2024-01-01 00:00:00"), ("a", "2024-01-01 10:00:00"),
      ("b", "2024-01-01 09:00:00"),
      ("c", "2024-01-01 09:59:59.999999")) // 1µs inside the threshold
      .toDF("g", "t").select(col("g"), col("t").cast("timestamp").as("t"))
    val out = api.Quality.freshness(df, col("g"), col("t"),
        staleAfterUs = 3600L * 1000000L) // 1h behind the max (a@10:00)
      .collect()
      .map(r => r.getString(0) -> (r.getLong(3), r.getBoolean(4))).toMap
    assert(out("a") == ((0L, false)))
    assert(out("b") == ((3600000000L, true)), "exactly-at-threshold is stale")
    assert(out("c") == ((1L, false)), "1µs of lag must stay fresh")
  }

  test("vocabCoverage counts OOV occurrences against a deterministic vocab") {
    val sp = spark
    import sp.implicits._
    // Vocab of size 2 by frequency: 'x' (4), then the 'b'/'y' tie (2
    // each) breaks lexically to 'b'. OOV mass: 'y' (x2) and 'q' (x1).
    val df = Seq(
      ("s1", "x x b y"), ("s2", "x y b x q")).toDF("src", "body")
    val out = api.Text.vocabCoverage(df, col("src"), col("body"), 2)
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(out("s1") == ((4L, 1L, 250L)))
    assert(out("s2") == ((5L, 2L, 400L)))
  }

  test("sampleEntities keeps whole user histories and respects the hash") {
    val sp = spark
    import sp.implicits._
    val df = (1L to 400L).map(i => (i % 40L, i)).toDF("uid", "row_id")
    val kept = api.Pipeline.sampleEntities(df, col("uid"), pct = 20)
    val keptUsers = kept.select("uid").distinct()
      .collect().map(_.getLong(0)).toSet
    // Membership is a pure function of uid: every kept user keeps ALL
    // 10 of their rows (coherence), and the selected set matches an
    // independent recomputation of the md5-prefix rule.
    val perUser = kept.groupBy("uid").count().collect()
    assert(perUser.forall(_.getLong(1) == 10L), "histories must stay whole")
    val expect = (0L until 40L).filter { u =>
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(u.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 15)
      java.lang.Long.parseLong(hex, 16) % 100L < 20L
    }.toSet
    assert(keptUsers == expect)
    assert(api.Pipeline.sampleEntities(df, col("uid"), 0).count() == 0L)
    assert(api.Pipeline.sampleEntities(df, col("uid"), 100).count() == 400L)
  }

  test("mipsTopK ranks by raw inner product, not cosine") {
    val sp = spark
    import sp.implicits._
    // Candidate 11 points the same direction as the query but is tiny;
    // candidate 12 is less aligned but huge — MIPS must prefer 12,
    // while cosine prefers 11. Ties (13/14 identical) break on id.
    val vs = Seq(
      (1L, Seq(1f, 0f)),
      (11L, Seq(0.1f, 0f)),
      (12L, Seq(3f, 3f)),
      (13L, Seq(1f, 1f)),
      (14L, Seq(1f, 1f))).toDF("id", "v")
    val q = vs.filter(col("id") === 1L)
    val out = api.Similarity.mipsTopK(
        q, col("id"), col("v"), vs, col("id"), col("v"), topK = 4)
      .collect().map(r => (r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(out.map(_._2).toSeq == Seq(12L, 13L, 14L, 11L))
    assert(out.head._3 == 3.0)
    val cos = api.Similarity.cosineTopK(
        q, col("id"), col("v"), vs, col("id"), col("v"), topK = 1)
      .collect().map(_.getLong(2))
    assert(cos.head == 11L, "cosine control: normalization flips the order")
  }
}
