package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** SURVEY §5.2 edge cases for the operator families: empty input, all-null
  * keys, single row, ties, duplicate join keys.
  */
class EdgeCaseSpec extends AnyFunSuite with SparkFixture {

  private lazy val sp = spark

  private def df(rows: Seq[Row], schema: StructType) =
    sp.createDataFrame(sp.sparkContext.parallelize(rows, 2), schema)

  private val kv = StructType(Seq(
    StructField("k", StringType, nullable = true),
    StructField("v", DoubleType, nullable = true)))

  test("aggregation over empty input yields zero groups") {
    val e = df(Nil, kv)
    assert(e.groupBy("k").agg(sum("v")).count() == 0)
    // ...but a global aggregate still yields one row (count = 0)
    assert(e.agg(count(lit(1))).collect()(0).getLong(0) == 0)
  }

  test("groupBy treats null keys as one group") {
    val d = df(Seq(Row(null, 1.0), Row(null, 2.0), Row("a", 3.0)), kv)
    val m = d.groupBy("k").agg(sum("v").as("s")).collect()
      .map(r => Option(r.getString(0)) -> r.getDouble(1)).toMap
    assert(m(None) == 3.0 && m(Some("a")) == 3.0)
  }

  test("joins do not match on null keys; null-safe join does") {
    val l = df(Seq(Row(null, 1.0), Row("a", 2.0)), kv)
    val r = df(Seq(Row(null, 10.0), Row("a", 20.0)), kv)
    assert(l.join(r, l("k") === r("k")).count() == 1)
    assert(l.join(r, l("k") <=> r("k")).count() == 2)
  }

  test("duplicate join keys multiply rows (cross per key)") {
    val l = df(Seq(Row("a", 1.0), Row("a", 2.0)), kv)
    val r = df(Seq(Row("a", 10.0), Row("a", 20.0), Row("a", 30.0)), kv)
    assert(l.join(r, Seq("k")).count() == 6)
  }

  test("left anti of empty right returns left; semi returns empty") {
    val l = df(Seq(Row("a", 1.0), Row("b", 2.0)), kv)
    val e = df(Nil, kv)
    assert(l.join(e, Seq("k"), "left_anti").count() == 2)
    assert(l.join(e, Seq("k"), "left_semi").count() == 0)
  }

  test("row_number with tied sort keys is made total by a tiebreaker") {
    import org.apache.spark.sql.expressions.Window
    val d = df(Seq(Row("a", 1.0), Row("b", 1.0), Row("c", 1.0)), kv)
    val w = Window.orderBy(col("v"), col("k")) // tie on v broken by k
    val ranks = d.withColumn("rn", row_number().over(w))
      .orderBy("k").collect().map(_.getAs[Int]("rn")).toSeq
    assert(ranks == Seq(1, 2, 3))
  }

  test("single-row input flows through window frames and stats") {
    import org.apache.spark.sql.expressions.Window
    val d = df(Seq(Row("a", 5.0)), kv)
    val w = Window.partitionBy("k").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val r = d.withColumn("run", sum("v").over(w))
      .agg(first("run"), stddev_samp("v")).collect()(0)
    assert(r.getDouble(0) == 5.0)
    assert(r.isNullAt(1)) // stddev of one sample is null, not NaN/0
  }

  test("MinHash signature of an empty-text doc is defined (no crash)") {
    val docs = sp.createDataFrame(
      sp.sparkContext.parallelize(Seq(Row(1L, ""), Row(2L, "a b c d")), 2),
      StructType(Seq(StructField("doc_id", LongType, nullable = false),
        StructField("text", StringType, nullable = true))))
    // Same pipeline shape as Dedup.minhashSigs: posexplode of split.
    val n = docs.select(col("doc_id"), posexplode(split(col("text"), " ")))
      .groupBy("doc_id").agg(count(lit(1))).count()
    assert(n == 2) // split("") yields [""] — one token, not zero rows
  }

  test("cosine of empty arrays is null (zero norm), not an exception") {
    import graft.functions.CosineSimilarity
    val d = sp.createDataFrame(
      sp.sparkContext.parallelize(Seq(Row(Seq.empty[Float], Seq.empty[Float])), 1),
      StructType(Seq(
        StructField("a", ArrayType(FloatType), nullable = true),
        StructField("b", ArrayType(FloatType), nullable = true))))
    val r = d.select(CosineSimilarity(col("a"), col("b"))).collect()(0)
    assert(r.isNullAt(0))
  }

  test("Pipeline ops on empty input return empty, not exceptions") {
    val docs = df(Nil, StructType(Seq(
      StructField("id", LongType), StructField("t", StringType),
      StructField("g", StringType))))
    assert(api.Pipeline.chunkWindows(docs, col("id"), col("t")).count() == 0)
    assert(api.Pipeline.packConcatSplit(
      docs, col("g"), col("id"), lit(1L)).count() == 0)
    assert(api.Pipeline.packNextFit(
      docs, col("g"), col("id"), lit(1L)).count() == 0)
    assert(api.Pipeline.stratifiedHashSample(docs, col("id"), 500)
      .count() == 0)
    // Funnel on empty input: every stage reaches zero keys; the rate is
    // null (0/0) rather than a crash.
    val f = api.Pipeline.funnel(docs, col("id"), col("t"), col("id"),
      Seq("a", "b")).collect()
    assert(f.length == 2 && f.forall(_.getLong(2) == 0L))
  }

  test("chunkWindows of a single-token doc is one chunk of itself") {
    import sp.implicits._
    val one = Seq((7L, "solo")).toDF("id", "t")
    val rows = api.Pipeline.chunkWindows(one, col("id"), col("t"), 64, 48)
      .collect()
    assert(rows.length == 1 && rows(0).getLong(3) == 1L &&
      rows(0).getString(4) == "solo" && rows(0).getString(5) == "solo")
  }

  test("intervalOverlap: empty side, zero-length and null intervals drop out") {
    val sp2 = spark
    import sp2.implicits._
    val a = Seq((1L, 0L, 100L), (2L, 50L, 50L), (3L, 10L, 20L))
      .toDF("id", "lo", "hi") // id 2 is zero-length → excluded
    val empty = Seq.empty[(Long, Long, Long)].toDF("id", "lo", "hi")
    assert(api.Joins.intervalOverlap(a, col("id"), col("lo"), col("hi"),
      empty, col("id"), col("lo"), col("hi"), 64L).count() == 0)
    val b = Seq((9L, 40L, 60L)).toDF("id", "lo", "hi")
    val pairs = api.Joins.intervalOverlap(a, col("id"), col("lo"), col("hi"),
      b, col("id"), col("lo"), col("hi"), 64L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // Only [0,100) overlaps [40,60); the zero-length [50,50) must not.
    assert(pairs == Set((1L, 9L)))
  }

  test("bfs from an isolated source returns just the source at dist 0") {
    val sp2 = spark
    import sp2.implicits._
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    val d = api.Graph.bfs(api.Graph.undirected(edges, col("a"), col("b")),
        source = 99L, maxHops = 3)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(d == Map(99L -> 0))
  }

  test("canonicalizeUrl passes null through and leaves non-URLs intact") {
    val sp2 = spark
    import sp2.implicits._
    val out = Seq(Option("not a url at all"), None)
      .toDF("u")
      .select(api.Text.canonicalizeUrl(col("u")))
      .collect()
    assert(out(0).getString(0) == "not a url at all")
    assert(out(1).isNullAt(0))
  }

  test("distinctiveTerms with k beyond vocab returns every term, ranked") {
    val sp2 = spark
    import sp2.implicits._
    val d = Seq((1L, "x y")).toDF("id", "body")
    val kw = api.Text.distinctiveTerms(d, col("id"), col("body"), k = 10)
      .collect()(0).getString(1)
    assert(kw == "x,y")
  }

  test("pqTopK with an empty query set returns no rows") {
    val sp2 = spark
    import sp2.implicits._
    val vs = Seq((1L, Seq(1.0, 2.0)), (2L, Seq(3.0, 4.0))).toDF("id", "v")
    val cb = api.Similarity.pqCodebooks(vs, col("id"), col("v"),
      m = 2, k = 2, iterations = 1)
    val enc = api.Similarity.pqEncode(vs, col("id"), col("v"), cb)
    val noQ = Seq.empty[(Long, Seq[Double])].toDF("id", "v")
    assert(api.Similarity.pqTopK(enc, noQ, col("id"), col("v"), cb).count() == 0)
  }

  test("sssp isolated source and streaks on empty input degrade cleanly") {
    val sp2 = spark
    import sp2.implicits._
    val edges = Seq((1L, 2L, 5L)).toDF("a", "b", "w")
    val d = api.Graph.sssp(edges, col("a"), col("b"), col("w"),
        source = 42L, maxHops = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d == Map(42L -> 0L))
    val empty = Seq.empty[(Long, Long)].toDF("k", "d")
    assert(api.Pipeline.streaks(empty, col("k"), col("d")).count() == 0)
  }

  test("weightedMixture drops sources without weights; empty changes are no-op for scd2") {
    import sp.implicits._
    val d = Seq(("a", 1L), ("a", 2L), ("zzz", 9L)).toDF("s", "id")
    val got = api.Pipeline.weightedMixture(
      d, col("s"), col("id"), Map("a" -> 1000L))
    assert(got.collect().forall(_.getString(0) == "a"))
    val dim = Seq((1L, 5)).toDF("k", "v")
      .select(col("k"), col("v"), lit("2024-01-01").cast("date").as("f"),
        lit(null).cast("date").as("t"))
    val ch = df(Nil, StructType(Seq(
      StructField("k", LongType), StructField("nv", IntegerType),
      StructField("ed", DateType))))
    val out = api.Joins.scd2Apply(dim, col("k"), col("v"), col("f"),
      col("t"), ch, col("k"), col("nv"), col("ed")).collect()
    assert(out.length == 1 && out(0).getBoolean(4))
  }

  test("round-6 api edge cases: empty inputs, nulls, oversize degrade cleanly") {
    import sp.implicits._
    // sampleEntities: a null entity key hashes to null → dropped, never
    // crashes and never silently admitted.
    val ents = Seq(Some(1L), Some(2L), None).toDF("uid")
    val kept = api.Pipeline.sampleEntities(ents, col("uid"), 100)
    assert(kept.count() == 2, "null entities must drop, non-null all kept")
    // vocabCoverage on empty input: empty result, no exception.
    val emptyDocs = Seq.empty[(String, String)].toDF("s", "body")
    assert(api.Text.vocabCoverage(emptyDocs, col("s"), col("body"), 3)
      .count() == 0)
    // packFirstFitDecreasing: a single oversized item gets a private bin.
    val one = Seq(("g", 1L, 999L)).toDF("s", "id", "tc")
    val packed = api.Pipeline.packFirstFitDecreasing(
      one, col("s"), col("id"), col("tc"), budget = 512).collect()
    assert(packed.length == 1 && packed(0).getLong(3) == 0L &&
      packed(0).getLong(5) == 999L)
    // mipsTopK with an empty query side returns no rows.
    val vecs = Seq((1L, Seq(1f, 2f))).toDF("id", "v")
    assert(api.Similarity.mipsTopK(
      vecs.filter(col("id") < 0), col("id"), col("v"),
      vecs, col("id"), col("v")).count() == 0)
    // freshness: a group whose timestamps are all null reports null lag
    // and a null flag rather than crashing or claiming freshness.
    val ts = Seq(("a", Some("2024-01-01 00:00:00")), ("b", None))
      .toDF("g", "t").select(col("g"), col("t").cast("timestamp").as("t"))
    val fr = api.Quality.freshness(ts, col("g"), col("t"), 1L)
      .collect().map(r => r.getString(0) -> r.isNullAt(4)).toMap
    assert(!fr("a") && fr("b"))
    // schemaContract refuses a contract that declares a column twice.
    intercept[IllegalArgumentException] {
      api.Quality.schemaContract(ents, Seq("uid" -> "BIGINT",
        "uid" -> "DOUBLE"))
    }
  }

  test("dynamic partition overwrite leaves other partitions untouched") {
    // The sink_dynamic_overwrite guarantee, checked at the FILE level:
    // after backfilling day A, every file of day B is the same path,
    // size, and mtime — not merely the same rows re-written.
    import java.nio.file.{Files, Paths}
    val root = Scratch.fresh("dynover_spec")
    val sink = s"$root/sink"
    val ev = Tables.events(sp, sf001)
      .withColumn("day", expr("unix_micros(ts) div 86400000000"))
    ev.write.partitionBy("day").parquet(sink)
    def fileState(day: Long): Set[(String, Long, Long)] =
      scala.util.Using.resource(
          Files.list(Paths.get(s"$sink/day=$day")))(_.toArray)
        .map(_.asInstanceOf[java.nio.file.Path])
        .filter(_.toString.endsWith(".parquet"))
        .map(p => (p.getFileName.toString, Files.size(p),
          Files.getLastModifiedTime(p).toMillis)).toSet
    // Days derived from the data's own horizon (the corpus has been
    // date-shifted across driver regenerations — never hard-code days).
    val maxDay = ev.agg(max(col("day"))).head.getLong(0)
    val backfillDay = maxDay - 19L
    val untouchedDay = maxDay - 18L
    val beforeUntouched = fileState(untouchedDay)
    val beforeBackfill = fileState(backfillDay)
    ev.filter(col("day") === backfillDay)
      .withColumn("value", col("value") * 2)
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("day").parquet(sink)
    assert(fileState(untouchedDay) == beforeUntouched,
      "untouched partition was rewritten")
    assert(fileState(backfillDay) != beforeBackfill,
      "backfilled partition should have new files")
    // and the read-back table still covers every original day
    assert(sp.read.parquet(sink).select("day").distinct().count() ==
      ev.select("day").distinct().count())
  }

  test("KMV sketch edges: empty input, disjoint sets, duplicate flood") {
    import org.apache.spark.sql.functions._
    val sp = spark
    import sp.implicits._
    val sk = udaf(new graft.functions.KmvSketch(16))
    // Empty input → empty sketch (not null, not a crash).
    val empty = sp.range(0).select(sk(col("id")).as("s"))
      .collect()(0).getSeq[Long](0)
    assert(empty.isEmpty)
    // Disjoint value ranges → zero shared hashes below either θ.
    val two = sp.range(1000).select(lit("a").as("g"), col("id"))
      .unionAll(sp.range(100000, 101000).select(lit("b").as("g"), col("id")))
      .groupBy("g").agg(sk(col("id")).as("s"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    val theta = math.min(two("a").last, two("b").last)
    assert(two("a").toSet.intersect(two("b").toSet).count(_ < theta) == 0)
    // A million copies of ONE value: sketch is that single hash — the
    // sketch tracks DISTINCT values, duplicates cost no state.
    val one = sp.range(1000000).select(lit(7L).as("v"))
      .select(sk(col("v")).as("s")).collect()(0).getSeq[Long](0)
    assert(one.length == 1)
  }

  test("skew report on a single-key table: percentiles = max, ratio = 1000") {
    import org.apache.spark.sql.functions._
    val sp = spark
    import sp.implicits._
    // Reuse the report's exact metric pipeline shape on a 1-key frame:
    // every group-size percentile must equal the single group's size and
    // the skew ratio must be exactly 1000 permille (max == avg).
    val cnts = sp.range(500).select(lit(42L).as("user_id"))
      .groupBy("user_id").agg(count(lit(1)).as("n"))
    val r = cnts.agg(count(lit(1)).as("k"), sum("n").as("r"),
        max("n").as("mx"))
      .select(expr("1000000 * mx div (1000 * r div k)").as("skew_pm"))
      .collect()(0)
    assert(r.getLong(0) == 1000L)
  }

  test("round-12 operators survive empty and degenerate inputs") {
    import sp.implicits._
    import org.apache.spark.sql.functions.col
    // BPE on an empty corpus: no pairs, zero merge rows, no throw.
    val empty = Seq.empty[(Long, String)].toDF("id", "body")
    assert(graft.api.Text.bpeTrain(empty, col("body"), rounds = 3)
      .count() == 0)
    // BPE that EXHAUSTS before the round budget: one word, one possible
    // merge, then every word is a single symbol — stops at 1 row.
    val one = Seq((1L, "ab ab")).toDF("id", "body")
    assert(graft.api.Text.bpeTrain(one, col("body"), rounds = 5)
      .count() == 1)
    // PSI with an EMPTY current slice: smoothing keeps every term
    // defined; gross drift flagged (all current mass is imaginary).
    val ref = Seq(("t", 10.0), ("t", 60.0)).toDF("g", "v")
    val cur = ref.filter(col("v") < 0)
    val psi = graft.api.Quality.driftPsi(
      ref, cur, col("g"), col("v"), 50.0, 10).collect()(0)
    assert(psi.getLong(2) == 0L && psi.getDouble(3) >= 0.0)
    // ArrowPipe over a frame with empty partitions: grouped() emits no
    // batch for them, rows survive exactly once.
    val sparse = (0L until 5L).map(i => (i, s"t$i")).toDF("doc_id", "text")
      .repartition(8)
    val inSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType, nullable = false)))
    val echoed = graft.functions.ArrowPipe.pipe(
      sparse, inSchema, maxRecordsPerBatch = 3)(identity)
    assert(echoed.count() == 5)
    // MMR with a pool smaller than selectK is a caller error.
    intercept[IllegalArgumentException] {
      graft.api.Similarity.mmrRerank(sparse, col("doc_id"), col("text"),
        sparse, col("doc_id"), col("text"), poolK = 2, selectK = 5)
    }
  }

  test("session-4 operators survive empty and degenerate inputs") {
    import sp.implicits._
    import java.sql.Timestamp
    // LPA on an empty edge frame: empty result, no throw.
    val noEdges = Seq.empty[(Long, Long)].toDF("s", "d")
    assert(graft.api.Graph.labelPropagation(
      graft.api.Graph.undirected(noEdges, col("s"), col("d")),
      rounds = 3).count() == 0)
    // LPA on a single edge OSCILLATES (each node's only neighbor label
    // is the other's): after odd rounds the labels are swapped — a
    // deterministic trajectory, not an error, and exactly what the
    // fixed-round contract pins.
    val one = Seq((1L, 2L)).toDF("s", "d")
    val lab = graft.api.Graph.labelPropagation(
      graft.api.Graph.undirected(one, col("s"), col("d")),
      rounds = 3).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lab == Map(1L -> 2L, 2L -> 1L), lab.toString)
    // kCorePeel that peels EVERYTHING in one sweep: path 1-2-3 with
    // k=2 keeps only node 2, but BOTH its edges touch peeled ends, so
    // the surviving edge set — and the census, which counts nodes WITH
    // an edge — is empty from round 1 on. The (0, 0) rows exercise the
    // coalesce(sum(d), 0) empty-graph path.
    val path2 = graft.api.Graph.undirected(
      Seq((1L, 2L), (2L, 3L)).toDF("s", "d"), col("s"), col("d"))
    val cen = graft.api.Graph.kCorePeel(path2, k = 2, rounds = 2)
      .orderBy("round")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(cen.toSeq == Seq((0, 3L, 2L), (1, 0L, 0L), (2, 0L, 0L)),
      cen.mkString(","))
    // rounds = 0 is the census-only call: one row, no peeling, no NPE.
    val cen0 = graft.api.Graph.kCorePeel(path2, k = 2, rounds = 0)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(cen0.toSeq == Seq((0, 3L, 2L)), cen0.mkString(","))
    // One-row events corpus: agg_mad degenerates to (median = v,
    // MAD = 0); agg_autocorr has zero lag-1 pairs for the type, so the
    // type is ABSENT (not a null r), and nothing throws.
    val ev = Seq((1L, Timestamp.valueOf("2024-01-05 10:00:00"), 1L,
      "x", 5.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = graft.Scratch.fresh("edge_s4")
    ev.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val mad = SparkEntry.queries("agg_mad")(sp, dir).collect()(0)
    assert((mad.getLong(1), mad.getDouble(2), mad.getDouble(3)) ==
      ((1L, 5.0, 0.0)), mad.toString)
    assert(SparkEntry.queries("agg_autocorr")(sp, dir).count() == 0)
    // text_zipf on an EMPTY documents table: one row, zero terms, null
    // fit (0/0 moments) — a report, not a crash.
    Seq.empty[(Long, String, String, String, Long)]
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val z = SparkEntry.queries("text_zipf")(sp, dir).collect()(0)
    assert(z.getLong(0) == 0L && z.isNullAt(1), z.toString)
  }

  test("udaf_countmin_portable: one-sided guarantee on the fixture") {
    // CMS can only overcount: est ≥ exact on EVERY probe, and with 150
    // users into 4×64 cells some probes must be exactly right.
    val rows = SparkEntry.queries("udaf_countmin_portable")(
        spark, "/root/testdata/sf0.001")
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(4) >= 0L, s"undercount: $r")
      assert(r.getLong(3) >= r.getLong(2), s"est < exact: $r")
    }
    assert(rows.exists(_.getLong(4) == 0L), "no collision-free probe")
  }

  test("win_drawdown: hand walk — trough after peak, flat user is zero") {
    val sp = spark
    import sp.implicits._
    import java.sql.Timestamp
    def t(h: Int) = Timestamp.valueOf(f"2024-01-05 $h%02d:00:00")
    // User 1 steps (cents − 5000): +5000, −4000, −3000, +10000, −2000,
    // −1000 → levels 50, 10, −20, 80, 60, 50; peaks 50,50,50,80,80,80;
    // max drawdown = 70.00 (at the −20 trough), peak 80, final 50.
    // User 2 is flat at the $50 center: everything 0.
    val vals = Seq(100.0, 10.0, 20.0, 150.0, 30.0, 40.0)
    val ev = (vals.zipWithIndex.map { case (v, i) =>
      (i.toLong, t(i), 1L, "x", v, "{}")
    } ++ Seq.tabulate(3)(i => (100L + i, t(i), 2L, "x", 50.0, "{}")))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = graft.Scratch.fresh("drawdown_spec")
    ev.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val rows = SparkEntry.queries("win_drawdown")(sp, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
      .toMap
    assert(rows(1L) == ((6L, 70.0, 80.0, 50.0)), rows(1L).toString)
    assert(rows(2L) == ((3L, 0.0, 0.0, 0.0)), rows(2L).toString)
  }

  test("asOfForward: picks the earliest future match, ties by id") {
    val sp = spark
    import sp.implicits._
    // Left L at t=10. Rights at t=5 (past — excluded), t=10 twice
    // (boundary INCLUDED, tie to smaller id), t=20. Second left at
    // t=50 has no future match -> null.
    val l = Seq((1L, "k", 10L), (2L, "k", 50L)).toDF("lid", "lk", "lt")
    val r = Seq((100L, "k", 5L), (101L, "k", 10L), (102L, "k", 10L),
      (103L, "k", 20L)).toDF("rid", "rk", "rt")
    val got = api.Joins.asOfForward(l, col("lid"), col("lk"), col("lt"),
        r, col("rk"), col("rt"), col("rid"))
      .select("lid", "rid")
      .collect()
      .map(x => x.getLong(0) ->
        (if (x.isNullAt(1)) None else Some(x.getLong(1)))).toMap
    assert(got == Map(1L -> Some(101L), 2L -> None), got.toString)
  }

  test("join_asof_forward: corpus resolves most errors, lags nonneg") {
    val out = SparkEntry.queries("join_asof_forward")(spark, sf001)
      .collect()
    assert(out.length == 2014)
    val resolved = out.filter(!_.isNullAt(1))
    assert(resolved.length > 1500 && resolved.length < out.length)
    resolved.foreach(r => assert(r.getLong(2) >= 0, r.toString))
  }

  test("join_attribution_window: in-window credits, stale click expires") {
    val sp = spark
    import sp.implicits._
    import java.sql.Timestamp
    def t(s: String) = Timestamp.valueOf(s"2024-01-05 $s")
    // u1: click 10:00, purchase 10:10 -> credited, lag 600s. u2: click
    // 09:00, purchase 10:00 (gap 60 min > 30) -> expired even though
    // the click is its latest. u3: purchase with no click -> expired.
    val ev = Seq(
      (1L, t("10:00:00"), 1L, "click"), (2L, t("10:10:00"), 1L, "purchase"),
      (3L, t("09:00:00"), 2L, "click"), (4L, t("10:00:00"), 2L, "purchase"),
      (5L, t("10:00:00"), 3L, "purchase"))
      .map { case (i, ts, u, et) => (i, ts, u, et, 1.0, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = graft.Scratch.fresh("attr_win_spec")
    ev.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = SparkEntry.queries("join_attribution_window")(sp, dir)
      .collect()
      .map(r => r.getLong(0) ->
        ((if (r.isNullAt(1)) None else Some(r.getLong(1)),
          if (r.isNullAt(2)) None else Some(r.getLong(2))))).toMap
    assert(out.size == 3, out.toString)
    assert(out(2L) == ((Some(1L), Some(600000000L))), out.toString)
    assert(out(4L) == ((None, None)), out.toString)
    assert(out(5L) == ((None, None)), out.toString)
  }

  test("join_attribution_window: corpus exercises both credit classes") {
    val out = SparkEntry.queries("join_attribution_window")(spark, sf001)
      .collect()
    assert(out.length == 1981)
    val credited = out.filter(!_.isNullAt(1))
    assert(credited.nonEmpty && credited.length < out.length)
    credited.foreach { r =>
      assert(r.getLong(2) >= 0 && r.getLong(2) <= 1800000000L, r.toString)
    }
  }

  test("win_latency_bands: hand day of 1..100 gives exact band cuts") {
    val sp = spark
    import sp.implicits._
    import java.sql.Timestamp
    // Values 1.00..100.00 on one day: discrete percentile = the k-th
    // value exactly — p50 = 50.00, p95 = 95.00, p99 = 99.00.
    val ev = (1 to 100).map { i =>
      (i.toLong, Timestamp.valueOf("2024-01-05 10:00:00"), 1L, "view",
        i.toDouble, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = graft.Scratch.fresh("bands_spec")
    ev.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = SparkEntry.queries("win_latency_bands")(sp, dir).collect()(0)
    assert(r.getLong(1) == 100L, r.toString)
    assert(r.getDouble(2) == 50.0, r.toString)
    assert(r.getDouble(3) == 95.0, r.toString)
    assert(r.getDouble(4) == 99.0, r.toString)
  }

  test("win_latency_bands: corpus bands are ordered and spread") {
    val out = SparkEntry.queries("win_latency_bands")(spark, sf001)
      .collect()
    assert(out.length == 30)
    out.foreach { r =>
      val (p50, p95, p99) =
        (r.getDouble(2), r.getDouble(3), r.getDouble(4))
      assert(p50 < p95 && p95 < p99, r.toString)
      assert(p99 < 500.0 && p50 > 10.0, r.toString)
    }
    // the exponential-ish value tail must move the bands day to day
    assert(out.map(_.getDouble(4)).distinct.length > 10)
  }

  test("win_holt_forecast: a perfect linear ramp is tracked exactly") {
    val sp = spark
    import sp.implicits._
    import java.sql.Timestamp
    // 10·d events on day d (d = 1..10): Holt locks on after init
    // (l = x, b = 10 at every step, all divisions exact) -> level 100,
    // trend 10, forecasts 110 and 170.
    val ev = (for {
      d <- 1 to 10
      k <- 1 to 10 * d
    } yield (d.toLong * 1000 + k,
      Timestamp.valueOf(f"2024-01-$d%02d 10:00:00"), 1L, "view", 1.0,
      "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = graft.Scratch.fresh("holt_spec")
    ev.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = SparkEntry.queries("win_holt_forecast")(sp, dir).collect()(0)
    assert(r.getLong(0) == 10L, r.toString)
    assert(r.getDouble(1) == 100.0, r.toString)
    assert(r.getDouble(2) == 10.0, r.toString)
    assert(r.getDouble(3) == 110.0, r.toString)
    assert(r.getDouble(4) == 170.0, r.toString)
  }

  test("win_holt_forecast: corpus level sits inside the daily range") {
    val r = SparkEntry.queries("win_holt_forecast")(spark, sf001)
      .collect()(0)
    assert(r.getLong(0) == 30L)
    val lvl = r.getDouble(1)
    assert(lvl > 300 && lvl < 400, r.toString) // ~333 events/day
    assert(math.abs(r.getDouble(2)) < 20, r.toString) // no fake trend
    assert(math.abs(r.getDouble(4) -
      (r.getDouble(1) + 7 * r.getDouble(2))) < 0.01, r.toString)
  }

  test("win_seasonal_decompose: pure weekly pattern decomposes exactly") {
    val sp = spark
    import sp.implicits._
    import java.sql.Timestamp
    // Days 2024-01-04..17 (epoch 19726..19739, 19726 % 7 = 0) with
    // n = 10 + dow events: zero trend slope, pure weekly seasonality.
    // Every full 7-day window spans all 7 dows once -> trend = 13
    // exactly, seasonal = dow - 3, residual = 0 on days 7..10 of 14.
    val ev = (for {
      d <- 4 to 17
      k <- 1 to (10 + (d - 4) % 7)
    } yield (d.toLong * 100 + k,
      Timestamp.valueOf(f"2024-01-$d%02d 10:00:00"), 1L, "view", 1.0,
      "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = graft.Scratch.fresh("seasonal_spec")
    ev.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = SparkEntry.queries("win_seasonal_decompose")(sp, dir)
      .collect()
    assert(out.length == 14)
    val full = out.filter(!_.isNullAt(3))
    assert(full.length == 8) // days at offsets 3..10
    full.foreach { r =>
      assert(r.getDouble(3) == 13.0, r.toString)
      assert(r.getDouble(4) == r.getLong(1) - 3.0, r.toString)
      assert(r.getDouble(5) == 0.0, r.toString)
    }
    out.filter(_.isNullAt(3)).foreach { r =>
      assert(r.isNullAt(4) && r.isNullAt(5), r.toString)
    }
  }

  test("win_seasonal_decompose: corpus residuals center per dow") {
    val out = SparkEntry.queries("win_seasonal_decompose")(spark, sf001)
      .collect()
    assert(out.length == 30)
    val full = out.filter(!_.isNullAt(3))
    assert(full.length == 24)
    full.groupBy(_.getLong(1)).foreach { case (dow, rs) =>
      val s = rs.map(_.getDouble(5)).sum
      assert(math.abs(s) < 0.01, s"dow $dow residuals sum to $s")
    }
  }
}
