package graft.operators

import graft.{Cut, Q, QueryModule, Tables}
import graft.functions.CosineSimilarity
import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** §2.J — the user-extension surface: scalar UDF, typed Aggregator UDAF,
  * generator (UDTF-shaped) explode, and the custom codegen Expression.
  *
  * udf_scalar demonstrates the registration surface but is the *worst* way
  * to express its logic (a black-box closure blocks predicate pushdown and
  * codegen fusion); everywhere else the engine uses built-ins. The typed
  * Aggregator, in contrast, is the right tool for custom aggregation state:
  * it partial-aggregates map-side like any builtin agg, so the shuffle
  * carries one (sum, weight) pair per group per partition.
  */
object Udx extends QueryModule {

  /** CTE chain replaying graft.functions.Hll in DuckDB (round 11):
    * SplitMix64 over the distinct values (64-bit modular multiplies via
    * 32-bit-half decomposition — INT128 cannot hold a full 64×64
    * product), p=12 register index/rank, register max, and the
    * linear-counting/harmonic estimate. At the corpus NDVs the estimate
    * sits in the LINEAR-COUNTING branch, a function of the integer
    * zero-register count alone — no float-summation-order exposure
    * (the harmonic branch is replayed too, with the usual dyadic-sum
    * caveat). The register-max union is lossless, so ONE chain serves
    * direct, merged, and windowed consumers (udaf_hll, udaf_hll_merge,
    * stream_hll_distinct).
    *
    * `duSql` must yield ($grpCols, v) with v the value to sketch;
    * emits `${p}du .. ${p}hll`, the latter ($grpCols, hll_users BIGINT).
    */
  private[operators] def hllCtes(
      p: String, duSql: String, grpCols: String): String = {
    val m64 = "CAST('18446744073709551616' AS HUGEINT)"
    val m32 = "CAST('4294967296' AS HUGEINT)"
    def mulmod(a: String, c: Long): String = {
      val lo = c & 0xffffffffL
      val hi = c >>> 32
      s"""CAST(((CAST($a AS HUGEINT) % $m32) * $lo
               + (((CAST($a AS HUGEINT) % $m32) * $hi
                   + (CAST($a AS HUGEINT) // $m32) * $lo) % $m32) * $m32)
              % $m64 AS UBIGINT)"""
    }
    s"""
        ${p}du AS ($duSql),
        ${p}h0 AS (
          SELECT $grpCols,
                 CAST((CAST(CAST(v AS UBIGINT) AS HUGEINT)
                       + CAST('11400714819323198485' AS HUGEINT)) % $m64
                   AS UBIGINT) AS z
          FROM ${p}du),
        ${p}h1 AS (
          SELECT $grpCols,
                 ${mulmod("xor(z, z >> 30)", 0xbf58476d1ce4e5b9L)} AS z
          FROM ${p}h0),
        ${p}h2 AS (
          SELECT $grpCols,
                 ${mulmod("xor(z, z >> 27)", 0x94d049bb133111ebL)} AS z
          FROM ${p}h1),
        ${p}hh AS (SELECT $grpCols, xor(z, z >> 31) AS h FROM ${p}h2),
        ${p}ir AS (
          SELECT $grpCols, CAST(h >> 52 AS INT) AS idx,
                 CAST((CAST(h AS HUGEINT) * 4096) % $m64 AS UBIGINT) | 1
                   AS rest
          FROM ${p}hh),
        ${p}rk AS (
          SELECT $grpCols, idx,
                 CAST(64 - (list_max(list_transform(generate_series(0, 63),
                   i -> CASE WHEN (rest >> i) >= 1 THEN i ELSE -1 END)) + 1)
                   + 1 AS INT) AS rank
          FROM ${p}ir),
        ${p}regs AS (
          SELECT $grpCols, idx, max(rank) AS reg
          FROM ${p}rk GROUP BY ALL),
        ${p}est AS (
          SELECT $grpCols,
                 sum(1.0 / CAST(CAST(1 AS UBIGINT) << reg AS DOUBLE))
                   AS inv_nz,
                 count(*) AS m_nz
          FROM ${p}regs GROUP BY ALL),
        ${p}hll AS (
          SELECT $grpCols,
                 CAST(round(CASE
                   WHEN (0.7213 / (1.0 + 1.079 / 4096)) * 4096.0 * 4096.0
                        / (inv_nz + (4096 - m_nz) * 1.0) <= 2.5 * 4096
                        AND m_nz < 4096
                     THEN 4096.0 * ln(4096.0 / (4096 - m_nz))
                   ELSE (0.7213 / (1.0 + 1.079 / 4096)) * 4096.0 * 4096.0
                        / (inv_nz + (4096 - m_nz) * 1.0)
                 END) AS BIGINT) AS hll_users
          FROM ${p}est)"""
  }

  /** Exact weighted mean as a typed Aggregator: IN = (value, weight). */
  private object WeightedMean
      extends Aggregator[(Double, Double), (Double, Double), Double] {
    def zero: (Double, Double) = (0.0, 0.0)
    def reduce(b: (Double, Double), a: (Double, Double)): (Double, Double) =
      (b._1 + a._1 * a._2, b._2 + a._2)
    def merge(x: (Double, Double), y: (Double, Double)): (Double, Double) =
      (x._1 + y._1, x._2 + y._2)
    def finish(b: (Double, Double)): Double =
      if (b._2 == 0.0) Double.NaN else b._1 / b._2
    def bufferEncoder: Encoder[(Double, Double)] =
      Encoders.tuple(Encoders.scalaDouble, Encoders.scalaDouble)
    def outputEncoder: Encoder[Double] = Encoders.scalaDouble
  }

  def all: Seq[Q] = Seq(
    // Registered scalar UDF: price-band labeler over part.
    Q(
      "udf_scalar",
      (s, dir) => {
        val band = udf((p: Double) =>
          if (p < 930.0) "budget" else if (p < 965.0) "mid" else "premium")
        s.udf.register("graft_price_band", band)
        Tables.part(s, dir)
          .withColumn("band", call_udf("graft_price_band", col("p_retailprice")))
          .groupBy("band")
          .agg(count(lit(1)).as("n_parts"),
            round(avg("p_retailprice"), 4).as("avg_price"))
          .orderBy("band")
      },
      oracle = Some("""
        SELECT CASE WHEN p_retailprice < 930.0 THEN 'budget'
                    WHEN p_retailprice < 965.0 THEN 'mid'
                    ELSE 'premium' END AS band,
               count(*) AS n_parts,
               round(avg(p_retailprice), 4) AS avg_price
        FROM part GROUP BY 1 ORDER BY band""")),

    // Typed Aggregator UDAF: quantity-weighted mean price per return flag.
    Q(
      "udaf_typed",
      (s, dir) => {
        val wmean = udaf(WeightedMean)
        Tables.lineitem(s, dir)
          .groupBy("l_returnflag")
          .agg(
            round(wmean(col("l_extendedprice"), col("l_quantity")), 4)
              .as("wavg_price"),
            count(lit(1)).as("n"))
          .orderBy("l_returnflag")
      },
      oracle = Some("""
        SELECT l_returnflag,
               round(sum(l_extendedprice * l_quantity) / sum(l_quantity), 4)
                 AS wavg_price,
               count(*) AS n
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // Generator surface: posexplode of 3-word shingles, one output row per
    // (doc, position) — the UDTF shape (N rows out per row in).
    Q(
      "udtf_generator",
      (s, dir) =>
        Tables.documents(s, dir)
          .filter(col("doc_id") < 30)
          .withColumn("w", split(col("text"), " "))
          .select(col("doc_id"), posexplode(
            transform(sequence(lit(1), greatest(size(col("w")) - 2, lit(1))),
              i => concat_ws(" ", element_at(col("w"), i),
                element_at(col("w"), i + 1), element_at(col("w"), i + 2)))))
          .select(col("doc_id"), col("pos"), col("col").as("shingle"))
          .orderBy("doc_id", "pos"),
      oracle = Some("""
        WITH d AS (SELECT doc_id, string_split(text, ' ') AS w
                   FROM documents WHERE doc_id < 30),
        p AS (SELECT doc_id, w,
                     unnest(generate_series(1, greatest(len(w) - 2, 1))) AS i
              FROM d)
        SELECT doc_id, i - 1 AS pos,
               concat_ws(' ', w[i], w[i+1], w[i+2]) AS shingle
        FROM p ORDER BY doc_id, pos""")),

    // The FOREIGN-code boundary — Spark's process-isolation primitive
    // (RDD.pipe), the one registry op that deliberately leaves the JVM.
    // One external process per TASK (never per row): each partition's
    // rows stream through the child's stdin/stdout as TSV lines, so an
    // arbitrary-language UDF (here POSIX awk, computing upper-case +
    // word count) plugs in with zero JVM bindings — the shape that
    // carries any native scorer/tokenizer binary at 100 TB. Parallelism
    // tracks partitions, the pipe is OS-backpressured (no row buffering
    // beyond the pipe window), and the schema is re-asserted on the way
    // back in; a sandboxed runner would wrap the argv, nothing else
    // changes. The corpus is tab/newline-free by construction (asserted
    // by the oracle itself: any framing slip hash-mismatches).
    Q(
      "udf_foreign_pipe",
      (s, dir) => {
        import s.implicits._
        val lines = Tables.documents(s, dir)
          .select(concat_ws("\t", col("doc_id"), col("source"), col("text")))
          .as[String].rdd
          .pipe(Seq("/usr/bin/awk", "-F\t",
            "{ n = split($3, w, \" \"); print $1 \"\\t\" toupper($2) \"\\t\" n }"))
        s.createDataset(lines)
          .map { l =>
            val f = l.split("\t", 3)
            (f(0).toLong, f(1), f(2).toLong)
          }
          .toDF("doc_id", "source_upper", "n_words")
          .orderBy("doc_id")
      },
      oracle = Some("""
        SELECT doc_id, upper(source) AS source_upper,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words
        FROM documents ORDER BY doc_id""")),

    // The COLUMNAR foreign boundary (round 12) — udf_foreign_pipe's
    // batch-shaped twin and the executable half of the Arrow design
    // note: partitions cross a bytes→bytes hop as Arrow IPC stream
    // batches (128 rows here), the hop's stand-in scoring them straight
    // off the VarChar buffers (functions.ArrowScorer — public Arrow API
    // + raw bytes only, exactly what a pyarrow subprocess would run).
    // Batch size bounds peak task memory; re-entry schema is asserted
    // against the stream's own; the fingerprint is the repo's 31-ary
    // rolling hash over UTF-8 bytes, which the oracle replays
    // per-character — byte==char on this printable-ASCII corpus, and
    // the hash gate asserts exactly that.
    Q(
      "udf_foreign_arrow",
      (s, dir) => {
        val outSchema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("n_bytes",
            org.apache.spark.sql.types.IntegerType, nullable = false),
          org.apache.spark.sql.types.StructField("fp",
            org.apache.spark.sql.types.LongType, nullable = false)))
        graft.functions.ArrowPipe.pipe(
          Tables.documents(s, dir).select(col("doc_id"), col("text")),
          outSchema, maxRecordsPerBatch = 128)(
          graft.functions.ArrowScorer.score)
          .orderBy("doc_id")
      },
      oracle = Some("""
        SELECT doc_id,
               strlen(text) AS n_bytes,
               list_reduce(
                 list_prepend(CAST(0 AS BIGINT),
                   list_transform(generate_series(1, length(text)),
                     i -> CAST(ascii(substr(text, CAST(i AS INT), 1)) AS BIGINT))),
                 (a, c) -> (a * 31 + c) % 1000000007) AS fp
        FROM documents ORDER BY doc_id""")),

    // From-scratch HyperLogLog sketch (graft.functions.HyperLogLog) as a
    // typed Aggregator: approximate distinct users per event type, with the
    // exact count alongside for error inspection. Approximate — but OWNED
    // and portable (SplitMix64, no RNG), so the oracle (round 11) replays
    // the whole sketch in SQL ([[hllCtes]]) and hash-matches the estimate
    // itself; HllSpec still bounds the relative error.
    Q(
      "udaf_hll",
      (s, dir) =>
        Tables.events(s, dir)
          .groupBy("event_type")
          .agg(
            graft.api.Sketches.hllCountDistinct(col("user_id"), 12)
              .as("hll_users"),
            countDistinct("user_id").as("exact_users"))
          .orderBy("event_type"),
      oracle = Some(s"""
        WITH ${hllCtes("",
          "SELECT DISTINCT event_type, user_id AS v FROM events",
          "event_type")},
        ex AS (
          SELECT event_type, count(DISTINCT user_id) AS exact_users
          FROM events GROUP BY 1)
        SELECT h.event_type, h.hll_users,
               CAST(ex.exact_users AS BIGINT) AS exact_users
        FROM hll h JOIN ex ON ex.event_type = h.event_type
        ORDER BY h.event_type""")),

    // q-digest quantile sketch (graft.functions.QDigest): the third owned
    // mergeable summary (distinct=HLL, heavy hitters=MG, quantiles=this).
    // Per return-flag sketch of price cents (universe 2^24 ≥ max price in
    // cents, k=2048 ⇒ ε ≈ 1.2% rank error), self-checked in-query: the
    // exact rank of each reported estimate — count(cents ≤ est) via one
    // broadcast of the 15-row estimate table back onto lineitem — must sit
    // within ε·n+1 of the requested rank. No oracle: the estimate depends
    // on the digest's merge tree, which DuckDB cannot replay — the
    // hash-checked replay of the digest ARITHMETIC lives in the r15 twin
    // udaf_qdigest_portable below (offline build over exact leaf counts,
    // same fold rule and rank readout, fully oracle-green).
    Q(
      "udaf_qdigest",
      (s, dir) => {
        val fr = Seq(0.5, 0.9, 0.99)
        val (uBits, kk) = (24, 2048)
        val eps = uBits.toDouble / kk
        val li = Tables.lineitem(s, dir).select(col("l_returnflag"),
          round(col("l_extendedprice") * 100, 0).cast("long").as("cents"))
        // Native TypedImperativeAggregate since r15: same algorithm via
        // delegation, but update() reads the long primitively instead of
        // through the ScalaAggregator encoder round-trip (the measured
        // ~350-550 ns/row bridge residue from the r14 ScanBaseline A/B).
        val sk = li.groupBy("l_returnflag")
          .agg(
            graft.api.Sketches.quantileDigestNative(
              col("cents"), fr, uBits, kk).as("qs"),
            count(lit(1)).as("n"))
        // Rank self-check in ONE unexploded pass: the 3-row-per-flag
        // estimate frame used to fan every lineitem row out ×3 through
        // the broadcast join before re-aggregating; keeping the 3
        // estimates as an array column on a 1-row-per-flag broadcast
        // computes all three exact ranks as conditional sums over the
        // original 600k rows (r13 verdict task 4).
        val ranks = li.join(broadcast(sk), Seq("l_returnflag"))
          .groupBy("l_returnflag", "n", "qs")
          .agg(
            sum(when(col("cents") <= element_at(col("qs"), 1), 1L)
              .otherwise(0L)).as("r1"),
            sum(when(col("cents") <= element_at(col("qs"), 2), 1L)
              .otherwise(0L)).as("r2"),
            sum(when(col("cents") <= element_at(col("qs"), 3), 1L)
              .otherwise(0L)).as("r3"))
        ranks
          .select(col("l_returnflag"), col("n"), explode(array(
            struct(lit(fr(0)).as("q"), element_at(col("qs"), 1).as("est"),
              col("r1").as("rk")),
            struct(lit(fr(1)).as("q"), element_at(col("qs"), 2).as("est"),
              col("r2").as("rk")),
            struct(lit(fr(2)).as("q"), element_at(col("qs"), 3).as("est"),
              col("r3").as("rk")))).as("e"))
          .select(col("l_returnflag"), col("e.q").as("q"),
            round(col("e.est") / 100.0, 2).as("est_value"),
            (abs(col("e.rk") - col("e.q") * col("n")) <=
              lit(eps) * col("n") + 1).as("rank_ok"))
          .orderBy("l_returnflag", "q")
      }),

    // OWNED portable q-digest — the oracle-bearing twin udaf_qdigest
    // cannot be (its estimate depends on the streaming buffer's merge
    // tree, which DuckDB cannot replay), completing the sketch-twin
    // shelf: HLL got hllCtes (r11), Count-Min/SimHash/MinHash have
    // portable twins, quantiles get this. This is the CLASSIC offline
    // q-digest (Shrivastava et al. 2004 build it exactly this way):
    // exact leaf counts over the implicit binary tree of the cents
    // universe [0, 2^24), then ONE deterministic bottom-up compaction
    // sweep — a sibling group (pair or lone child) folds into its
    // parent iff its pending count is ≤ t = ⌊n/k⌋, else its members
    // are emitted as digest nodes — then rank extraction by the
    // (upper-bound asc, range-size asc) cumulative walk. Every step is
    // integer arithmetic on (node id, count) pairs, so the WHOLE
    // digest — build, compaction, quantile readout — replays bit-exactly
    // in DuckDB. Scale shape: ONE data-sized pass — the exact leaf
    // census accumulates inside functions.QDigestOfflineNodes partial
    // buffers (map-combined; the shuffle carries one compacted leaf
    // array per partition-group, bounded by min(distinct cents, 2^24),
    // never by row count; merge is order-free count addition, so the
    // digest is a pure function of the multiset — the property the
    // oracle replay rests on) and the once-only fold is a μs in-memory
    // sweep at eval. Two earlier shapes are recorded in NOTES r15: a
    // 25-branch union (O(levels²) plan re-derivation, 435 s at sf0.1)
    // and a 24-chained-aggregate single lineage (exchange-free but 24
    // object-hash collect_list passes at flag parallelism, 11 s); the
    // aggregate form reads 0.3-0.4 s. The streaming sibling keeps the
    // mergeable-buffer story; this key certifies the digest ARITHMETIC.
    Q(
      "udaf_qdigest_portable",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val uBits = 24
        // One aggregate = census + fold; 3 rows out, each carrying the
        // digest node array. Checkpointed: the node explode and the
        // rank-target derivation both read it.
        val dig = Cut(Tables.lineitem(s, dir)
          .select(col("l_returnflag"),
            round(col("l_extendedprice") * 100).cast("long").as("cents"))
          .groupBy("l_returnflag")
          .agg(
            graft.api.Sketches.quantileDigestOfflineNodes(
              col("cents"), uBits, 2048).as("nodes"),
            count(lit(1)).as("n"))).df
        val em = dig
          .select(col("l_returnflag"), col("n"),
            size(col("nodes")).cast("long").as("digest_nodes"),
            explode(col("nodes")).as("e"))
          .select(col("l_returnflag"), col("n"), col("digest_nodes"),
            col("e.id").as("id"), col("e.c").as("c"),
            col("e.lvl").as("lvl"))
          .withColumn("sz",
            expr(s"shiftleft(CAST(1 AS BIGINT), $uBits - lvl)"))
          .withColumn("ub",
            (col("id") - expr("shiftleft(CAST(1 AS BIGINT), lvl)"))
              * col("sz") + col("sz") - 1)
        val cum = em.withColumn("cum",
          sum(col("c")).over(Window.partitionBy("l_returnflag")
            .orderBy("ub", "sz")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        // Integer rank targets (fnum/fden avoids float ceil drift):
        // target = max(1, ceil(n·f)) for f ∈ {1/2, 9/10, 99/100}.
        val fr = Seq((0.5, 1L, 2L), (0.9, 9L, 10L), (0.99, 99L, 100L))
        val tq = dig.select(col("l_returnflag"), col("n"),
          size(col("nodes")).cast("long").as("digest_nodes"),
          explode(typedlit(fr)).as("f"))
          .select(col("l_returnflag"), col("n"), col("digest_nodes"),
            col("f._1").as("q"),
            greatest(lit(1L),
              expr("(n * f._2 + f._3 - 1) div f._3")).as("target"))
        tq.join(
            cum.select(col("l_returnflag"), col("ub"), col("cum")),
            Seq("l_returnflag"))
          .filter(col("cum") >= col("target"))
          .groupBy("l_returnflag", "q", "n", "digest_nodes")
          // cum is monotone in (ub, sz): min(ub) over the crossing
          // suffix IS the first crossing node's upper bound, already in
          // value space (a leaf's ub = its cents value).
          .agg(min(col("ub")).as("est_cents"))
          .select(col("l_returnflag"), col("q"),
            col("est_cents"), col("n"), col("digest_nodes"))
          .orderBy("l_returnflag", "q")
      },
      oracle = Some {
        val uB = 24
        def lvlCtes(lvl: Int) = s"""
        s$lvl AS (
          SELECT *, sum(c) OVER (PARTITION BY flag, id // 2) AS sc
          FROM p$lvl),
        e$lvl AS (
          SELECT flag, id, c, n, $lvl AS lvl FROM s$lvl WHERE sc > t),
        p${lvl - 1} AS (
          SELECT DISTINCT flag, id // 2 AS id, CAST(sc AS BIGINT) AS c,
                 n, t
          FROM s$lvl WHERE sc <= t)"""
        s"""
        WITH leaves AS (
          -- least/greatest mirrors QDigestOfflineNodes.update's clamp to
          -- [0, 2^uB) (ADVICE r15): without it, any cents value at or
          -- above 2^24 (price >= $$167,772.16 — absent from TPC-H today
          -- but latent) would silently diverge engine vs oracle.
          SELECT l_returnflag AS flag,
                 ${1L << uB} + least(greatest(
                   CAST(round(l_extendedprice * 100) AS BIGINT), 0),
                   ${(1L << uB) - 1}) AS id,
                 CAST(count(*) AS BIGINT) AS c
          FROM lineitem GROUP BY 1, 2),
        nt AS (
          SELECT flag, CAST(sum(c) AS BIGINT) AS n,
                 CAST(sum(c) AS BIGINT) // 2048 AS t
          FROM leaves GROUP BY 1),
        p$uB AS (
          SELECT l.flag, l.id, l.c, nt.n, nt.t
          FROM leaves l JOIN nt USING (flag)),
        ${(uB to 1 by -1).map(lvlCtes).mkString(",")},
        em AS (
          ${(uB to 1 by -1)
            .map(l => s"SELECT flag, id, c, n, lvl FROM e$l")
            .mkString("\n          UNION ALL ")}
          UNION ALL SELECT flag, id, c, n, 0 AS lvl FROM p0),
        ub AS (
          SELECT flag, id, c, n, lvl,
                 (CAST(1 AS BIGINT) << ($uB - lvl)) AS sz,
                 (id - (CAST(1 AS BIGINT) << lvl))
                   * (CAST(1 AS BIGINT) << ($uB - lvl))
                   + (CAST(1 AS BIGINT) << ($uB - lvl)) - 1 AS ub
          FROM em),
        cumt AS (
          SELECT flag, ub,
                 CAST(sum(c) OVER (PARTITION BY flag ORDER BY ub, sz
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
          FROM ub),
        nodes AS (SELECT flag, count(*) AS digest_nodes FROM ub
                  GROUP BY 1),
        fr AS (SELECT * FROM (VALUES
                 (CAST(0.5 AS DOUBLE), 1, 2),
                 (CAST(0.9 AS DOUBLE), 9, 10),
                 (CAST(0.99 AS DOUBLE), 99, 100)) AS f(q, fn, fd)),
        tq AS (
          SELECT nt.flag, fr.q, nt.n,
                 greatest(1, (nt.n * fr.fn + fr.fd - 1) // fr.fd)
                   AS target
          FROM nt CROSS JOIN fr)
        SELECT t.flag AS l_returnflag, t.q,
               CAST(min(c.ub) AS BIGINT) AS est_cents, t.n,
               nodes.digest_nodes
        FROM tq t
        JOIN cumt c ON c.flag = t.flag AND c.cum >= t.target
        JOIN nodes ON nodes.flag = t.flag
        GROUP BY 1, 2, 4, 5
        ORDER BY l_returnflag, q"""
      }),

    // Misra–Gries heavy hitters: the bounded-memory top-k-frequent sketch
    // (graft.functions.HeavyHitters), run per language over the exploded
    // token stream, cross-checked in-query against the exact counts: the
    // exact top-5 terms per lang form the output skeleton, and the sketch
    // columns verify every one was found with a valid lower bound
    // (MG guarantee: freq > n/(k+1) ⇒ present; k=32 ⊇ top-5 here).
    // The skeleton is exact ⇒ the whole row set is DuckDB-oracle-checkable.
    Q(
      "udaf_heavy_hitters",
      (s, dir) => {
        val tokens = Tables.documents(s, dir)
          .select(col("lang"), explode(split(col("text"), " ")).as("term"))
        val mg = tokens.groupBy("lang")
          .agg(graft.api.Sketches.heavyHitters(col("term"), 32).as("hh"))
          .select(col("lang"), explode(col("hh")).as("e"))
          .select(col("lang"), col("e._1").as("term"), col("e._2").as("lb"))
        val exact = tokens.groupBy("lang", "term")
          .agg(count(lit(1)).as("exact_count"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("lang").orderBy(desc("exact_count"), asc("term"))
        exact.withColumn("exact_rank", row_number().over(w))
          .filter(col("exact_rank") <= 5)
          .join(mg, Seq("lang", "term"), "left")
          .select(col("lang"), col("exact_rank"), col("term"),
            col("exact_count"),
            col("lb").isNotNull.as("mg_found"),
            coalesce(col("lb") <= col("exact_count"), lit(false))
              .as("lb_valid"))
          .orderBy("lang", "exact_rank")
      },
      oracle = Some("""
        WITH t AS (SELECT lang, unnest(string_split(text, ' ')) AS term
                   FROM documents),
        exact AS (SELECT lang, term, count(*) AS exact_count
                  FROM t GROUP BY 1, 2),
        ranked AS (
          SELECT lang, term, exact_count,
                 row_number() OVER (PARTITION BY lang
                   ORDER BY exact_count DESC, term) AS exact_rank
          FROM exact)
        SELECT lang, exact_rank, term, exact_count,
               true AS mg_found, true AS lb_valid
        FROM ranked WHERE exact_rank <= 5
        ORDER BY lang, exact_rank""")),

    // Sketch-merge rollup: per-(event_type, day) HLL sketches are stored as
    // BINARY columns (the rollup-table pattern), then unioned per
    // event_type and finished into an estimate. Register-max union is
    // lossless, so the merged estimate must equal the direct single-pass
    // estimate EXACTLY — emitted as merged_minus_direct (all-zero,
    // self-checked like fn_json_variant) with the exact count alongside.
    // At 100 TB this is the pattern that answers distinct-count questions
    // over any group combination without re-reading raw data.
    Q(
      "udaf_hll_merge",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val daily = ev
          .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
          .agg(graft.api.Sketches.hllSketch(col("user_id"), 12).as("sk"))
        val merged = daily
          .groupBy("event_type")
          .agg(graft.api.Sketches.hllMerge(col("sk"), 12).as("merged_users"))
        val direct = ev
          .groupBy("event_type")
          .agg(
            graft.api.Sketches.hllCountDistinct(col("user_id"), 12)
              .as("direct_users"),
            countDistinct("user_id").as("exact_users"))
        merged.join(direct, "event_type")
          .select(col("event_type"), col("merged_users"), col("exact_users"),
            (col("merged_users") - col("direct_users"))
              .as("merged_minus_direct"))
          .orderBy("event_type")
      },
      // Oracle (round 11): register-max union is lossless, so the merged
      // registers equal the direct single-pass registers — ONE hllCtes
      // replay serves both sides, and merged_minus_direct is the
      // engine-checked zero.
      oracle = Some(s"""
        WITH ${hllCtes("",
          "SELECT DISTINCT event_type, user_id AS v FROM events",
          "event_type")},
        ex AS (
          SELECT event_type, count(DISTINCT user_id) AS exact_users
          FROM events GROUP BY 1)
        SELECT h.event_type, h.hll_users AS merged_users,
               CAST(ex.exact_users AS BIGINT) AS exact_users,
               CAST(0 AS BIGINT) AS merged_minus_direct
        FROM hll h JOIN ex ON ex.event_type = h.event_type
        ORDER BY h.event_type""")),

    // The custom codegen Expression (graft.functions.CosineSimilarity):
    // similarity of every embedding to the vec_id=0 reference vector,
    // computed in a single fused whole-stage-codegen pass (no UDF boxing).
    Q(
      "expr_custom",
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
        val ref = e.filter(col("vec_id") === 0)
          .select(col("embedding").as("ref_emb"))
        e.filter(col("vec_id") > 0).crossJoin(broadcast(ref))
          .select(col("vec_id"),
            round(CosineSimilarity(col("embedding"), col("ref_emb")), 4)
              .as("cos_to_ref"))
          .orderBy("vec_id")
      },
      oracle = Some("""
        WITH r AS (SELECT CAST(embedding AS DOUBLE[]) AS ref
                   FROM embeddings WHERE vec_id = 0)
        SELECT vec_id,
               round(list_dot_product(CAST(embedding AS DOUBLE[]), ref) /
                     (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                            CAST(embedding AS DOUBLE[]))) *
                      sqrt(list_dot_product(ref, ref))), 4) AS cos_to_ref
        FROM embeddings CROSS JOIN r WHERE vec_id > 0 ORDER BY vec_id""")),

    // Count-Min sketch (4th mergeable summary: distinct=HLL, heavy
    // hitters=MG, quantiles=q-digest, point frequencies=CMS) via Spark's
    // built-in count_min_sketch aggregate, probed in-query with a tiny
    // deserializing UDF over the (event_type × probe-user) grid — 25
    // rows, not the event stream. The CMS one-sided guarantee (est ≥
    // exact, est ≤ exact + ε·N w.h.p.) is certified in-row against the
    // exact counts.
    Q(
      "udaf_countmin",
      (s, dir) => {
        val eps = 0.001
        val probe = udf((b: Array[Byte], u: Long) =>
          org.apache.spark.util.sketch.CountMinSketch
            .readFrom(new java.io.ByteArrayInputStream(b))
            .estimateCount(u))
        val ev = Tables.events(s, dir)
        val sketches = ev.groupBy("event_type")
          .agg(expr(s"count_min_sketch(user_id, ${eps}d, 0.99d, 42)")
            .as("cms"),
            count(lit(1)).as("n_events"))
        val exact = ev.filter(col("user_id") < 5)
          .groupBy("event_type", "user_id")
          .agg(count(lit(1)).as("exact_n"))
        exact.join(broadcast(sketches), "event_type")
          .withColumn("cms_est", probe(col("cms"), col("user_id")))
          .select(col("event_type"), col("user_id"), col("exact_n"),
            col("cms_est"),
            (col("cms_est") >= col("exact_n") &&
              col("cms_est") <= col("exact_n") +
                ceil(lit(eps) * col("n_events"))).as("bound_ok"))
          .orderBy("event_type", "user_id")
      }),

    // OWNED portable Count-Min (the oracle-bearing sibling udaf_countmin
    // cannot be, exactly as dedup_minhash_portable is to dedup_minhash):
    // d=4 md5-derived hash rows × w=64 buckets per event type, expressed
    // RELATIONALLY — the d×w counter table is ONE map-combined groupBy
    // whose partial aggregation IS the sketch merge (update = +1 to d
    // cells, merge = cell-wise sum — precisely what Spark's partial/final
    // split executes), so the shuffle carries ≤ |types|·d·w cells at any
    // corpus size. Point estimates min over the d probed cells (CMS
    // one-sided guarantee: est ≥ exact always — certified per row in
    // `overcount` ≥ 0). Every hash is engine-portable
    // (conv(md5)-60-bit, the dedup_minhash_portable discipline), so the
    // WHOLE sketch — build, probe, estimate — replays bit-exactly in
    // the DuckDB oracle: this is the fully-certified CMS the builtin
    // sketch key can only spec-assert.
    Q(
      "udaf_countmin_portable",
      (s, dir) => {
        val w = 64
        def bucket(j: org.apache.spark.sql.Column,
            u: org.apache.spark.sql.Column) =
          conv(substring(md5(concat(j.cast("string"), lit(":"),
            u.cast("string"))), 1, 15), 16, 10).cast("long") % w
        val ev = Tables.events(s, dir)
          .select(col("event_type"), col("user_id"))
        val cells = ev
          .select(col("event_type"), col("user_id"),
            explode(typedlit(Seq(0, 1, 2, 3))).as("j"))
          .select(col("event_type"), col("j"),
            bucket(col("j"), col("user_id")).as("b"))
          .groupBy("event_type", "j", "b")
          .agg(count(lit(1)).as("cnt"))
        val probes = ev.filter(col("user_id") < 5)
          .groupBy("event_type", "user_id")
          .agg(count(lit(1)).as("exact_n"))
        probes
          .select(col("event_type"), col("user_id"), col("exact_n"),
            explode(typedlit(Seq(0, 1, 2, 3))).as("j"))
          .withColumn("b", bucket(col("j"), col("user_id")))
          .join(broadcast(cells), Seq("event_type", "j", "b"))
          .groupBy("event_type", "user_id", "exact_n")
          .agg(min("cnt").as("cms_est"))
          .select(col("event_type"), col("user_id"), col("exact_n"),
            col("cms_est"),
            (col("cms_est") - col("exact_n")).as("overcount"))
          .orderBy("event_type", "user_id")
      },
      oracle = Some("""
        WITH js AS (SELECT unnest([0, 1, 2, 3]) AS j),
        ev AS (SELECT event_type, user_id FROM events),
        cells AS (
          SELECT event_type, j,
                 ('0x' || substring(md5(CAST(j AS VARCHAR) || ':' ||
                    CAST(user_id AS VARCHAR)), 1, 15))::BIGINT % 64 AS b,
                 CAST(count(*) AS BIGINT) AS cnt
          FROM ev CROSS JOIN js
          GROUP BY 1, 2, 3),
        probes AS (
          SELECT event_type, user_id, CAST(count(*) AS BIGINT) AS exact_n
          FROM ev WHERE user_id < 5 GROUP BY 1, 2)
        SELECT p.event_type, p.user_id, p.exact_n,
               CAST(min(c.cnt) AS BIGINT) AS cms_est,
               CAST(min(c.cnt) - p.exact_n AS BIGINT) AS overcount
        FROM probes p CROSS JOIN js
        JOIN cells c ON c.event_type = p.event_type AND c.j = js.j
          AND c.b = ('0x' || substring(md5(CAST(js.j AS VARCHAR) || ':' ||
                CAST(p.user_id AS VARCHAR)), 1, 15))::BIGINT % 64
        GROUP BY 1, 2, 3
        ORDER BY p.event_type, p.user_id""")),

    // OWNED portable Bloom filter — the MEMBERSHIP sketch completing the
    // shelf (HLL cardinality, KMV intersection, CMS frequency, q-digest
    // quantiles, SpaceSaving heavy hitters): m=4096 bits, k=4 md5-derived
    // hashes over the parts-in-early-1995-urgent-orders blocklist, then
    // EVERY part probed. The filter is RELATIONAL — the bit array is a
    // ≤m-row distinct (bit) table built by one map-combined groupBy
    // (partial agg IS the bitwise-OR merge; the shuffle carries ≤ m
    // rows at any scale), probes broadcast-join it and a probe is
    // positive iff all k of its rows match. The census pins both Bloom
    // laws: false negatives are IMPOSSIBLE (column must be 0), false
    // positives are the priced tradeoff (fpr reported against the true
    // negative count).
    Q(
      "udaf_bloom_portable",
      (s, dir) => {
        val m = 4096
        def bit(j: org.apache.spark.sql.Column,
            u: org.apache.spark.sql.Column) =
          conv(substring(md5(concat(j.cast("string"), lit(":"),
            u.cast("string"))), 1, 15), 16, 10).cast("long") % m
        val ks = explode(typedlit(Seq(0, 1, 2, 3))).as("j")
        val members = Tables.lineitem(s, dir)
          .join(Tables.orders(s, dir),
            col("l_orderkey") === col("o_orderkey"))
          .filter(col("o_orderpriority") === "1-URGENT" &&
            year(col("o_orderdate")) === 1995 &&
            month(col("o_orderdate")) <= 2)
          .select(col("l_partkey").as("pk")).distinct()
        val bits = members.select(col("pk"), ks)
          .select(bit(col("j"), col("pk")).as("b")).distinct()
        val probes = Tables.part(s, dir)
          .select(col("p_partkey").as("pk"))
          .join(members.withColumn("is_member", lit(1L)), Seq("pk"),
            "left")
        val hit = probes.select(col("pk"), col("is_member"), ks)
          .withColumn("b", bit(col("j"), col("pk")))
          .join(broadcast(bits), Seq("b"), "left_semi")
          .groupBy("pk", "is_member").agg(count(lit(1)).as("nb"))
          .filter(col("nb") === 4)
        val cm = members.agg(count(lit(1)).as("n_members"))
        val cb = bits.agg(count(lit(1)).as("n_bits_set"))
        val cp = probes.agg(count(lit(1)).as("n_probes"),
          sum(coalesce(col("is_member"), lit(0L))).as("n_true"))
        val ch = hit.agg(count(lit(1)).as("n_bloom_pos"),
          sum(when(col("is_member").isNull, 1L).otherwise(0L))
            .as("n_false_pos"),
          sum(coalesce(col("is_member"), lit(0L))).as("n_member_hits"))
        cm.crossJoin(cb).crossJoin(cp).crossJoin(ch)
          .select(col("n_members"), col("n_bits_set"), col("n_probes"),
            col("n_true"), col("n_bloom_pos"), col("n_false_pos"),
            (col("n_true") - col("n_member_hits")).as("n_false_neg"),
            round(col("n_false_pos").cast("double") /
              (col("n_probes") - col("n_true")).cast("double"), 4)
              .as("fpr"))
      },
      oracle = Some("""
        WITH js AS (SELECT unnest([0, 1, 2, 3]) AS j),
        members AS (
          SELECT DISTINCT l_partkey AS pk
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          WHERE o_orderpriority = '1-URGENT'
            AND year(o_orderdate) = 1995 AND month(o_orderdate) <= 2),
        bits AS (
          SELECT DISTINCT
                 ('0x' || substring(md5(CAST(j AS VARCHAR) || ':' ||
                    CAST(pk AS VARCHAR)), 1, 15))::BIGINT % 4096 AS b
          FROM members CROSS JOIN js),
        probes AS (
          SELECT p_partkey AS pk,
                 CASE WHEN m.pk IS NULL THEN NULL ELSE 1 END AS is_member
          FROM part LEFT JOIN members m ON m.pk = p_partkey),
        hit AS (
          SELECT p.pk, p.is_member, count(*) AS nb
          FROM probes p CROSS JOIN js
          JOIN bits ON bits.b =
            ('0x' || substring(md5(CAST(js.j AS VARCHAR) || ':' ||
               CAST(p.pk AS VARCHAR)), 1, 15))::BIGINT % 4096
          GROUP BY 1, 2 HAVING count(*) = 4)
        SELECT (SELECT count(*) FROM members) AS n_members,
               (SELECT count(*) FROM bits) AS n_bits_set,
               (SELECT count(*) FROM probes) AS n_probes,
               (SELECT CAST(coalesce(sum(is_member), 0) AS BIGINT)
                FROM probes) AS n_true,
               (SELECT count(*) FROM hit) AS n_bloom_pos,
               (SELECT CAST(coalesce(sum(CASE WHEN is_member IS NULL
                  THEN 1 ELSE 0 END), 0) AS BIGINT) FROM hit)
                 AS n_false_pos,
               (SELECT CAST(coalesce(sum(is_member), 0) AS BIGINT)
                FROM probes)
               - (SELECT CAST(coalesce(sum(is_member), 0) AS BIGINT)
                  FROM hit) AS n_false_neg,
               round((SELECT CAST(coalesce(sum(CASE WHEN is_member IS
                   NULL THEN 1 ELSE 0 END), 0) AS BIGINT) FROM hit)
                 / CAST((SELECT count(*) FROM probes)
                      - (SELECT CAST(coalesce(sum(is_member), 0)
                          AS BIGINT) FROM probes) AS DOUBLE), 4)
                 AS fpr""")),

    // The typed Dataset[T] leg: case-class Encoders, lambda filters, and
    // groupByKey with a typed Aggregator — the API a Scala user writes
    // when compile-time row types matter. Lambdas are opaque to Catalyst
    // (no pushdown past the deserializer — that is the documented cost of
    // this surface, which is why the rest of the engine is Column-based);
    // the aggregation state is exact integer cents so the fold is
    // order-independent and hash-matches the SQL oracle.
    Q(
      "typed_dataset_pipeline",
      (s, dir) => {
        import s.implicits._
        val ds = Tables.lineitem(s, dir)
          .select(col("l_orderkey"), col("l_quantity"),
            col("l_extendedprice"), col("l_returnflag"))
          .as[LineSlim]
        val centsAgg = new Aggregator[LineSlim, (Long, Long), (Long, Long)] {
          def zero = (0L, 0L)
          def reduce(b: (Long, Long), a: LineSlim) =
            (b._1 + 1, b._2 + math.round(a.l_extendedprice * 100))
          def merge(x: (Long, Long), y: (Long, Long)) =
            (x._1 + y._1, x._2 + y._2)
          def finish(r: (Long, Long)) = r
          def bufferEncoder: Encoder[(Long, Long)] =
            Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)
          def outputEncoder: Encoder[(Long, Long)] =
            Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)
        }
        ds.filter(l => l.l_quantity > 30.0)
          .groupByKey(_.l_returnflag)
          .agg(centsAgg.toColumn)
          .map { case (flag, (n, cents)) => (flag, n, cents / 100.0) }
          .toDF("l_returnflag", "n_big", "sum_price")
          .select(col("l_returnflag"), col("n_big"),
            round(col("sum_price"), 2).as("sum_price"))
          .orderBy("l_returnflag")
      },
      oracle = Some("""
        SELECT l_returnflag,
               count(*) AS n_big,
               round(CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
                 AS DOUBLE) / 100.0, 2) AS sum_price
        FROM lineitem
        WHERE l_quantity > 30.0
        GROUP BY l_returnflag ORDER BY l_returnflag"""))
  ) ++ Seq(
    // KMV set algebra ACROSS groups — the audience-overlap / train-test-
    // leakage estimator: distinct-user intersection between every
    // event-type pair, computed from per-type bottom-k sketches alone.
    // The data is touched ONCE (one map-side-combined sketch agg); the
    // pair join runs on 5 sketch rows, so N sources cost N sketch rows
    // and C(N,2) array intersections, independent of corpus size — at
    // 100 TB the alternative (pairwise DISTINCT self-joins) is C(N,2)
    // full shuffles. θ = min(k-th min of either side); shared hashes
    // below θ scale by range/θ (integer-exact: range 2^53, shared·2^53
    // fits a long for k ≤ 512). While per-group distinct counts stay
    // < k the sketch is the complete hashed set — θ = full range, the
    // estimate IS exact, and the DuckDB oracle certifies it (sf0.01:
    // 150 distinct users < k=256; sf0.1's 1500 exercises the real
    // truncated-estimate regime, bounded by KmvSpec).
    Q(
      "udaf_kmv_intersect",
      (s, dir) => {
        val K = 256
        val M = graft.api.Sketches.KmvRange
        val sk = Tables.events(s, dir)
          .groupBy("event_type")
          .agg(graft.api.Sketches.kmvSketch(col("user_id"), K).as("sk"))
        sk.as("a")
          .join(sk.as("b"), col("a.event_type") < col("b.event_type"))
          .select(
            col("a.event_type").as("type_a"),
            col("b.event_type").as("type_b"),
            size(col("a.sk")).cast("long").as("sk_a_n"),
            size(col("b.sk")).cast("long").as("sk_b_n"),
            least(
              when(size(col("a.sk")) < K, M)
                .otherwise(element_at(col("a.sk"), K)),
              when(size(col("b.sk")) < K, M)
                .otherwise(element_at(col("b.sk"), K))).as("theta"),
            array_intersect(col("a.sk"), col("b.sk")).as("both"))
          .select(col("type_a"), col("type_b"), col("sk_a_n"),
            col("sk_b_n"),
            size(filter(col("both"), h => h < col("theta")))
              .cast("long").as("shared"),
            col("theta"))
          .select(col("type_a"), col("type_b"), col("sk_a_n"),
            col("sk_b_n"),
            expr(s"shared * ${M}L div theta").as("est_common"),
            (col("sk_a_n") < K && col("sk_b_n") < K).as("exact_mode"))
          .orderBy("type_a", "type_b")
      },
      // Full sketch replay (r16, upgraded from the complete-regime-only
      // exact count after the sf0.1 attestation exercised truncation):
      // splitmix64 is replayed bit-exactly in HUGEINT mod-2^64
      // arithmetic (wrapping 64-bit multiply = lo-32 x m + ((hi-32 x m)
      // mod 2^32) << 32, all < 2^97 so HUGEINT never overflows; xor and
      // >> operate on the unsigned-in-HUGEINT value; validated against
      // the Java finalizer bit-for-bit). The bottom-k sketch, theta, the
      // shared-below-theta census, and the integer estimator then follow
      // the engine arithmetic exactly, so the oracle certifies BOTH the
      // complete regime (sf0.01) and the truncated regime (sf0.1+).
      // Constants: 11400714819323198485 = 0x9E3779B97F4A7C15,
      // 13787848793156543929 = 0xBF58476D1CE4E5B9,
      // 10723151780598845931 = 0x94D049BB133111EB, 9007199254740992 =
      // 2^53 (KmvRange), 18446744073709551616 = 2^64.
      oracle = Some("""
        WITH du AS (SELECT DISTINCT event_type, user_id FROM events),
        z0 AS (SELECT event_type,
                 ((user_id::HUGEINT + 11400714819323198485)
                  % 18446744073709551616 + 18446744073709551616)
                 % 18446744073709551616 AS z FROM du),
        z1 AS (SELECT event_type, xor(z, z >> 30) AS z FROM z0),
        z2 AS (SELECT event_type,
                 ((z % 4294967296) * 13787848793156543929::HUGEINT
                  + (((z // 4294967296) * 13787848793156543929::HUGEINT)
                     % 4294967296) * 4294967296)
                 % 18446744073709551616 AS z FROM z1),
        z3 AS (SELECT event_type, xor(z, z >> 27) AS z FROM z2),
        z4 AS (SELECT event_type,
                 ((z % 4294967296) * 10723151780598845931::HUGEINT
                  + (((z // 4294967296) * 10723151780598845931::HUGEINT)
                     % 4294967296) * 4294967296)
                 % 18446744073709551616 AS z FROM z3),
        hh AS (SELECT DISTINCT event_type,
                 CAST(xor(z, z >> 31) >> 11 AS BIGINT) AS h FROM z4),
        rk AS (SELECT event_type, h,
                 row_number() OVER (PARTITION BY event_type ORDER BY h)
                   AS rn,
                 count(*) OVER (PARTITION BY event_type) AS ndv
               FROM hh),
        sk AS (SELECT * FROM rk WHERE rn <= 256),
        th AS (SELECT event_type,
                 CAST(CASE WHEN max(ndv) < 256 THEN 9007199254740992
                      ELSE max(CASE WHEN rn = 256 THEN h END) END
                   AS BIGINT) AS theta,
                 CAST(least(max(ndv), 256) AS BIGINT) AS skn
               FROM sk GROUP BY 1),
        pr AS (SELECT ta.event_type AS type_a, tb.event_type AS type_b,
                 ta.skn AS sk_a_n, tb.skn AS sk_b_n,
                 least(ta.theta, tb.theta) AS theta
               FROM th ta JOIN th tb
                 ON ta.event_type < tb.event_type),
        sh AS (SELECT p.type_a, p.type_b, count(*) AS shared
               FROM pr p
               JOIN sk a ON a.event_type = p.type_a AND a.h < p.theta
               JOIN sk b ON b.event_type = p.type_b AND b.h = a.h
               GROUP BY 1, 2)
        SELECT p.type_a, p.type_b, p.sk_a_n, p.sk_b_n,
               CAST(coalesce(sh.shared, 0) * 9007199254740992
                 // p.theta AS BIGINT) AS est_common,
               (p.sk_a_n < 256 AND p.sk_b_n < 256) AS exact_mode
        FROM pr p LEFT JOIN sh
          ON sh.type_a = p.type_a AND sh.type_b = p.type_b
        ORDER BY p.type_a, p.type_b"""))
  )
}

/** Narrow typed row for the Dataset[T] pipeline demo. */
final case class LineSlim(
    l_orderkey: Long, l_quantity: Double,
    l_extendedprice: Double, l_returnflag: String)
