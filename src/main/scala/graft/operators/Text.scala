package graft.operators

import graft.{Cut, Q, QueryModule, Tables}
import org.apache.spark.sql.functions._

/** §2.I (text half) — text analysis for a training-data pipeline: corpus
  * term stats, TF-IDF, corpus-trained language ID, quality scoring, token
  * counting, and rolling-hash fingerprints, all over the `documents` table.
  *
  * Scale notes: every query is explode→shuffle-on-(small key) shapes. The
  * token explode multiplies rows by ~doc length, but the groupBy keys (term,
  * lang, doc_id) partial-aggregate map-side, so the shuffle carries counts,
  * not tokens. Nothing here collects to the driver; the "trained" language
  * model is a ~155-row DataFrame joined back in (broadcast at any scale).
  */
object Text extends QueryModule {

  private def toks(s: org.apache.spark.sql.SparkSession, dir: String) =
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"),
        explode(split(col("text"), " ")).as("term"))

  /** Unrolled-BPE-training CTE chain for the text_bpe_train oracle —
    * the lloydCtes convention: the ORACLE re-runs the training loop.
    * Round r: p{r} counts adjacent symbol pairs over the US-separator
    * encoding, t{r} picks the (n desc, l, r) winner, w{r} applies the
    * literal-replace merge. chr(31) is U+001F. When training EXHAUSTS
    * before the round budget (no pairs left), t{r} is empty — w{r}
    * must then carry w{r-1} through unchanged (LEFT JOIN ON TRUE +
    * coalesce; a CROSS JOIN would empty every later w and silently
    * re-count all words as one token in text_bpe_tokenize's tokc),
    * matching the engine loop's early exit.
    */
  private def bpeCtes(rounds: Int): String = {
    val sep = "chr(31)"
    val w0 =
      s"""w0 AS (
         |  SELECT w, regexp_replace(w, '([\\s\\S])',
         |           $sep || '\\1' || $sep, 'g') AS seq, c
         |  FROM (SELECT w, count(*) AS c
         |        FROM (SELECT unnest(string_split(text, ' ')) AS w
         |              FROM documents)
         |        WHERE len(w) >= 2 GROUP BY w))""".stripMargin
    val steps = (1 to rounds).map { r =>
      s"""p$r AS (
         |  SELECT li[CAST(i AS INT)] AS l, li[CAST(i + 1 AS INT)] AS r,
         |         CAST(sum(c) AS BIGINT) AS n
         |  FROM (SELECT c, string_split(trim(seq, $sep), $sep || $sep) AS li
         |        FROM w${r - 1}),
         |       unnest(generate_series(1, len(li) - 1)) AS ix(i)
         |  GROUP BY 1, 2),
         |t$r AS (SELECT l, r, n FROM p$r ORDER BY n DESC, l, r LIMIT 1),
         |w$r AS (
         |  SELECT w,
         |         coalesce(replace(seq,
         |                    $sep || l || $sep || $sep || r || $sep,
         |                    $sep || l || r || $sep), seq) AS seq, c
         |  FROM w${r - 1} LEFT JOIN t$r ON TRUE)""".stripMargin
    }
    (w0 +: steps).mkString(",\n")
  }

  def all: Seq[Q] = Seq(
    // Corpus term frequencies (the classic wordcount, explode + hash agg).
    Q(
      "text_tokenize_wordcount",
      (s, dir) =>
        toks(s, dir)
          .groupBy(col("term"))
          .agg(count(lit(1)).as("n"))
          .orderBy(desc("n"), asc("term")),
      oracle = Some("""
        SELECT w AS term, count(*) AS n
        FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        GROUP BY w ORDER BY n DESC, term""")),

    // Zipf-law fit of the corpus token-frequency curve: OLS of ln(freq)
    // on ln(rank) over the top-50 terms — slope ≈ −1 is the natural-text
    // signature, and a bent curve is the synthetic/boilerplate-corpus
    // screen (the token-level sibling of dq_benford). The heavy global
    // groupBy is map-combined and the top-50 cut is the only global
    // sort; the regression then runs on a 50-row frame. Each ln is
    // quantized to 1e-6 fixed point so the moment sums are order-free
    // integers (perplexity trick); the slope/intercept/r² come out of
    // one shared-structure double expression over those exact sums (the
    // 1e-6 scale cancels in slope and r²).
    // Per-source Jensen–Shannon divergence from the corpus token
    // mixture — the data-mix diagnostic that ranks WHICH source's
    // language is the odd one out (mix_kl_audit measures the lang AXIS
    // against uniform; this measures each source's full unigram
    // DISTRIBUTION against the corpus, symmetric and bounded ≤ ln 2 so
    // sources are comparable). Exactness: both KL legs reduce to ln of
    // exact integer ratios — P/M = 2cN/(cN + Cnₛ), Q/M = 2Cnₛ/(cN + Cnₛ)
    // (c=0 cells collapse to ln 2 exactly, so the Q leg is computable on
    // the DENSIFIED source×vocab grid — the χ² densification lesson) —
    // each quantized to 1e-6 and weighted by integer counts; two final
    // divisions per source. Scale: token counts partial-aggregate
    // map-side; the grid is |sources|·|vocab| — vocabulary-bounded,
    // never corpus-bounded.
    Q(
      "text_jsd_sources",
      (s, dir) => {
        val tok = Tables.documents(s, dir)
          .select(col("source"), explode(split(col("text"), " "))
            .as("term"))
        val c = tok.groupBy("source", "term")
          .agg(count(lit(1)).as("c"))
        val ns = tok.groupBy("source").agg(count(lit(1)).as("n_s"))
        val cw = tok.groupBy("term").agg(count(lit(1)).as("cw"))
        val nn = tok.agg(count(lit(1)).as("nn"))
        val grid = ns.crossJoin(broadcast(cw)).crossJoin(broadcast(nn))
          .join(c, Seq("source", "term"), "left")
          .withColumn("c", coalesce(col("c"), lit(0L)))
          .withColumn("cn", col("c") * col("nn"))
          .withColumn("cns", col("cw") * col("n_s"))
          .withColumn("lnpm",
            when(col("c") > 0,
              round(log(col("cn") * 2 /
                (col("cn") + col("cns")).cast("double")) * 1e6)
                .cast("long")).otherwise(0L))
          .withColumn("lnqm",
            round(log(col("cns") * 2 /
              (col("cn") + col("cns")).cast("double")) * 1e6)
              .cast("long"))
        grid.groupBy("source", "n_s", "nn")
          .agg(sum(col("c") * col("lnpm")).as("num1"),
            sum(col("cw") * col("lnqm")).as("num2"))
          .select(col("source"), col("n_s").as("n_tokens"),
            round(col("num1").cast("double") / (col("n_s") * 2) / 1e6 +
              col("num2").cast("double") / (col("nn") * 2) / 1e6, 6)
              .as("jsd_nats"))
          .orderBy("source")
      },
      oracle = Some("""
        WITH tok AS (
          SELECT source, unnest(string_split(text, ' ')) AS term
          FROM documents),
        c AS (SELECT source, term, count(*) AS c FROM tok GROUP BY 1, 2),
        ns AS (SELECT source, count(*) AS n_s FROM tok GROUP BY 1),
        cw AS (SELECT term, count(*) AS cw FROM tok GROUP BY 1),
        nn AS (SELECT count(*) AS nn FROM tok),
        grid AS (
          SELECT ns.source, ns.n_s, cw.term, cw.cw, nn.nn,
                 coalesce(c.c, 0) AS c
          FROM ns CROSS JOIN cw CROSS JOIN nn
          LEFT JOIN c ON c.source = ns.source AND c.term = cw.term),
        q AS (
          SELECT source, n_s, nn, c, cw,
                 c * nn AS cn, cw * n_s AS cns
          FROM grid),
        l AS (
          SELECT source, n_s, nn, c, cw,
                 CASE WHEN c > 0 THEN CAST(round(ln(cn * 2
                   / CAST(cn + cns AS DOUBLE)) * 1e6) AS BIGINT)
                 ELSE 0 END AS lnpm,
                 CAST(round(ln(cns * 2
                   / CAST(cn + cns AS DOUBLE)) * 1e6) AS BIGINT) AS lnqm
          FROM q)
        SELECT source, CAST(any_value(n_s) AS BIGINT) AS n_tokens,
               round(CAST(sum(c * lnpm) AS DOUBLE)
                   / (any_value(n_s) * 2) / 1e6
                 + CAST(sum(cw * lnqm) AS DOUBLE)
                   / (any_value(nn) * 2) / 1e6, 6) AS jsd_nats
        FROM l GROUP BY source ORDER BY source""")),

    // Hill tail-index estimator on the term-frequency distribution — the
    // MLE companion to text_zipf's OLS fit (Zipf regresses the whole
    // top-50 curve; Hill estimates the tail exponent α from the k
    // largest order statistics alone: α = k / Σ ln(f_i / f_(k+1)),
    // i = 1..k). The standard heavy-tail screen for "is this corpus's
    // vocabulary natural or TEMPLATED" — generated/boilerplate text
    // shows a much lighter tail than Zipf's α ≈ 1. Exactness: the only
    // transcendentals are k+1 ln calls on exact integer counts,
    // quantized to 1e-6 (the text_zipf discipline) so the sum is
    // order-free integer; α is one final double division. Scale: term
    // counts partial-aggregate map-side; the order statistics live in a
    // k-row frame.
    Q(
      "text_hill_tail",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val top = toks(s, dir).groupBy("term")
          .agg(count(lit(1)).as("n"))
          .orderBy(desc("n"), asc("term")).limit(11)
        val rk = top.select(row_number()
            .over(Window.orderBy(desc("n"), asc("term"))).as("rank"),
          round(log(col("n").cast("double")) * 1e6, 0).cast("long")
            .as("lnq"),
          col("n"))
        rk.agg(
            sum(when(col("rank") <= 10, col("lnq"))).as("s10"),
            max(when(col("rank") === 11, col("lnq"))).as("ln11"),
            max(when(col("rank") === 11, col("n"))).as("xmin"),
            sum(when(col("rank") <= 10, 1L).otherwise(0L)).as("k"))
          .select(col("k"), col("xmin").as("xmin_freq"),
            (col("s10") - col("k") * col("ln11")).as("ln_sum_q"),
            round(col("k").cast("double") * 1e6 /
              (col("s10") - col("k") * col("ln11")).cast("double"), 4)
              .as("alpha"))
      },
      oracle = Some("""
        WITH tf AS (
          SELECT w AS term, count(*) AS n
          FROM (SELECT unnest(string_split(text, ' ')) AS w
                FROM documents)
          GROUP BY w),
        top AS (SELECT term, CAST(n AS BIGINT) AS n FROM tf
                ORDER BY n DESC, term LIMIT 11),
        rk AS (
          SELECT row_number() OVER (ORDER BY n DESC, term) AS rank,
                 CAST(round(ln(CAST(n AS DOUBLE)) * 1e6) AS BIGINT)
                   AS lnq,
                 n
          FROM top),
        m AS (
          SELECT CAST(sum(CASE WHEN rank <= 10 THEN lnq END) AS BIGINT)
                   AS s10,
                 max(CASE WHEN rank = 11 THEN lnq END) AS ln11,
                 max(CASE WHEN rank = 11 THEN n END) AS xmin,
                 CAST(count(*) FILTER (WHERE rank <= 10) AS BIGINT) AS k
          FROM rk)
        SELECT k, xmin AS xmin_freq,
               CAST(s10 - k * ln11 AS BIGINT) AS ln_sum_q,
               round(CAST(k AS DOUBLE) * 1e6
                 / CAST(s10 - k * ln11 AS DOUBLE), 4) AS alpha
        FROM m""")),

    // Word burstiness: the variance-to-mean ratio (index of dispersion) of
    // each top word's PER-DOCUMENT count, zeros included — the classic
    // content-vs-function-word discriminant (function words scatter
    // ~Poisson, D≈1; topical words clump, D≫1). All moments are exact
    // integers (zeros contribute nothing to Σc or Σc², so the absent-doc
    // rows never need materializing): D = (N·Σc² − (Σc)²)/(N·Σc), emitted
    // as floor permyriad — no float crosses the engine boundary. Two hash
    // aggregates ((term,doc) then term), corpus-size frame cross-joined,
    // top-20 by (total DESC, term) — a total order.
    Q(
      "text_burstiness",
      (s, dir) => {
        val perDoc = toks(s, dir)
          .groupBy("term", "doc_id").agg(count(lit(1)).as("c"))
        val stats = perDoc.groupBy("term").agg(
          count(lit(1)).as("n_docs_with"),
          sum("c").as("total"),
          sum(col("c") * col("c")).as("s2"))
        val nd = Tables.documents(s, dir).agg(count(lit(1)).as("nn"))
        stats.crossJoin(nd)
          .orderBy(desc("total"), asc("term")).limit(20)
          .select(col("term"), col("n_docs_with"), col("total"),
            expr("(10000 * (nn * s2 - total * total)) div (nn * total)")
              .as("dispersion_pm"))
          .orderBy(desc("total"), asc("term"))
      },
      oracle = Some("""
        WITH pd AS (
          SELECT w AS term, doc_id, count(*) AS c
          FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                FROM documents)
          GROUP BY 1, 2),
        st AS (
          SELECT term, count(*) AS n_docs_with,
                 CAST(sum(c) AS BIGINT) AS total,
                 CAST(sum(c * c) AS BIGINT) AS s2
          FROM pd GROUP BY term),
        nd AS (SELECT count(*) AS nn FROM documents)
        SELECT term, n_docs_with, total,
               CAST((10000 * (nn * s2 - total * total)) // (nn * total)
                 AS BIGINT) AS dispersion_pm
        FROM st, nd
        ORDER BY total DESC, term LIMIT 20""")),

    // LSA: the dominant latent direction of the tf-idf term space —
    // one power-iteration component over the V×V term Gram matrix
    // (V = min(vocab, 50); this corpus's whole vocabulary is 31 words),
    // surfacing which words co-vary across documents (the topic-model
    // primitive before anything neural). Exactness is the ml_pca_power
    // discipline applied to text: idf = q(ln N) − q(ln df) (ln of
    // integers only) floor-scaled to milli so every tf·idf weight and
    // Gram cell stays in BIGINT at sf1; Gram → ±1e6 rescale → 4
    // L∞-renormalized rounds in driver BigInt, the oracle replaying the
    // identical fixpoint unrolled. The per-doc self-join is bounded by
    // (terms-per-doc ∩ top-50)² — vocabulary-sized work, not corpus²;
    // the Gram shuffles 2500 cells regardless of rows. Output: top-10
    // |loading| terms of the first component.
    Q(
      "text_lsa_topics",
      (s, dir) => {
        val sp = s
        import sp.implicits._
        val tok = toks(s, dir).select("doc_id", "term")
        val n = Tables.documents(s, dir).count()
        val qlnN = math.round(math.log(n.toDouble) * 1e6)
        // ONE tokenize pass: tf has exactly one row per (doc, term)
        // present, so df = per-term row count of tf — the r16 shape
        // (tok.distinct for df + tok.groupBy for tf) exploded and
        // shuffled the token stream twice for the same information.
        // Materialized once for its two consumers (df → top broadcast,
        // and the tf·idf weights).
        val tf = Cut(tok.groupBy("doc_id", "term")
          .agg(count(lit(1)).as("tf"))).df
        val dfF = tf.groupBy("term").agg(count(lit(1)).as("df"))
        val top = dfF.orderBy(desc("df"), asc("term")).limit(50)
          .select(col("term"), col("df"),
            row_number().over(org.apache.spark.sql.expressions.Window
              .orderBy(desc("df"), asc("term"))).as("rk"))
          .withColumn("idfq", expr(
            s"($qlnN - cast(round(ln(df) * 1e6, 0) as bigint))" +
              " div 1000"))
        val w = tf
          .join(broadcast(top), Seq("term"))
          .select(col("doc_id"), col("rk"),
            (col("tf") * col("idfq")).as("w"))
        val gram = w.as("a").join(w.as("b"), Seq("doc_id"))
          .groupBy(col("a.rk").as("i"), col("b.rk").as("j"))
          .agg(sum(expr("a.w * b.w")).as("g"))
          .collect()
          .map(r => (r.getInt(0), r.getInt(1)) -> BigInt(r.getLong(2)))
          .toMap
        // matrix dim = actual vocabulary (this corpus has only 31
        // distinct words, so "top-50" is the whole term space)
        val terms = top.select("rk", "term").collect()
          .map(r => r.getInt(0) -> r.getString(1)).toMap
        val dim = terms.size
        // ±1e6 rescale, then 4 L∞-renormalized power rounds (BigInt)
        val cdiv = gram.values.map(_.abs).max
        val cs = Array.tabulate(dim, dim)((i, j) =>
          gram.getOrElse((i + 1, j + 1), BigInt(0)) * 1000000 / cdiv)
        var v = Array.fill(dim)(BigInt(1000000))
        for (_ <- 1 to 4) {
          val wv = Array.tabulate(dim)(i =>
            (0 until dim).map(j => cs(i)(j) * v(j)).sum)
          val m = wv.map(_.abs).max
          v = wv.map(x => x * 1000000 / m)
        }
        val ranked = (0 until dim)
          .map(i => (terms(i + 1), v(i).toLong))
          .sortBy { case (t, lv) => (-math.abs(lv), t) }
          .take(10).zipWithIndex
          .map { case ((t, lv), i) => (i + 1, t, lv) }
        ranked.toDF("rank", "term", "loading").orderBy("rank")
      },
      oracle = Some("""
        WITH RECURSIVE tok AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS term
          FROM documents),
        nn AS (SELECT count(*) AS n FROM documents),
        dft AS (
          SELECT term, count(DISTINCT doc_id) AS df
          FROM tok GROUP BY term),
        top AS (
          SELECT term, df,
                 row_number() OVER (ORDER BY df DESC, term) AS rk
          FROM dft ORDER BY df DESC, term LIMIT 50),
        idf AS (
          SELECT term, rk,
                 (CAST(round(ln((SELECT n FROM nn)) * 1e6, 0) AS BIGINT)
                  - CAST(round(ln(df) * 1e6, 0) AS BIGINT)) // 1000
                   AS idfq
          FROM top),
        w AS (
          SELECT t.doc_id, i.rk, count(*) * i.idfq AS w
          FROM tok t JOIN idf i USING (term)
          GROUP BY t.doc_id, i.rk, i.idfq),
        gram AS MATERIALIZED (
          SELECT a.rk AS i, b.rk AS j,
                 CAST(sum(a.w::HUGEINT * b.w) AS HUGEINT) AS g
          FROM w a JOIN w b ON a.doc_id = b.doc_id
          GROUP BY 1, 2),
        cd AS (SELECT max(abs(g)) AS cdiv FROM gram),
        cs AS MATERIALIZED (
          SELECT i, j, CAST((g * 1000000) // cdiv AS BIGINT) AS c
          FROM gram, cd),
        v0 AS (SELECT rk AS i, CAST(1000000 AS BIGINT) AS v FROM top),
        w1 AS MATERIALIZED (
          SELECT cs.i, sum(cs.c::HUGEINT * v0.v) AS w
          FROM cs JOIN v0 ON cs.j = v0.i GROUP BY cs.i),
        m1 AS (SELECT max(abs(w)) AS m FROM w1),
        v1 AS MATERIALIZED (
          SELECT i, CAST((w * 1000000) // m AS BIGINT) AS v FROM w1, m1),
        w2 AS MATERIALIZED (
          SELECT cs.i, sum(cs.c::HUGEINT * v1.v) AS w
          FROM cs JOIN v1 ON cs.j = v1.i GROUP BY cs.i),
        m2 AS (SELECT max(abs(w)) AS m FROM w2),
        v2 AS MATERIALIZED (
          SELECT i, CAST((w * 1000000) // m AS BIGINT) AS v FROM w2, m2),
        w3 AS MATERIALIZED (
          SELECT cs.i, sum(cs.c::HUGEINT * v2.v) AS w
          FROM cs JOIN v2 ON cs.j = v2.i GROUP BY cs.i),
        m3 AS (SELECT max(abs(w)) AS m FROM w3),
        v3 AS MATERIALIZED (
          SELECT i, CAST((w * 1000000) // m AS BIGINT) AS v FROM w3, m3),
        w4 AS MATERIALIZED (
          SELECT cs.i, sum(cs.c::HUGEINT * v3.v) AS w
          FROM cs JOIN v3 ON cs.j = v3.i GROUP BY cs.i),
        m4 AS (SELECT max(abs(w)) AS m FROM w4),
        v4 AS (
          SELECT i, CAST((w * 1000000) // m AS BIGINT) AS v FROM w4, m4)
        SELECT CAST(row_number() OVER (ORDER BY abs(v.v) DESC, t.term)
                 AS INT) AS rank,
               t.term, v.v AS loading
        FROM v4 v JOIN top t ON t.rk = v.i
        ORDER BY abs(v.v) DESC, t.term LIMIT 10""")),

    // Character-level entropy per source — the compressibility proxy
    // (low H ≈ repetitive/templated bytes, the signal a gzip-ratio
    // filter reads without needing a compressor in the engine): H in
    // exact micro-nats from the char histogram via the text_zipf
    // ln-of-integer rule — H = (N·q(ln N) − Σ c·q(ln c)) / N with every
    // q an integer, so the division is one exact floor at the end. The
    // char census is positional substring over a sequence explode
    // (split-by-empty-string semantics differ between engines — avoided
    // entirely); shuffle carries |alphabet|·sources rows no matter the
    // corpus size.
    Q(
      "text_char_entropy",
      (s, dir) => {
        // Guard zero-length texts BEFORE the positional explode:
        // Spark's sequence(1, 0) counts DOWN to [1, 0] (two phantom
        // empty-char rows) while DuckDB's generate_series(1, 0) is
        // empty — the same engine split the >=8/>=5 guards pin in the
        // ngram keys.
        val ch = Tables.documents(s, dir)
          .filter(length(col("text")) >= 1)
          .select(col("source"),
            explode(sequence(lit(1), length(col("text")))).as("i"),
            col("text"))
          .select(col("source"), expr("substring(text, i, 1)").as("c"))
          .groupBy("source", "c").agg(count(lit(1)).as("n"))
        val q = (x: org.apache.spark.sql.Column) =>
          round(log(x.cast("double")) * 1e6, 0).cast("long")
        ch.groupBy("source")
          .agg(sum("n").as("n_chars"),
            count(lit(1)).as("n_distinct_chars"),
            sum(col("n") * q(col("n"))).as("clnc"))
          .withColumn("qn", q(col("n_chars")))
          .select(col("source"), col("n_chars"),
            col("n_distinct_chars"),
            expr("(n_chars * qn - clnc) div n_chars")
              .as("ent_nat_micro"))
          .orderBy("source")
      },
      oracle = Some("""
        WITH ch AS (
          SELECT source, substring(text, CAST(i AS INT), 1) AS c
          FROM (SELECT source, text,
                       unnest(generate_series(1, len(text))) AS i
                FROM documents)),
        h AS (
          SELECT source, c, count(*) AS n FROM ch GROUP BY 1, 2),
        m AS (
          SELECT source, CAST(sum(n) AS BIGINT) AS n_chars,
                 count(*) AS n_distinct_chars,
                 CAST(sum(n * CAST(round(ln(n) * 1e6, 0) AS BIGINT))
                   AS BIGINT) AS clnc
          FROM h GROUP BY source)
        SELECT source, n_chars, n_distinct_chars,
               (n_chars * CAST(round(ln(n_chars) * 1e6, 0) AS BIGINT)
                 - clnc) // n_chars AS ent_nat_micro
        FROM m ORDER BY source""")),

    // Segmental type-token ratio (the MATTR-family lexical-diversity
    // readout): each doc is cut into non-overlapping 25-token segments,
    // only FULL segments scored (TTR is length-biased, so partial tails
    // would make short docs look artificially diverse — the standard
    // fixed-window discipline), and each source reports its segment
    // count and mean/min/max TTR in exact floor permyriad. Low mean with
    // a tight band is the template-spam signature; natural text sits
    // higher with spread. All integer: per-segment ttr_pm = 400·distinct
    // (10000·d div 25), the mean an exact floor division. Scale: one
    // (doc, seg) hash aggregate on the posexploded tokens (map-side
    // combined), then a source-sized rollup — linear, no sort.
    Q(
      "text_ttr_segmented",
      (s, dir) => {
        val tt = Tables.documents(s, dir)
          .select(col("source"), col("doc_id"),
            posexplode(split(col("text"), " ")))
        val sg = tt
          .groupBy(col("source"), col("doc_id"),
            expr("pos div 25").as("seg"))
          .agg(count(lit(1)).as("ntok"), countDistinct("col").as("d"))
          .filter(col("ntok") === 25)
        sg.select(col("source"), expr("(10000 * d) div 25").as("ttr_pm"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_segs"),
            sum("ttr_pm").as("sum_ttr"),
            min("ttr_pm").as("min_ttr_pm"),
            max("ttr_pm").as("max_ttr_pm"))
          .select(col("source"), col("n_segs"),
            expr("sum_ttr div n_segs").as("mean_ttr_pm"),
            col("min_ttr_pm"), col("max_ttr_pm"))
          .orderBy("source")
      },
      oracle = Some("""
        WITH w AS (
          SELECT source, doc_id, string_split(text, ' ') AS ws,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS n
          FROM documents),
        tok AS (
          SELECT source, doc_id, (i - 1) // 25 AS seg,
                 ws[CAST(i AS INT)] AS term
          FROM w, unnest(generate_series(1, n)) AS t(i)),
        sg AS (
          SELECT source, doc_id, seg, count(*) AS ntok,
                 CAST(count(DISTINCT term) AS BIGINT) AS d
          FROM tok GROUP BY 1, 2, 3
          HAVING count(*) = 25),
        r AS (SELECT source, (10000 * d) // 25 AS ttr_pm FROM sg)
        SELECT source, count(*) AS n_segs,
               CAST(sum(ttr_pm) AS BIGINT) // count(*) AS mean_ttr_pm,
               min(ttr_pm) AS min_ttr_pm, max(ttr_pm) AS max_ttr_pm
        FROM r GROUP BY source ORDER BY source""")),

    Q(
      "text_zipf",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val top = toks(s, dir).groupBy("term")
          .agg(count(lit(1)).as("n"))
          .orderBy(desc("n"), asc("term")).limit(50)
        val rk = top.select(row_number()
            .over(Window.orderBy(desc("n"), asc("term"))).as("rank"),
          col("n"))
        val q = rk.select(
          round(log(col("rank").cast("double")) * 1e6, 0).cast("long")
            .as("xq"),
          round(log(col("n").cast("double")) * 1e6, 0).cast("long")
            .as("yq"))
        val m = q.agg(count(lit(1)).as("k"),
          sum("xq").as("sx"), sum("yq").as("sy"),
          sum(col("xq") * col("yq")).as("sxy"),
          sum(col("xq") * col("xq")).as("sxx"),
          sum(col("yq") * col("yq")).as("syy"))
        val num = (col("k") * col("sxy") - col("sx") * col("sy"))
          .cast("double")
        val dx = (col("k") * col("sxx") - col("sx") * col("sx"))
          .cast("double")
        val dy = (col("k") * col("syy") - col("sy") * col("sy"))
          .cast("double")
        val slope = num / dx
        m.select(col("k").as("n_terms"),
          round(slope, 4).as("slope"),
          round((col("sy").cast("double") - slope *
            col("sx").cast("double")) /
            (col("k").cast("double") * 1e6), 4).as("intercept"),
          round(num * num / (dx * dy), 4).as("r2"))
      },
      oracle = Some("""
        WITH tf AS (
          SELECT w AS term, count(*) AS n
          FROM (SELECT unnest(string_split(text, ' ')) AS w
                FROM documents)
          GROUP BY w),
        top AS (SELECT term, CAST(n AS BIGINT) AS n FROM tf
                ORDER BY n DESC, term LIMIT 50),
        rk AS (SELECT row_number() OVER (ORDER BY n DESC, term) AS rank,
                      n FROM top),
        q AS (
          SELECT CAST(round(ln(CAST(rank AS DOUBLE)) * 1e6) AS BIGINT)
                   AS xq,
                 CAST(round(ln(CAST(n AS DOUBLE)) * 1e6) AS BIGINT)
                   AS yq
          FROM rk),
        m AS (
          SELECT CAST(count(*) AS BIGINT) AS k,
                 CAST(sum(xq) AS BIGINT) AS sx,
                 CAST(sum(yq) AS BIGINT) AS sy,
                 CAST(sum(xq * yq) AS BIGINT) AS sxy,
                 CAST(sum(xq * xq) AS BIGINT) AS sxx,
                 CAST(sum(yq * yq) AS BIGINT) AS syy
          FROM q)
        SELECT k AS n_terms,
               round(CAST(k * sxy - sx * sy AS DOUBLE)
                 / CAST(k * sxx - sx * sx AS DOUBLE), 4) AS slope,
               round((CAST(sy AS DOUBLE)
                 - CAST(k * sxy - sx * sy AS DOUBLE)
                   / CAST(k * sxx - sx * sx AS DOUBLE)
                   * CAST(sx AS DOUBLE))
                 / (CAST(k AS DOUBLE) * 1e6), 4) AS intercept,
               round(CAST(k * sxy - sx * sy AS DOUBLE)
                 * CAST(k * sxy - sx * sy AS DOUBLE)
                 / (CAST(k * sxx - sx * sx AS DOUBLE)
                    * CAST(k * syy - sy * sy AS DOUBLE)), 4) AS r2
        FROM m""")),

    // Per (lang, source) document-length statistics.
    Q(
      "text_stats",
      (s, dir) =>
        Tables.documents(s, dir)
          .withColumn("n_tokens", graft.api.Text.tokenCount(col("text")))
          .groupBy(col("lang"), col("source"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_tokens")).as("sum_tokens"),
            round(avg(col("n_tokens")), 4).as("avg_tokens"),
            min(col("n_chars")).as("min_chars"),
            max(col("n_chars")).as("max_chars"))
          .orderBy("lang", "source"),
      oracle = Some("""
        SELECT lang, source, count(*) AS n_docs,
               CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS sum_tokens,
               round(avg(len(string_split(text, ' '))), 4) AS avg_tokens,
               min(n_chars) AS min_chars, max(n_chars) AS max_chars
        FROM documents GROUP BY lang, source ORDER BY lang, source""")),

    // TF-IDF per (doc, term): tf = termcount/doclen, idf = ln(N/df) with df
    // computed over the whole corpus; scored rows restricted to doc_id < 20
    // to bound output. Two aggregations + two joins; df and N are tiny
    // aggregates (vocab-sized / scalar) so both joins broadcast at any scale.
    Q(
      "text_tfidf",
      (s, dir) =>
        graft.api.Text.tfIdf(
          Tables.documents(s, dir), col("doc_id"), col("text"))
          .filter(col("id") < 20)
          .select(col("id").as("doc_id"), col("term"),
            round(col("tfidf"), 4).as("tfidf"))
          .orderBy("doc_id", "term"),
      oracle = Some("""
        WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                   FROM documents),
        tf AS (SELECT doc_id, term, count(*) AS cnt FROM t GROUP BY 1, 2),
        dl AS (SELECT doc_id, count(*) AS doc_len FROM t GROUP BY 1),
        df AS (SELECT term, count(DISTINCT doc_id) AS df FROM t GROUP BY 1),
        n AS (SELECT count(*) AS n_docs FROM documents)
        SELECT tf.doc_id, tf.term,
               round((cnt / doc_len) * ln(n_docs / df), 4) AS tfidf
        FROM tf JOIN dl USING (doc_id) JOIN df USING (term) CROSS JOIN n
        WHERE tf.doc_id < 20
        ORDER BY doc_id, term""")),

    // BM25 top-k retrieval (round 15) — the ranking function tf-idf is
    // the teaching version of: Robertson/Lucene BM25 (k1=1.2, b=0.75,
    // the ln(1 + (N-df+0.5)/(df+0.5)) always-positive idf) scoring the
    // corpus against the 10 highest-df terms as single-term queries
    // (deterministic from the data — the worst-case, least selective
    // queries a retrieval layer must survive), top-5 docs per query.
    // This is the retrieval leg a training-data pipeline uses for
    // contamination probes and dedup-by-query. Plan shape at scale:
    // tf/dl/df are map-combined linear aggregates; the 10-row query
    // table BROADCASTS onto the tf postings so scoring touches only
    // the queried terms' posting lists; dl joins by doc_id (shuffle on
    // the posting side only); top-5 per query runs on the engine's own
    // TopKPerGroup physical operator — map-side bounded heaps, so the
    // shuffle carries ≤ 5·queries·partitions rows, never a posting
    // list, regardless of how hot the query terms are (and df-hot is
    // the worst case by construction here).
    Q(
      "text_bm25_topk",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val t = Tables.documents(s, dir)
          .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        val tf = t.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        val dl = t.groupBy("doc_id").agg(count(lit(1)).as("dl"))
        val stats = dl.agg(count(lit(1)).as("n_docs"), avg("dl").as("avgdl"))
        val dfq = tf.groupBy("term").agg(count(lit(1)).as("df"))
          .orderBy(desc("df"), asc("term")).limit(10)
        val scored = tf
          .join(broadcast(dfq), "term")
          .join(dl, "doc_id")
          .crossJoin(broadcast(stats))
          // expression structure mirrors the oracle term-for-term so
          // both engines evaluate the identical double dataflow
          .withColumn("score",
            log(lit(1) + (col("n_docs") - col("df") + 0.5) /
              (col("df") + 0.5)) *
              (col("tf") * 2.2) /
              (col("tf") + lit(1.2) *
                (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))
        val w = Window.partitionBy("term")
          .orderBy(desc("score"), asc("doc_id"))
        graft.api.Plans.topKPerGroup(scored.select(
            col("term"), col("doc_id"), col("score")),
            Seq("term"), Seq(("score", true), ("doc_id", false)), 5)
          .withColumn("rank", row_number().over(w).cast("int"))
          .select(col("term"), col("rank"), col("doc_id"),
            round(col("score"), 4).as("bm25"))
          .orderBy("term", "rank")
      },
      oracle = Some("""
        WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                   FROM documents),
        tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
               FROM t GROUP BY 1, 2),
        dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl
               FROM t GROUP BY 1),
        stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                         avg(dl) AS avgdl FROM dl),
        df AS (SELECT term, CAST(count(*) AS BIGINT) AS df
               FROM tf GROUP BY 1),
        q AS (SELECT term, df FROM (
                SELECT term, df,
                       row_number() OVER (ORDER BY df DESC, term) AS rn
                FROM df) WHERE rn <= 10),
        scored AS (
          SELECT q.term, tf.doc_id,
                 ln(1 + (n_docs - q.df + 0.5) / (q.df + 0.5))
                   * (tf.tf * 2.2)
                   / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / avgdl))
                   AS score
          FROM q JOIN tf ON tf.term = q.term
          JOIN dl ON dl.doc_id = tf.doc_id
          CROSS JOIN stats),
        top AS (SELECT term, doc_id, score,
                       row_number() OVER (PARTITION BY term
                         ORDER BY score DESC, doc_id) AS rank
                FROM scored)
        SELECT term, CAST(rank AS INT) AS rank, doc_id,
               round(score, 4) AS bm25
        FROM top WHERE rank <= 5
        ORDER BY term, rank""")),

    // Language ID via a unigram model trained on the corpus itself:
    // P(term|lang) with add-one smoothing, doc scored by sum of log-probs,
    // argmax lang. Output is the actual×predicted confusion matrix. The
    // model is |vocab|·|langs| rows — broadcast-joined against the exploded
    // tokens, so the heavy side never shuffles on a skewed key.
    Q(
      "text_langid",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        graft.api.Text.languageId(
          docs, col("text"), col("lang"),
          docs, col("doc_id"), col("text"))
          .join(docs.select(col("doc_id").as("id"), col("lang")), "id")
          .groupBy(col("lang").as("actual"),
            col("predicted_lang").as("predicted"))
          .agg(count(lit(1)).as("n_docs"))
          .orderBy("actual", "predicted")
      },
      oracle = Some("""
        WITH t AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS term
                   FROM documents),
        v AS (SELECT count(DISTINCT term) AS v FROM t),
        lt AS (SELECT lang AS m_lang, count(*) AS lang_toks FROM t GROUP BY 1),
        model AS (
          SELECT c.m_lang, c.term, ln((cnt + 1) / (lang_toks + v)) AS lp
          FROM (SELECT lang AS m_lang, term, count(*) AS cnt
                FROM t GROUP BY 1, 2) c
          JOIN lt USING (m_lang) CROSS JOIN v),
        scored AS (
          SELECT doc_id, lang, m_lang, round(sum(lp), 6) AS score
          FROM t JOIN model USING (term) GROUP BY 1, 2, 3),
        best AS (
          SELECT doc_id, lang, m_lang,
                 row_number() OVER (PARTITION BY doc_id
                                    ORDER BY score DESC, m_lang) AS rn
          FROM scored)
        SELECT lang AS actual, m_lang AS predicted, count(*) AS n_docs
        FROM best WHERE rn = 1
        GROUP BY 1, 2 ORDER BY actual, predicted""")),

    // Per-document quality scoring: lexical-diversity ratio, mean token
    // length, stopword ratio, and a weighted composite score. Pure per-row
    // column math — no shuffle at all except the final sort.
    Q(
      "text_quality",
      (s, dir) =>
        Tables.documents(s, dir)
          .filter(col("doc_id") < 200)
          .withColumn("w", split(col("text"), " "))
          .withColumn("n_tokens", size(col("w")))
          .select(
            col("doc_id"),
            col("n_tokens"),
            round(size(array_distinct(col("w"))) / col("n_tokens").cast("double"), 4)
              .as("distinct_ratio"),
            round((length(col("text")) - col("n_tokens") + 1) /
              col("n_tokens").cast("double"), 4).as("avg_token_len"),
            round(size(filter(col("w"), t => t === "the" || t === "a")) /
              col("n_tokens").cast("double"), 4).as("stopword_ratio"))
          // The composite's exact decimal value has ≤5 decimals (weights ×
          // 4-decimal inputs), so rounding at 5 avoids the half-way
          // knife-edge that round(…,4) would sit on in both engines.
          .withColumn("quality",
            round(lit(0.4) * col("distinct_ratio") +
              lit(0.3) * least(col("n_tokens") / 100.0, lit(1.0)) +
              lit(0.3) * (lit(1.0) - col("stopword_ratio")), 5))
          .orderBy("doc_id"),
      oracle = Some("""
        WITH d AS (SELECT doc_id, text, string_split(text, ' ') AS w,
                          len(string_split(text, ' ')) AS n_tokens
                   FROM documents WHERE doc_id < 200),
        m AS (
          SELECT doc_id, n_tokens,
                 round(len(list_distinct(w)) / CAST(n_tokens AS DOUBLE), 4)
                   AS distinct_ratio,
                 round((length(text) - n_tokens + 1) / CAST(n_tokens AS DOUBLE), 4)
                   AS avg_token_len,
                 round(len(list_filter(w, t -> t IN ('the', 'a'))) /
                   CAST(n_tokens AS DOUBLE), 4) AS stopword_ratio
          FROM d)
        SELECT doc_id, n_tokens, distinct_ratio, avg_token_len, stopword_ratio,
               round(0.4 * distinct_ratio +
                     0.3 * least(n_tokens / 100.0, 1.0) +
                     0.3 * (1.0 - stopword_ratio), 5) AS quality
        FROM m ORDER BY doc_id""")),

    // Token counting two ways: whitespace tokens and a BPE-ish regex that
    // caps pieces at 4 chars (a crude subword segmenter), aggregated per
    // lang. regexp_count is codegen'd per row; no UDF.
    Q(
      "text_token_count",
      (s, dir) =>
        Tables.documents(s, dir)
          .withColumn("ws_tokens", graft.api.Text.tokenCount(col("text")))
          .withColumn("sub_tokens", regexp_count(col("text"), lit("[a-z]{1,4}")))
          .groupBy(col("lang"))
          .agg(
            sum("ws_tokens").as("sum_ws_tokens"),
            sum("sub_tokens").as("sum_sub_tokens"),
            round(avg(col("sub_tokens") / col("ws_tokens").cast("double")), 4)
              .as("avg_pieces_per_word"))
          .orderBy("lang"),
      oracle = Some("""
        WITH d AS (SELECT lang,
                          len(string_split(text, ' ')) AS ws_tokens,
                          len(regexp_extract_all(text, '[a-z]{1,4}')) AS sub_tokens
                   FROM documents)
        SELECT lang, CAST(sum(ws_tokens) AS BIGINT) AS sum_ws_tokens,
               CAST(sum(sub_tokens) AS BIGINT) AS sum_sub_tokens,
               round(avg(sub_tokens / CAST(ws_tokens AS DOUBLE)), 4)
                 AS avg_pieces_per_word
        FROM d GROUP BY lang ORDER BY lang""")),

    // Text normalization — the cleaning pass every training-data pipeline
    // runs before dedup/tokenization: lowercase, strip non-alphanumerics,
    // collapse whitespace runs, trim. Pure per-row regex column math
    // (codegen'd, no UDF, no shuffle except the output sort); the oracle
    // replays the identical pipeline with DuckDB's global-flag regexes.
    Q(
      "text_normalize",
      (s, dir) =>
        Tables.documents(s, dir)
          .filter(col("doc_id") < 200)
          .withColumn("norm", graft.api.Text.normalize(col("text")))
          .select(col("doc_id"),
            substring(col("norm"), 1, 60).as("norm_prefix"),
            length(col("norm")).as("norm_len"),
            graft.api.Text.tokenCount(col("norm")).as("n_tokens"))
          .orderBy("doc_id"),
      oracle = Some("""
        WITH n AS (
          SELECT doc_id,
                 trim(regexp_replace(
                   regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                   ' +', ' ', 'g')) AS norm
          FROM documents WHERE doc_id < 200)
        SELECT doc_id, substring(norm, 1, 60) AS norm_prefix,
               CAST(length(norm) AS INTEGER) AS norm_len,
               CAST(len(string_split(norm, ' ')) AS INTEGER) AS n_tokens
        FROM n ORDER BY doc_id""")),

    // Document fingerprinting: 31-ary rolling hash over the characters,
    // mod 1e9+7 (intermediates stay < 2^35, safe in 64-bit on both
    // engines). A per-row sequential fold — embarrassingly parallel.
    Q(
      "text_fingerprint",
      (s, dir) =>
        Tables.documents(s, dir)
          .filter(col("doc_id") < 200)
          .select(col("doc_id"),
            graft.api.Text.fingerprint(col("text")).as("fingerprint"))
          .orderBy("doc_id"),
      oracle = Some("""
        SELECT doc_id,
               list_reduce(
                 list_prepend(CAST(0 AS BIGINT),
                   list_transform(generate_series(1, length(text)),
                     i -> CAST(ascii(substr(text, CAST(i AS INT), 1)) AS BIGINT))),
                 (a, c) -> (a * 31 + c) % 1000000007) AS fingerprint
        FROM documents WHERE doc_id < 200 ORDER BY doc_id""")),

    // PII redaction — the compliance pass a training-data pipeline runs
    // before anything leaves the boundary: regex-replace emails and phone
    // numbers with typed placeholders and count what was struck. The
    // corpus has no real PII, so deterministic synthetic contact strings
    // are appended first (making every row exercise both patterns), then
    // redacted. Pure per-row regex column math; the patterns avoid
    // Java-vs-RE2 divergences (no backrefs, no lookaround).
    Q(
      "text_pii_redact",
      (s, dir) => {
        val withPii = concat(col("text"),
          lit(" Contact contact_"), col("doc_id"),
          lit("@mail"), pmod(col("doc_id"), lit(7)),
          lit(".example.com or +1-555-"),
          lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"))
        val emailPat = "[A-Za-z0-9_.]+@[A-Za-z0-9.]+"
        val phonePat = "\\+1-555-[0-9]{4}"
        Tables.documents(s, dir)
          .filter(col("doc_id") < 300)
          .select(col("doc_id"), withPii.as("raw"))
          .select(col("doc_id"),
            regexp_replace(regexp_replace(col("raw"), emailPat, "[EMAIL]"),
              phonePat, "[PHONE]").as("redacted"),
            size(regexp_extract_all(col("raw"), lit(emailPat), lit(0)))
              .as("n_emails"),
            size(regexp_extract_all(col("raw"), lit(phonePat), lit(0)))
              .as("n_phones"))
          .select(col("doc_id"),
            expr("right(redacted, 48)").as("redacted_tail"),
            col("n_emails"), col("n_phones"))
          .orderBy("doc_id")
      },
      oracle = Some("""
        WITH t AS (
          SELECT doc_id,
                 text || ' Contact contact_' || doc_id || '@mail' ||
                 (doc_id % 7) || '.example.com or +1-555-' ||
                 lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS raw
          FROM documents WHERE doc_id < 300),
        r AS (
          SELECT doc_id,
                 regexp_replace(
                   regexp_replace(raw, '[A-Za-z0-9_.]+@[A-Za-z0-9.]+',
                                  '[EMAIL]', 'g'),
                   '\+1-555-[0-9]{4}', '[PHONE]', 'g') AS redacted,
                 CAST(len(regexp_extract_all(raw,
                   '[A-Za-z0-9_.]+@[A-Za-z0-9.]+')) AS INTEGER) AS n_emails,
                 CAST(len(regexp_extract_all(raw,
                   '\+1-555-[0-9]{4}')) AS INTEGER) AS n_phones
          FROM t)
        SELECT doc_id, right(redacted, 48) AS redacted_tail,
               n_emails, n_phones
        FROM r ORDER BY doc_id""")),

    // Pseudonymization with REFERENTIAL INTEGRITY — text_pii_redact's
    // destructive [EMAIL] upgraded to the form a training pipeline
    // actually needs: each address becomes a STABLE md5-derived token
    // (EML_xxxxxxxx), so the same entity carries the same token in
    // every document and cross-document joins/cooccurrence statistics
    // survive anonymization. The injected addresses repeat across docs
    // (doc_id % 40 → 40 entities over 300 docs) precisely so the
    // integrity property is non-vacuous: the per-doc frame shows token
    // reuse, and TextSpec pins |tokens| = |entities|. Pure map-side
    // projection (regexp extract → hash → replace); the only shuffle
    // is the display sort.
    Q(
      "text_pseudonymize",
      (s, dir) => {
        val emailPat = "[A-Za-z0-9_.]+@[A-Za-z0-9.]+"
        val withPii = concat(col("text"),
          lit(" Contact contact_"), pmod(col("doc_id"), lit(40)),
          lit("@mail"), pmod(pmod(col("doc_id"), lit(40)), lit(7)),
          lit(".example.com for details."))
        val raw = Tables.documents(s, dir)
          .filter(col("doc_id") < 300)
          .select(col("doc_id"), withPii.as("raw"))
        val email = regexp_extract(col("raw"), emailPat, 0)
        val token = concat(lit("EML_"), substring(md5(email), 1, 8))
        raw
          .select(col("doc_id"), token.as("token"),
            expr(s"right(regexp_replace(raw, '$emailPat', " +
              "concat('EML_', substring(md5(regexp_extract(raw, " +
              s"'$emailPat', 0)), 1, 8))), 40)").as("redacted_tail"))
          .orderBy("doc_id")
      },
      oracle = Some("""
        WITH t AS (
          SELECT doc_id,
                 text || ' Contact contact_' || (doc_id % 40) || '@mail'
                 || ((doc_id % 40) % 7) || '.example.com for details.' AS raw
          FROM documents WHERE doc_id < 300),
        x AS (
          SELECT doc_id, raw,
                 regexp_extract(raw, '[A-Za-z0-9_.]+@[A-Za-z0-9.]+', 0)
                   AS email
          FROM t)
        SELECT doc_id,
               'EML_' || substring(md5(email), 1, 8) AS token,
               right(regexp_replace(raw,
                 '[A-Za-z0-9_.]+@[A-Za-z0-9.]+',
                 'EML_' || substring(md5(email), 1, 8), 'g'), 40)
                 AS redacted_tail
        FROM x ORDER BY doc_id""")),

    // Heaps'-law vocabulary growth — text_zipf's companion: V(n) = K·n^β
    // (β ≈ 0.4-0.6 for natural text; a FLAT curve means template spam,
    // β near 1 means noise/IDs). Vocabulary unit = word BIGRAMS: the
    // synthetic unigram vocab is closed and saturates inside the first
    // checkpoint (a zero-variance curve — the vacuous-demo trap), while
    // the bigram space genuinely grows. Measured at 10 cumulative doc
    // checkpoints, fitted by the quantized ln-ln OLS (the zipf moment
    // discipline); degenerate flat curves surface beta/r2 = null, not
    // an ANSI division error. Relational trick: cumulative vocab needs
    // no ordered scan — a gram's FIRST-SEEN doc id is one map-combined
    // min, and V(c) is a count over it.
    Q(
      "text_heaps_law",
      (s, dir) => {
        val base = Tables.documents(s, dir)
          .select(col("doc_id"), split(col("text"), " ").as("t"))
          .select(col("doc_id"),
            explode(sequence(lit(1), size(col("t")) - 1)).as("i"),
            col("t"))
          .select(col("doc_id"),
            concat_ws(" ", element_at(col("t"), col("i")),
              element_at(col("t"), col("i") + 1)).as("term"))
        val firstSeen = base.groupBy("term")
          .agg(min("doc_id").as("fs"))
        val docTok = base.groupBy("doc_id").agg(count(lit(1)).as("nt"))
        val cps = docTok.crossJoin(broadcast(
            docTok.agg(max("doc_id").as("dmax"))))
          .select(col("doc_id"), col("nt"),
            explode(sequence(lit(1), lit(10))).as("k"))
          .filter(col("doc_id") * 10 <= col("k") * (col("dmax") + 1))
          .groupBy("k").agg(sum("nt").as("n_tokens"),
            max("doc_id").as("c"))
        val curve = cps.join(
          firstSeen.crossJoin(broadcast(cps.select("k", "c")))
            .filter(col("fs") <= col("c"))
            .groupBy("k").agg(count(lit(1)).as("vocab"))
            .withColumnRenamed("k", "k2"),
          col("k") === col("k2"))
          .select(col("k"), col("n_tokens"), col("vocab"),
            round(log(col("n_tokens").cast("double")) * 1e6)
              .cast("long").as("xq"),
            round(log(col("vocab").cast("double")) * 1e6)
              .cast("long").as("yq"))
        val d = (c: org.apache.spark.sql.Column) => c.cast("double")
        curve.agg(count(lit(1)).as("np"),
            max("n_tokens").as("total_tokens"),
            max("vocab").as("total_vocab"),
            sum("xq").as("sx"), sum("yq").as("sy"),
            sum(col("xq") * col("yq")).as("sxy"),
            sum(col("xq") * col("xq")).as("sxx"),
            sum(col("yq") * col("yq")).as("syy"))
          .select(col("np").as("n_checkpoints"), col("total_tokens"),
            col("total_vocab"),
            when(col("np") * col("sxx") - col("sx") * col("sx") === 0,
              lit(null)).otherwise(
              round((d(col("np")) * d(col("sxy")) -
                  d(col("sx")) * d(col("sy"))) /
                (d(col("np")) * d(col("sxx")) -
                  d(col("sx")) * d(col("sx"))), 4)).as("beta"),
            when(col("np") * col("sxx") - col("sx") * col("sx") === 0 ||
                col("np") * col("syy") - col("sy") * col("sy") === 0,
              lit(null)).otherwise(
              round((d(col("np")) * d(col("sxy")) -
                  d(col("sx")) * d(col("sy"))) *
                (d(col("np")) * d(col("sxy")) -
                  d(col("sx")) * d(col("sy"))) /
                ((d(col("np")) * d(col("sxx")) -
                  d(col("sx")) * d(col("sx"))) *
                 (d(col("np")) * d(col("syy")) -
                  d(col("sy")) * d(col("sy")))), 4)).as("r2"))
      },
      oracle = Some("""
        WITH tk AS (
          SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        toks AS (
          SELECT doc_id, t[i] || ' ' || t[i + 1] AS term
          FROM tk, LATERAL (SELECT unnest(generate_series(1,
            len(t) - 1)) AS i)),
        fs AS (SELECT term, min(doc_id) AS fs FROM toks GROUP BY 1),
        dt AS (SELECT doc_id, count(*) AS nt FROM toks GROUP BY 1),
        cps AS (
          SELECT k, CAST(sum(nt) AS BIGINT) AS n_tokens,
                 max(doc_id) AS c
          FROM dt
          CROSS JOIN (SELECT unnest(generate_series(1, 10)) AS k)
          WHERE doc_id * 10 <= k * ((SELECT max(doc_id) FROM dt) + 1)
          GROUP BY k),
        curve AS (
          SELECT p.k, p.n_tokens, v.vocab,
                 CAST(round(ln(CAST(p.n_tokens AS DOUBLE)) * 1e6)
                   AS BIGINT) AS xq,
                 CAST(round(ln(CAST(v.vocab AS DOUBLE)) * 1e6)
                   AS BIGINT) AS yq
          FROM cps p JOIN (
            SELECT p2.k, count(*) AS vocab
            FROM fs CROSS JOIN cps p2
            WHERE fs.fs <= p2.c GROUP BY 1) v ON v.k = p.k)
        SELECT count(*) AS n_checkpoints,
               CAST(max(n_tokens) AS BIGINT) AS total_tokens,
               CAST(max(vocab) AS BIGINT) AS total_vocab,
               CASE WHEN count(*) * sum(xq * xq) - sum(xq) * sum(xq)
                      = 0 THEN NULL
                 ELSE round((CAST(count(*) AS DOUBLE) * sum(xq * yq)
                     - CAST(sum(xq) AS DOUBLE) * sum(yq))
                   / (CAST(count(*) AS DOUBLE) * sum(xq * xq)
                     - CAST(sum(xq) AS DOUBLE) * sum(xq)), 4)
               END AS beta,
               CASE WHEN count(*) * sum(xq * xq) - sum(xq) * sum(xq)
                      = 0
                     OR count(*) * sum(yq * yq) - sum(yq) * sum(yq)
                      = 0 THEN NULL
                 ELSE round((CAST(count(*) AS DOUBLE) * sum(xq * yq)
                     - CAST(sum(xq) AS DOUBLE) * sum(yq))
                   * (CAST(count(*) AS DOUBLE) * sum(xq * yq)
                     - CAST(sum(xq) AS DOUBLE) * sum(yq))
                   / ((CAST(count(*) AS DOUBLE) * sum(xq * xq)
                       - CAST(sum(xq) AS DOUBLE) * sum(xq))
                     * (CAST(count(*) AS DOUBLE) * sum(yq * yq)
                       - CAST(sum(yq) AS DOUBLE) * sum(yq))), 4)
               END AS r2
        FROM curve""")),

    // Readability without sentence boundaries — the corpus has no
    // punctuation, so ASL-based formulas (Flesch-Kincaid) are degenerate
    // by construction; FORCAST (FORecast CASualty Technical manual study,
    // the published formula designed for non-prose text) needs only
    // monosyllable density: grade = 20 − (mono per 150 words)/10. Syllable
    // proxy = maximal [aeiouy]+ runs, identical regex in both engines.
    // Pure explode → map-combined per-source counts; the shuffle carries
    // |sources| rows of integers, never tokens. The only doubles are two
    // final divisions of exact integers — order-free, engine-identical.
    Q(
      "text_readability",
      (s, dir) => {
        val words = Tables.documents(s, dir)
          .select(col("source"), explode(split(col("text"), " ")).as("w"))
          .select(col("source"),
            size(regexp_extract_all(col("w"), lit("[aeiouy]+"), lit(0)))
              .cast("long").as("syl"))
        words.groupBy("source").agg(
          count(lit(1)).as("n_words"),
          sum(when(col("syl") === 1, 1L).otherwise(0L)).as("n_mono"),
          sum(when(col("syl") >= 3, 1L).otherwise(0L)).as("n_poly"),
          round(sum(col("syl")).cast("double") / count(lit(1)), 4)
            .as("syl_per_word"),
          round(lit(20.0) -
            lit(15.0) * sum(when(col("syl") === 1, 1L).otherwise(0L))
              / count(lit(1)), 4).as("forcast_grade"))
          .orderBy("source")
      },
      oracle = Some("""
        WITH w AS (
          SELECT source, unnest(string_split(text, ' ')) AS w
          FROM documents),
        s AS (
          SELECT source,
                 CAST(len(regexp_extract_all(w, '[aeiouy]+')) AS BIGINT)
                   AS syl
          FROM w)
        SELECT source,
               count(*) AS n_words,
               CAST(sum(CASE WHEN syl = 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_mono,
               CAST(sum(CASE WHEN syl >= 3 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_poly,
               round(CAST(sum(syl) AS DOUBLE) / count(*), 4)
                 AS syl_per_word,
               round(20.0 - 15.0
                 * CAST(sum(CASE WHEN syl = 1 THEN 1 ELSE 0 END) AS BIGINT)
                 / count(*), 4) AS forcast_grade
        FROM s GROUP BY source ORDER BY source""")),

    // Unigram-LM perplexity — the corpus-quality filter signal. Log-probs
    // quantized to 1e-6 fixed point make the per-doc score an exact
    // BIGINT sum (partitioning-independent), so the whole operator
    // hash-matches despite being "float" scoring; float math touches only
    // the one final exp per doc.
    Q(
      "text_perplexity",
      (s, dir) =>
        graft.api.Text.perplexity(
          Tables.documents(s, dir), col("doc_id"), col("text"))
          .withColumnRenamed("id", "doc_id")
          .orderBy("doc_id"),
      oracle = Some("""
        WITH toks AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS term
          FROM documents),
        tot AS (SELECT count(*) AS tot FROM toks),
        model AS (
          SELECT term,
                 CAST(round(ln(count(*) * 1.0 /
                   (SELECT tot FROM tot)) * 1e6, 0) AS BIGINT) AS lpq
          FROM toks GROUP BY term)
        SELECT doc_id, count(*) AS n_tokens,
               round(exp(-sum(lpq) / 1e6 / count(*)), 4) AS ppl
        FROM toks JOIN model USING (term)
        GROUP BY doc_id ORDER BY doc_id""")),

    // Interpolated bigram-LM perplexity — the CCNet-family quality
    // filter one order up from text_perplexity's unigram: P(w|prev) =
    // 0.75·c(prev,w)/c(prev) + 0.25·c(w)/T (Jelinek-Mercer smoothing;
    // the unigram backoff keeps every observed token scoreable). Scoring
    // starts at the second token (the first has no context). Exactness:
    // all counts are exact integers, each P is ONE fixed-structure
    // double expression, each ln quantized 1e-6 (the text_zipf
    // discipline) → per-doc integer sums, one exp. Scale: one shuffle
    // on doc_id for the lag window; context/unigram tables are
    // vocab-sized broadcasts, the bigram model joins on its gram key.
    Q(
      "text_perplexity_bigram",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        // Tokenize ONCE (checkpointed: the stream feeds both the bigram
        // window and the unigram model), attach the bigram-model counts
        // with two count-windows sharing ONE hash partitioning on prev
        // (HashPartitioning(prev) satisfies the (prev, term) window's
        // clustering by the subset rule), and fold the token total out
        // of the vocab-sized unigram table. The r16 shape re-tokenized
        // the corpus four times and shuffled the bigram stream twice
        // more through the groupBy + join-back on (prev, term) (r17).
        val toks = Cut(Tables.documents(s, dir)
          .select(col("doc_id"),
            posexplode(split(col("text"), " ")).as(Seq("pos", "term")))).df
        val w = Window.partitionBy("doc_id").orderBy("pos")
        val bg = toks
          .withColumn("prev", lag("term", 1).over(w))
          .filter(col("prev").isNotNull)
          .repartition(col("prev"))
        val wpt = Window.partitionBy("prev", "term")
        val wp = Window.partitionBy("prev")
        val uni = toks.groupBy("term").agg(count(lit(1)).as("cw"))
        val tot = uni.agg(sum("cw").as("tot"))
        bg.withColumn("cpw", count(lit(1)).over(wpt))
          .withColumn("cp", count(lit(1)).over(wp))
          .join(broadcast(uni), "term")
          .crossJoin(broadcast(tot))
          .withColumn("lpq",
            round(log(lit(0.75) * col("cpw") / col("cp") +
              lit(0.25) * col("cw") / col("tot")) * 1e6).cast("long"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_bigrams"),
            round(exp(-sum("lpq").cast("double") / 1e6 / count(lit(1))),
              4).as("ppl"))
          .orderBy("doc_id")
      },
      oracle = Some("""
        WITH toks AS (
          SELECT doc_id, i AS pos, t[i] AS term
          FROM (SELECT doc_id, string_split(text, ' ') AS t
                FROM documents),
               LATERAL (SELECT unnest(generate_series(1, len(t))) AS i)),
        bg AS (
          SELECT doc_id, term,
                 lag(term) OVER (PARTITION BY doc_id ORDER BY pos)
                   AS prev
          FROM toks QUALIFY prev IS NOT NULL),
        bmodel AS (
          SELECT prev, term, count(*) AS cpw FROM bg GROUP BY 1, 2),
        ctx AS (SELECT prev, count(*) AS cp FROM bg GROUP BY 1),
        uni AS (SELECT term, count(*) AS cw FROM toks GROUP BY 1),
        tot AS (SELECT count(*) AS tot FROM toks),
        scored AS (
          SELECT doc_id,
                 CAST(round(ln(0.75 * cpw / cp + 0.25 * cw / tot) * 1e6)
                   AS BIGINT) AS lpq
          FROM bg
          JOIN bmodel USING (prev, term)
          JOIN ctx USING (prev)
          JOIN uni USING (term)
          CROSS JOIN tot)
        SELECT doc_id, count(*) AS n_bigrams,
               round(exp(-CAST(sum(lpq) AS DOUBLE) / 1e6 / count(*)), 4)
                 AS ppl
        FROM scored GROUP BY 1 ORDER BY doc_id""")),

    // Keyword extraction: top-3 distinctive terms per document. The rank
    // is all-integer (tf desc, corpus df asc, term asc) so it cannot
    // flip across engines the way a float tf-idf tie can — the tf-idf
    // VALUES are text_tfidf's job; this op is the per-doc summary a
    // corpus browser actually shows. df broadcasts (vocab-sized).
    Q(
      "text_keywords",
      (s, dir) =>
        graft.api.Text.distinctiveTerms(
          Tables.documents(s, dir), col("doc_id"), col("text"), k = 3)
          .select(col("id").as("doc_id"), col("keywords"))
          .orderBy("doc_id"),
      oracle = Some("""
        WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                   FROM documents),
        tf AS (SELECT doc_id, term, count(*) AS cnt FROM t GROUP BY 1, 2),
        df AS (SELECT term, count(DISTINCT doc_id) AS df FROM t GROUP BY 1),
        r AS (SELECT doc_id, term,
                     row_number() OVER (PARTITION BY doc_id
                       ORDER BY cnt DESC, df ASC, term ASC) AS rn
              FROM tf JOIN df USING (term))
        SELECT doc_id, string_agg(term, ',' ORDER BY rn) AS keywords
        FROM r WHERE rn <= 3
        GROUP BY doc_id ORDER BY doc_id""")),

    // Collocation mining: top bigrams by pointwise mutual information —
    // pairs that co-occur far above chance, the classic phrase detector.
    // Counts (bigram, unigram, totals) are exact integers; PMI is one
    // shared-structure double expression; min count 5 kills the
    // rare-pair PMI explosion. Unigram/bigram count tables broadcast
    // (vocab-sized); the token stream is map-side exploded only.
    Q(
      "text_collocations",
      (s, dir) =>
        graft.api.Text.collocations(
            Tables.documents(s, dir), col("doc_id"), col("text"),
            minCount = 5)
          .orderBy(round(col("pmi"), 6).desc, col("w1"), col("w2"))
          .limit(15)
          .select(col("w1"), col("w2"), col("n_pair"),
            round(col("pmi"), 4).as("pmi")),
      oracle = Some("""
        WITH t AS (
          SELECT doc_id, string_split(text, ' ') AS ts FROM documents
          WHERE len(string_split(text, ' ')) >= 2),
        idx AS (
          SELECT ts, unnest(generate_series(1, len(ts) - 1)) AS i FROM t),
        bg AS (SELECT ts[i] AS w1, ts[i + 1] AS w2 FROM idx),
        cxy AS (SELECT w1, w2, count(*) AS c FROM bg GROUP BY 1, 2),
        nb AS (SELECT count(*) AS nb FROM bg),
        tok AS (SELECT unnest(ts) AS w FROM t),
        cw AS (SELECT w, count(*) AS cw FROM tok GROUP BY 1),
        mt AS (SELECT count(*) AS mt FROM tok),
        j AS (
          SELECT cxy.w1, cxy.w2, cxy.c,
                 ln((CAST(c AS DOUBLE) / nb) /
                    ((CAST(c1.cw AS DOUBLE) / mt) *
                     (CAST(c2.cw AS DOUBLE) / mt))) AS pmi
          FROM cxy
          JOIN cw c1 ON cxy.w1 = c1.w
          JOIN cw c2 ON cxy.w2 = c2.w
          CROSS JOIN nb CROSS JOIN mt
          WHERE c >= 5)
        SELECT w1, w2, c AS n_pair, round(pmi, 4) AS pmi
        FROM j
        ORDER BY round(pmi, 6) DESC, w1, w2 LIMIT 15""")),

    // Gopher-style quality rules (Rae et al. 2021 §A.1.1, public),
    // re-expressed as exact integer comparisons (cross-multiplied ratios)
    // so pass/fail can never flip across engines. Audited per source:
    // every rule is non-degenerate on the corpus (thresholds tuned to its
    // quantiles). Map-side-only per-row math; the only shuffle is the
    // 5-row source aggregate.
    Q(
      "text_gopher_quality",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        graft.api.Text.gopherQuality(docs, col("doc_id"), col("text"))
          .join(docs.select(col("doc_id").as("id"), col("source")), "id")
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("pass_words"), 1L).otherwise(0L)).as("p_words"),
            sum(when(col("pass_wordlen"), 1L).otherwise(0L)).as("p_wordlen"),
            sum(when(col("pass_stop"), 1L).otherwise(0L)).as("p_stop"),
            sum(when(col("pass_dup"), 1L).otherwise(0L)).as("p_dup"),
            sum(when(col("pass_all"), 1L).otherwise(0L)).as("p_all"))
          .orderBy("source")
      },
      oracle = Some("""
        WITH w AS (
          SELECT doc_id, source, string_split(text, ' ') AS ws,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS n,
                 CAST(length(replace(text, ' ', '')) AS BIGINT) AS sumlen
          FROM documents),
        r AS (
          SELECT doc_id, source, n,
                 n BETWEEN 30 AND 80 AS pw,
                 sumlen * 100 BETWEEN n * 430 AND n * 470 AS pl,
                 CAST(len(list_filter(ws, x -> x IN
                   ('the','a','of','to','and','in','is'))) AS BIGINT) * 20
                   >= n AS ps,
                 n < 2 OR
                 (n - 1 - CAST(len(list_distinct(list_transform(
                    generate_series(1, CAST(n AS INT) - 1),
                    i -> ws[i] || ' ' || ws[i + 1]))) AS BIGINT)) * 20
                   <= n - 1 AS pd
          FROM w)
        SELECT source, count(*) AS n_docs,
               CAST(count(*) FILTER (WHERE pw) AS BIGINT) AS p_words,
               CAST(count(*) FILTER (WHERE pl) AS BIGINT) AS p_wordlen,
               CAST(count(*) FILTER (WHERE ps) AS BIGINT) AS p_stop,
               CAST(count(*) FILTER (WHERE pd) AS BIGINT) AS p_dup,
               CAST(count(*) FILTER (WHERE pw AND pl AND ps AND pd)
                 AS BIGINT) AS p_all
        FROM r GROUP BY source ORDER BY source""")),

    // C4-style cross-document segment dedup audit: 10-word segments,
    // boilerplate = segment text present in >= 2 distinct docs. The global
    // segment table groups on md5(segment) — a 16-byte engine-portable
    // digest shuffle key — so the shuffle carries digests and counts,
    // never segment text. Output restricted to docs that DO carry
    // boilerplate (non-trivial rows only), ordered by id.
    Q(
      "text_segment_dedup",
      (s, dir) =>
        graft.api.Text.segmentDedup(
          Tables.documents(s, dir), col("doc_id"), col("text"),
          segWords = 10, minDocs = 2)
          .filter(col("n_boiler") > 0)
          .select(col("id").as("doc_id"), col("n_segments"),
            col("n_boiler"), col("n_tokens"), col("n_tokens_retained"))
          .orderBy("doc_id"),
      oracle = Some("""
        WITH w AS (
          SELECT doc_id, string_split(text, ' ') AS ws,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS n
          FROM documents),
        s AS (
          SELECT doc_id,
                 md5(array_to_string(
                   ws[CAST((i - 1) * 10 + 1 AS INT) : CAST(i * 10 AS INT)],
                   ' ')) AS k,
                 least(CAST(10 AS BIGINT), n - (i - 1) * 10) AS seg_len
          FROM w, unnest(generate_series(1, (n + 9) // 10)) AS t(i)),
        g AS (SELECT k, count(DISTINCT doc_id) AS nd FROM s GROUP BY k)
        SELECT doc_id, count(*) AS n_segments,
               CAST(count(*) FILTER (WHERE nd >= 2) AS BIGINT) AS n_boiler,
               CAST(sum(seg_len) AS BIGINT) AS n_tokens,
               CAST(coalesce(sum(seg_len) FILTER (WHERE nd < 2), 0)
                 AS BIGINT) AS n_tokens_retained
        FROM s JOIN g USING (k)
        GROUP BY doc_id
        HAVING count(*) FILTER (WHERE nd >= 2) > 0
        ORDER BY doc_id"""))
  ) ++ Seq(
    // N-gram NOVELTY — the curation signal dedup doesn't give: for each
    // document, the fraction of its distinct 8-gram shingles whose FIRST
    // corpus occurrence (min doc_id — ingestion order) is this document.
    // Low-novelty documents are recombinations of text the corpus
    // already has (templated spam, scraped mirrors, quote-heavy pages)
    // even when no single pair crosses a dedup threshold; data-mixing
    // passes weight sources by exactly this kind of marginal-new-content
    // measure. Scale shape: shingle instances explode map-side, the
    // first-occurrence frame is ONE hash-agg keyed by shingle (min is
    // map-side-combinable), and the join back is shingle-keyed — no
    // all-pairs anywhere, every shuffle is shingle- or doc-cardinality.
    // Counts are exact integers; per-source novelty is a single division
    // from two exact sums, replayed identically by the oracle.
    Q(
      "text_ngram_novelty",
      (s, dir) => {
        val w = Tables.documents(s, dir)
          .select(col("doc_id"), col("source"),
            split(col("text"), " ").as("ws"))
          .filter(size(col("ws")) >= 8)
        // ONE shuffle of the shingle stream (r17): hash-repartition on k
        // FIRST — HashPartitioning(k) satisfies the distinct's clustering
        // requirement by the subset rule, and the first-occurrence
        // window below reuses the same partitioning — where the r16
        // shape (distinct → groupBy(k) → join back on k) recomputed the
        // explode+distinct twice and shuffled it by k twice more.
        val byK = org.apache.spark.sql.expressions.Window.partitionBy("k")
        val sh = w
          .select(col("doc_id"), col("source"),
            explode(sequence(lit(1), size(col("ws")) - 7)).as("i"),
            col("ws"))
          .select(col("doc_id"), col("source"),
            md5(concat_ws(" ", slice(col("ws"), col("i"), lit(8)))).as("k"))
          .repartition(col("k"))
          .distinct()
        sh.withColumn("first_doc", min(col("doc_id")).over(byK))
          .groupBy("source")
          .agg(
            countDistinct(col("doc_id")).as("n_docs"),
            count(lit(1)).as("n_shingles"),
            sum(when(col("doc_id") === col("first_doc"), 1L).otherwise(0L))
              .as("n_novel"))
          .select(col("source"), col("n_docs"), col("n_shingles"),
            col("n_novel"),
            round(col("n_novel") / col("n_shingles").cast("double"), 6)
              .as("novelty"))
          .orderBy("source")
      },
      oracle = Some("""
        WITH w AS (
          SELECT doc_id, source, string_split(text, ' ') AS ws
          FROM documents
          WHERE len(string_split(text, ' ')) >= 8),
        sh AS (
          SELECT DISTINCT doc_id, source,
                 md5(array_to_string(
                   ws[CAST(i AS INT) : CAST(i + 7 AS INT)], ' ')) AS k
          FROM w, unnest(generate_series(1, len(ws) - 7)) AS t(i)),
        f AS (SELECT k, min(doc_id) AS first_doc FROM sh GROUP BY k)
        SELECT source,
               count(DISTINCT doc_id) AS n_docs,
               count(*) AS n_shingles,
               CAST(sum(CASE WHEN doc_id = first_doc THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_novel,
               round(sum(CASE WHEN doc_id = first_doc THEN 1 ELSE 0 END)
                     / CAST(count(*) AS DOUBLE), 6) AS novelty
        FROM sh JOIN f USING (k)
        GROUP BY source ORDER BY source""")),

    // Duplicate-n-gram COVERAGE — the document-level repetition damage
    // metric (popularized by large-corpus curation pipelines): for each
    // document, the fraction of its token POSITIONS covered by at least
    // one 5-gram that also appears in another document. Dedup asks "is
    // this doc a copy"; coverage asks "how much of this doc is copied
    // text", which is the right per-doc penalty for quote-stitched and
    // boilerplate-heavy pages that no pairwise threshold catches.
    // Coverage is the UNION of overlapping [p, p+4] spans, computed
    // relationally: duplicated shingles explode to their 5 positions and
    // a per-(doc, position) distinct collapses the overlap — exact set
    // semantics, no interval sweep, every shuffle keyed by shingle or
    // doc. All counts exact integers; per-source coverage is one
    // division from two exact sums.
    Q(
      "text_dup_ngram_coverage",
      (s, dir) => {
        val w = Tables.documents(s, dir)
          .select(col("doc_id"), col("source"),
            split(col("text"), " ").as("ws"))
          .filter(size(col("ws")) >= 5)
        // ONE shuffle of the n-gram stream (r17): repartition on k, then
        // detect duplicated shingles with a window min/max over the same
        // partitioning — a shingle appears in ≥2 distinct docs iff its
        // per-k min(doc) ≠ max(doc). The r16 shape (groupBy(k)
        // countDistinct → join back on k) recomputed the explode twice
        // and shuffled it by k twice. The position-union distinct then
        // repartitions by doc_id (subset rule again) so its aggregate
        // and the per-doc count share one exchange.
        val byK = org.apache.spark.sql.expressions.Window.partitionBy("k")
        val ng = w
          .select(col("doc_id"),
            explode(sequence(lit(1), size(col("ws")) - 4)).as("p"),
            col("ws"))
          .select(col("doc_id"), col("p"),
            md5(concat_ws(" ", slice(col("ws"), col("p"), lit(5)))).as("k"))
          .repartition(col("k"))
        val cov = ng
          .withColumn("dmin", min(col("doc_id")).over(byK))
          .withColumn("dmax", max(col("doc_id")).over(byK))
          .filter(col("dmin") =!= col("dmax"))
          .select(col("doc_id"),
            explode(sequence(col("p"), col("p") + 4)).as("pos"))
          .repartition(col("doc_id"))
          .distinct()
          .groupBy("doc_id").agg(count(lit(1)).as("covered"))
        w.select(col("doc_id"), col("source"),
            size(col("ws")).cast("long").as("ntok"))
          .join(cov, Seq("doc_id"), "left")
          .na.fill(0L, Seq("covered"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("covered")).as("covered_tokens"),
            sum(col("ntok")).as("total_tokens"),
            sum(when(col("covered") === 0L, 1L).otherwise(0L))
              .as("n_clean"))
          .select(col("source"), col("n_docs"), col("covered_tokens"),
            col("total_tokens"), col("n_clean"),
            round(col("covered_tokens") /
              col("total_tokens").cast("double"), 6).as("dup_coverage"))
          .orderBy("source")
      },
      oracle = Some("""
        WITH toks AS (
          SELECT doc_id, source, string_split(text, ' ') AS ws
          FROM documents
          WHERE len(string_split(text, ' ')) >= 5),
        ng AS (
          SELECT doc_id, CAST(i AS BIGINT) AS p,
                 md5(array_to_string(
                   ws[CAST(i AS INT) : CAST(i + 4 AS INT)], ' ')) AS k
          FROM toks, unnest(generate_series(1, len(ws) - 4)) AS t(i)),
        dup AS (
          SELECT k FROM (
            SELECT k, count(DISTINCT doc_id) AS nd FROM ng GROUP BY k)
          WHERE nd >= 2),
        cov AS (
          SELECT doc_id, count(*) AS covered FROM (
            SELECT DISTINCT ng.doc_id, ng.p + off AS pos
            FROM ng JOIN dup USING (k),
                 unnest(generate_series(0, 4)) AS o(off))
          GROUP BY doc_id),
        d AS (SELECT doc_id, source,
                     CAST(len(ws) AS BIGINT) AS ntok FROM toks)
        SELECT source, count(*) AS n_docs,
               CAST(sum(coalesce(covered, 0)) AS BIGINT) AS covered_tokens,
               CAST(sum(ntok) AS BIGINT) AS total_tokens,
               CAST(sum(CASE WHEN coalesce(covered, 0) = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_clean,
               round(sum(coalesce(covered, 0))
                     / CAST(sum(ntok) AS DOUBLE), 6) AS dup_coverage
        FROM d LEFT JOIN cov USING (doc_id)
        GROUP BY source ORDER BY source""")),

    // The counting step of one BPE training iteration: per-word corpus
    // frequencies, then adjacent character-pair counts weighted by word
    // frequency, top-20 merge candidates with a deterministic tie-break.
    // The pair expansion runs over the VOCABULARY (corpus collapses to
    // word counts first), so tokenizer statistics stay feasible at
    // 100 TB: the expensive shuffle is word-cardinality, the window is
    // alphabet²-cardinality. 82 distinct pairs on this corpus, 'er' on
    // top — the frequency ladder a real English-like corpus produces.
    Q(
      "text_bpe_pairs",
      (s, dir) =>
        graft.api.Text.bpePairStats(
          Tables.documents(s, dir), col("text"), topK = 20)
          .orderBy("rank"),
      oracle = Some("""
        WITH t AS (
          SELECT unnest(string_split(text, ' ')) AS w FROM documents),
        wf AS (SELECT w, count(*) AS c FROM t WHERE len(w) >= 2
               GROUP BY w),
        p AS (
          SELECT substring(w, CAST(i AS INT), 2) AS pair,
                 CAST(sum(c) AS BIGINT) AS n
          FROM wf, unnest(generate_series(1, len(w) - 1)) AS t2(i)
          GROUP BY 1),
        r AS (SELECT row_number() OVER (ORDER BY n DESC, pair) AS rank,
                     pair, n
              FROM p)
        SELECT rank, pair, n FROM r WHERE rank <= 20 ORDER BY rank""")),

    // FULL iterative BPE training — 8 greedy merge rounds, each recounting
    // pairs after the previous merge rewrites the vocabulary (the step
    // text_bpe_pairs only counts once). The merge table is the artifact a
    // tokenizer ships; the oracle REPLAYS THE WHOLE TRAINING LOOP unrolled
    // (the lloydCtes discipline): per round, the same pair count, the same
    // (n desc, l, r) winner, the same leftmost non-overlapping merge via a
    // literal replace over the US-separator symbol encoding. Every round is
    // vocab-sized distributed work + a 1-row driver collect — the
    // 100 TB-feasible tokenizer-training shape.
    Q(
      "text_bpe_train",
      (s, dir) =>
        graft.api.Text.bpeTrain(
          Tables.documents(s, dir), col("text"), rounds = 8)
          .orderBy("merge_round"),
      oracle = Some(s"""
        WITH ${bpeCtes(8)}
        ${(1 to 8).map(r =>
          s"SELECT $r AS merge_round, l AS lft, r AS rgt, l || r AS merged, n FROM t$r")
          .mkString("\n        UNION ALL ")}
        ORDER BY merge_round""")),

    // The trained tokenizer applied back to its corpus: per source, the
    // whitespace-token / character / BPE-token totals and BPE tokens per
    // 100 chars — the tokens-per-byte economics a curator reads before
    // mixing sources (a source that tokenizes badly costs more compute
    // per char of signal). The oracle re-trains the tokenizer (same
    // unrolled bpeCtes chain) and re-tokenizes — training AND inference
    // both replay. Vocab-sized join broadcasts; the corpus shuffles once
    // on (source, word).
    Q(
      "text_bpe_tokenize",
      (s, dir) =>
        graft.api.Text.bpeTokenStats(
          Tables.documents(s, dir), col("source"), col("text"), rounds = 8)
          .orderBy("grp"),
      oracle = Some(s"""
        WITH ${bpeCtes(8)},
        tokc AS (
          SELECT w, len(string_split(trim(seq, chr(31)),
                        chr(31) || chr(31))) AS tc
          FROM w8),
        gw AS (
          SELECT source AS grp, w, count(*) AS nw
          FROM (SELECT source, unnest(string_split(text, ' ')) AS w
                FROM documents)
          GROUP BY 1, 2)
        SELECT grp,
               CAST(sum(nw) AS BIGINT) AS n_tokens_ws,
               CAST(sum(nw * len(w)) AS BIGINT) AS n_chars,
               CAST(sum(nw * coalesce(tc, 1)) AS BIGINT) AS n_tokens_bpe,
               CAST(sum(nw * coalesce(tc, 1)) AS BIGINT) * 100
                 // CAST(sum(nw * len(w)) AS BIGINT) AS bpe_per_100chars
        FROM gw LEFT JOIN tokc USING (w)
        GROUP BY grp ORDER BY grp""")),

    // Vocabulary-coverage audit: top-k corpus vocab (ties broken
    // lexically → unique), then per-source OOV token counts and an
    // integer per-mille rate. k=20 against this corpus's 31-term
    // vocabulary so ~1/3 of token mass is genuinely OOV (292-360‰
    // across sources) — k=500 would cover everything and audit nothing.
    // The vocab broadcasts to the membership join, so the token stream
    // never shuffles for lookup; the only data-sized shuffle is the
    // term-frequency partial aggregate. All-BIGINT output — exact at
    // any parallelism. The DuckDB sums widen to HUGEINT, so the oracle
    // CASTs before the integer division (the round-5 gate lesson,
    // applied at authoring time).
    Q(
      "text_vocab_coverage",
      (s, dir) =>
        graft.api.Text.vocabCoverage(
          Tables.documents(s, dir), col("source"), col("text"),
          vocabSize = 20)
          .orderBy("grp"),
      oracle = Some("""
        WITH toks AS (
          SELECT source AS grp, unnest(string_split(text, ' ')) AS term
          FROM documents),
        vocab AS (
          SELECT term FROM (
            SELECT term, count(*) AS tf FROM toks
            GROUP BY term ORDER BY tf DESC, term LIMIT 20)),
        j AS (
          SELECT t.grp,
                 CASE WHEN v.term IS NULL THEN 1 ELSE 0 END AS oov
          FROM toks t LEFT JOIN vocab v ON t.term = v.term)
        SELECT grp, count(*) AS n_tokens,
               CAST(sum(oov) AS BIGINT) AS n_oov,
               (CAST(sum(oov) AS BIGINT) * 1000) // count(*)
                 AS oov_permille
        FROM j GROUP BY grp ORDER BY grp""")),

    // Source-pair contamination census: which feeds share verbatim
    // 10-word segments, and how many. 57 of the 190 possible source
    // pairs genuinely overlap at sf0.01 (planted near-dups + template
    // openers) — the matrix a curator reads before mixing feeds. The
    // join key is a 16-byte digest; fan-out per digest is ≤ C(20,2)
    // cells regardless of corpus size.
    Q(
      "contamination_matrix",
      (s, dir) =>
        graft.api.Text.contaminationMatrix(
          Tables.documents(s, dir), col("source"), col("text"),
          segWords = 10)
          .orderBy("src_a", "src_b"),
      oracle = Some("""
        WITH w AS (
          SELECT doc_id, source, string_split(text, ' ') AS ws,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS n
          FROM documents),
        s AS (
          SELECT DISTINCT source,
                 md5(array_to_string(
                   ws[CAST((i - 1) * 10 + 1 AS INT) : CAST(i * 10 AS INT)],
                   ' ')) AS k
          FROM w, unnest(generate_series(1, (n + 9) // 10)) AS t(i))
        SELECT a.source AS src_a, b.source AS src_b,
               count(DISTINCT a.k) AS n_shared_segments
        FROM s a JOIN s b ON a.k = b.k AND a.source < b.source
        GROUP BY 1, 2 ORDER BY 1, 2"""))
  )
}
