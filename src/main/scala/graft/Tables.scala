package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Schema-pinned readers for the driver-generated corpus
  * (/root/testdata/sf*, see TESTDATA.md / FIXTURES.md).
  *
  * Schemas are declared explicitly rather than inferred so that plans are
  * stable across scale factors and so the vectorized parquet reader gets an
  * exact projection to prune against. The reference repo declares only its
  * identity (reference README.md:1, "data-ingestion-service"); the concrete
  * data model is the driver corpus documented in FIXTURES.md.
  */
object Tables {

  private def st(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t, nullable = true) })

  val schemas: Map[String, StructType] = Map(
    "region" -> st("r_regionkey" -> IntegerType, "r_name" -> StringType),
    "nation" -> st(
      "n_nationkey" -> IntegerType,
      "n_name" -> StringType,
      "n_regionkey" -> IntegerType),
    "customer" -> st(
      "c_custkey" -> LongType,
      "c_name" -> StringType,
      "c_nationkey" -> IntegerType,
      "c_acctbal" -> DoubleType,
      "c_mktsegment" -> StringType),
    "supplier" -> st(
      "s_suppkey" -> LongType,
      "s_name" -> StringType,
      "s_nationkey" -> IntegerType,
      "s_acctbal" -> DoubleType),
    "part" -> st(
      "p_partkey" -> LongType,
      "p_name" -> StringType,
      "p_brand" -> StringType,
      "p_type" -> StringType,
      "p_size" -> IntegerType,
      "p_retailprice" -> DoubleType),
    "orders" -> st(
      "o_orderkey" -> LongType,
      "o_custkey" -> LongType,
      "o_orderstatus" -> StringType,
      "o_totalprice" -> DoubleType,
      "o_orderdate" -> TimestampType,
      "o_orderpriority" -> StringType),
    "lineitem" -> st(
      "l_orderkey" -> LongType,
      "l_partkey" -> LongType,
      "l_suppkey" -> LongType,
      "l_linenumber" -> IntegerType,
      "l_quantity" -> DoubleType,
      "l_extendedprice" -> DoubleType,
      "l_discount" -> DoubleType,
      "l_tax" -> DoubleType,
      "l_returnflag" -> StringType,
      "l_linestatus" -> StringType,
      "l_shipdate" -> TimestampType),
    "events" -> st(
      "event_id" -> LongType,
      "ts" -> TimestampType, // footer-dependent — see events() below
      "user_id" -> LongType,
      "event_type" -> StringType,
      "value" -> DoubleType,
      "props" -> StringType),
    "documents" -> st(
      "doc_id" -> LongType,
      "text" -> StringType,
      "lang" -> StringType,
      "source" -> StringType,
      "n_chars" -> LongType),
    "embeddings" -> st(
      "vec_id" -> LongType,
      "embedding" -> ArrayType(FloatType),
      "label" -> IntegerType)
  )

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    // Boundary contract, once per (JVM, dir, table): a pinned schema over
    // a footer that lost or renamed a column yields silent NULLs, not an
    // error — the column-level cousin of the events time-unit drift. One
    // cheap footer read certifies every pinned field still exists (type
    // compatibility stays the vectorized reader's job, which DOES throw).
    // The inference runs with nanosAsLong scoped ON so a TIMESTAMP(NANOS)
    // footer (a legal events variant) reaches the drift-guard message
    // instead of dying in schema inference with Spark's opaque
    // "Illegal Parquet type" error.
    Warm.value(s"tables_columns_$name", dir) {
      val actual = withNanosAsLong(spark) {
        spark.read.parquet(s"$dir/$name.parquet").schema.fieldNames.toSet
      }
      assertPinnedColumnsPresent(actual, schemas(name).fieldNames,
        s"$dir/$name.parquet")
    }
    spark.read.schema(schemas(name)).parquet(s"$dir/$name.parquet")
  }

  private val nanosKey = "spark.sql.legacy.parquet.nanosAsLong"

  /** Serializes every toggle of the shared-session nanosAsLong conf. The
    * scoped restore in [[withNanosAsLong]] and the set-and-leave in
    * [[tsFooterIsNanos]] both mutate one SparkSession conf; without the
    * lock, an interleaved scope could capture a stale prior and its
    * finally-restore would clobber the persistent set a NANOS corpus
    * relies on at execution time (ADVICE r10).
    */
  private val nanosConfLock = new Object

  /** Run `body` with spark.sql.legacy.parquet.nanosAsLong=true, restoring
    * the prior setting after. The flag changes schema INFERENCE only (a
    * NANOS column infers as LongType instead of erroring); inference is
    * eager inside `body`, so scoping is safe — unlike execution-time
    * confs, nothing lazy escapes the scope. Holds [[nanosConfLock]] for
    * the whole scope so the restore can never clobber a concurrent
    * persistent set.
    */
  private def withNanosAsLong[T](spark: SparkSession)(body: => T): T =
    nanosConfLock.synchronized {
      Session.withConf(spark, nanosKey -> "true")(body)
    }

  /** Package-visible core of the column-presence contract (the drift spec
    * exercises the rejection path directly).
    */
  private[graft] def assertPinnedColumnsPresent(
      actual: Set[String], pinned: Seq[String], where: String): Unit = {
    val missing = pinned.filterNot(actual)
    require(missing.isEmpty,
      s"$where footer lacks pinned column(s) ${missing.mkString(", ")} " +
        s"(footer has: ${actual.mkString(", ")}) — the fixture schema " +
        "drifted; refusing to serve silent NULLs.")
  }

  /** The driver has shipped events.ts with two different parquet footers
    * across corpus regenerations: TIMESTAMP(NANOS) (no Spark 4 type — must
    * be read as raw nanos via legacy nanosAsLong and floor-divided to µs,
    * matching DuckDB's ns→µs truncation) and TIMESTAMP(MICROS,
    * isAdjustedToUTC=false) (reads directly as TimestampType; with the
    * UTC session timezone both engines see identical instants). Sniff the
    * footer once per directory and pick the matching read path, so a
    * corpus regeneration never silently rescales event time again.
    */
  private def tsFooterIsNanos(spark: SparkSession, dir: String): Boolean =
    Warm.value("tables_events_footer_nanos", dir) {
      // Sniff with nanosAsLong ON: a NANOS footer infers ts as LongType;
      // MICROS/MILLIS footers infer a timestamp type — that distinction
      // is the sniff. The scope restores the session's inference
      // behavior for unrelated reads. NANOS path: set-and-LEAVE — unlike
      // inference, the events SCAN resolves the footer at execution
      // time, which may be long after this sniff returns, so the flag
      // must outlive the scope. The whole sniff-then-decide runs under
      // nanosConfLock so no concurrent scoped restore can interleave
      // with the persistent set (ADVICE r10).
      nanosConfLock.synchronized {
        val isNanos = Session.withConf(spark, nanosKey -> "true") {
          spark.read.parquet(s"$dir/events.parquet")
            .schema("ts").dataType == LongType
        }
        if (isNanos) Session.keepForScans(spark, nanosKey, "true")
        isNanos
      }
    }

  private def eventsRaw(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{timestamp_micros, expr}
    val df =
      if (tsFooterIsNanos(spark, dir)) {
        val nanosSchema = StructType(schemas("events").map {
          case f if f.name == "ts" => f.copy(dataType = LongType)
          case f => f
        })
        spark.read.schema(nanosSchema).parquet(s"$dir/events.parquet")
          .withColumn("ts", timestamp_micros(expr("ts div 1000")))
      } else apply(spark, dir, "events")
    // Boundary validation, once per (JVM, dir): a decoded time domain
    // outside any plausible event horizon means the fixture's time unit
    // drifted under us — fail the FIRST read loudly instead of shipping
    // silently-rescaled event time to every downstream operator (round-8
    // post-mortem: a µs footer read as ns compressed 30 days into 43
    // minutes and 28 oracle rows went red without one assertion firing).
    Warm.value("tables_events_ts_sane", dir) {
      assertEventTimeSane(df, s"$dir/events.parquet")
    }
    df
  }

  /** Require the decoded `ts` domain to land in a plausible window
    * (year 2000–2100). One narrow min/max column scan; cached per dir by
    * the caller. Package-visible so the drift spec can exercise the
    * rejection path directly.
    */
  private[graft] def assertEventTimeSane(df: DataFrame, where: String): Unit = {
    import org.apache.spark.sql.functions.{min, max, col}
    val r = df.agg(min(col("ts")), max(col("ts"))).head()
    if (!r.isNullAt(0)) {
      val utc = java.time.ZoneOffset.UTC
      val lo = r.getTimestamp(0).toInstant.atZone(utc).getYear
      val hi = r.getTimestamp(1).toInstant.atZone(utc).getYear
      require(lo >= 2000 && hi <= 2100,
        s"events.ts decoded to years [$lo, $hi] at $where — outside the " +
          "plausible event horizon [2000, 2100]; the parquet footer's time " +
          "unit has probably drifted (ns vs µs). Refusing to serve " +
          "rescaled event time.")
    }
  }

  def region(s: SparkSession, d: String): DataFrame = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = apply(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame = eventsRaw(s, d)
  def documents(s: SparkSession, d: String): DataFrame = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")
}
