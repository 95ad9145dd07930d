package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-14 regression pins for the r13 ADVICE findings: sink-state
  * Markov chains, empty-text char entropy, non-UnsafeRow children under
  * the TopKPerGroup physical operator, and sign-safe A/B hashing.
  */
class Round14Spec extends AnyFunSuite with SparkFixture {

  test("agg_markov_stationary: sink-only state neither crashes nor leaks into output") {
    val sp = spark
    import sp.implicits._
    import java.sql.Timestamp
    // 'z' appears ONLY as a transition target (last event, no successor):
    // rowSum(z) = 0. Pre-fix this divided by zero on the driver; the
    // DuckDB oracle's inner join on rs silently dropped the row. The
    // aligned semantics: zero outgoing mass for sinks (absorbed, as the
    // oracle's step CTE does) and no output row for them.
    val ev = Seq(
      (1L, Timestamp.valueOf("2024-01-05 10:00:00"), 1L, "a", 1.0, "{}"),
      (2L, Timestamp.valueOf("2024-01-05 10:01:00"), 1L, "a", 1.0, "{}"),
      (3L, Timestamp.valueOf("2024-01-05 10:02:00"), 1L, "z", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = graft.Scratch.fresh("markov_sink_spec")
    ev.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = SparkEntry.queries("agg_markov_stationary")(sp, dir).collect()
    assert(out.length == 1, out.mkString("; "))
    val r = out(0)
    assert(r.getString(0) == "a")
    assert(r.getLong(1) == 2L) // pairs (a,a) and (a,z)
    // p(a,a) = p(a,z) = 5000 pm; x starts 5000/5000, each round halves
    // the 'a' mass: 5000 -> 2500 -> 1250 -> 625 -> 312 (floor).
    assert(r.getLong(2) == 312L, r.toString)
  }

  test("text_char_entropy: zero-length text contributes no phantom chars") {
    val sp = spark
    import sp.implicits._
    // Spark's sequence(1, length('')) = [1, 0] (counts DOWN), so an
    // unguarded explode minted two empty-string char rows per empty doc
    // while DuckDB's generate_series(1, 0) minted none.
    val docs = Seq(
      (1L, "", "en", "s1", 0L),
      (2L, "ab", "en", "s1", 2L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = graft.Scratch.fresh("char_entropy_spec")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("text_char_entropy")(sp, dir).collect()
    assert(out.length == 1)
    val r = out(0)
    assert(r.getString(0) == "s1")
    assert(r.getLong(1) == 2L, s"phantom chars counted: $r")
    assert(r.getLong(2) == 2L, r.toString)
    // counts a:1, b:1 -> H = q(ln 2) = round(0.6931471805599453e6)
    assert(r.getLong(3) == 693147L, r.toString)
  }

  test("TopKPerGroupExec accepts non-UnsafeRow children (GenericInternalRow)") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{Ascending, AttributeReference, GenericInternalRow, NullsFirst, SortOrder}
    import org.apache.spark.sql.types.IntegerType
    val sp = spark
    sp.sparkContext.setJobGroup("r14-topk-generic", "generic-row child")
    val gAttr = AttributeReference("g", IntegerType, nullable = false)()
    val vAttr = AttributeReference("v", IntegerType, nullable = false)()
    // A leaf that emits GenericInternalRow — legal for any SparkPlan
    // child (UnsafeRow is NOT a contract of execute()); pre-fix the heap
    // pass cast every input row to UnsafeRow and threw CCE here.
    val child = GenericRowsForTest(Seq(gAttr, vAttr), 12)
    val exec = graft.plans.TopKPerGroupExec(
      Seq(gAttr),
      Seq(SortOrder(vAttr, Ascending, NullsFirst, Seq.empty)),
      k = 2, partial = true, child)
    val rows = exec.execute().collect()
    // 12 values over 3 groups (g = i % 3), two input partitions; the
    // partial pass keeps <= k per (partition, group) and every kept row
    // must be the per-partition minimum pair for its group.
    assert(rows.nonEmpty && rows.length <= 2 * 3 * 2, rows.length.toString)
    val byGroup = rows.groupBy(_.getInt(0))
    assert(byGroup.keySet == Set(0, 1, 2))
    byGroup.foreach { case (g, rs) =>
      rs.foreach(r => assert(r.getInt(1) % 3 == g))
    }
  }

  test("sample_ab_assign: user_id past 2^31 routes without overflow") {
    val sp = spark
    import sp.implicits._
    import java.sql.Timestamp
    // Raw 4e9 * 2654435761 overflows Long (ANSI Spark threw
    // ArithmeticException pre-fix); the mod-prime pre-reduction keeps
    // the product in range and routes by the true residue.
    val bigId = 4000000000L
    assert(BigInt(bigId) * BigInt(2654435761L) > BigInt(Long.MaxValue),
      "fixture no longer exercises the overflow")
    val residue = ((bigId % 1000000007L) * 2654435761L) % 1000L
    val expectArm = if (residue < 500L) "A" else "B"
    val ev = Seq(
      (1L, Timestamp.valueOf("2024-01-05 10:00:00"), bigId, "buy", 1.0, "{}"),
      (2L, Timestamp.valueOf("2024-01-05 10:01:00"), 2L, "view", 1.0, "{}"),
      (3L, Timestamp.valueOf("2024-01-05 10:02:00"), 3L, "view", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = graft.Scratch.fresh("ab_assign_wrap_spec")
    ev.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = SparkEntry.queries("sample_ab_assign")(sp, dir)
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    // the one 'buy' event belongs to bigId; its arm must carry n_buys=1
    assert(out.getOrElse(expectArm, 0L) == 1L,
      s"expected buy on arm $expectArm (residue $residue), got $out")
  }
}

/** Test-only leaf plan emitting GenericInternalRow across 2 partitions. */
case class GenericRowsForTest(
    override val output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute],
    n: Int)
  extends org.apache.spark.sql.execution.LeafExecNode {
  import org.apache.spark.rdd.RDD
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
  override protected def doExecute(): RDD[InternalRow] =
    sparkContext.parallelize(0 until n, 2).map { i =>
      new GenericInternalRow(Array[Any](i % 3, i)): InternalRow
    }
}
