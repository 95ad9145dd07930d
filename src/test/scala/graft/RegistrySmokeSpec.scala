package graft

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

/** Every declared query must run end-to-end on sf0.001 and the flagship
  * entry must return rows (the driver's t1 smoke, run locally).
  */
class RegistrySmokeSpec extends AnyFunSuite with SparkFixture {

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("registry keys are unique and oracle keys are a subset") {
    val keys = SparkEntry.queries.keySet
    assert(SparkEntry.oracleSql.keySet.subsetOf(keys))
    assert(keys.size == SparkEntry.allQueries.size)
  }

  /** A row as a comparable value, with Row's equality: binary values by
    * content and NaN equal to NaN. Doubles compare exactly.
    */
  private def comparable(v: Any): Any = v match {
    case d: Double if d.isNaN => "NaN"
    case f: Float if f.isNaN => "NaN"
    case b: Array[Byte] => b.toSeq
    case r: Row => r.toSeq.map(comparable)
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => comparable(k) -> comparable(x) }
    case s: scala.collection.Seq[_] => s.map(comparable)
    case x => x
  }

  SparkEntry.allQueries.foreach { q =>
    test(s"${q.name} runs on sf0.001") {
      val df = q.run(spark, sf0001)
      assert(df.columns.nonEmpty)
      // Deterministic smoke: the query must execute without throwing.
      val n = df.count()
      assert(n >= 0)
      // The registry funnel (SparkEntry.funnel) may run the whole frame
      // as one task, or its final sort in one partition; either way it
      // must keep the rows, and their order where the key sorts. A frame
      // the one-task plan takes must run with no shuffle at all. Stream
      // and sink keys are skipped: they cannot run twice.
      if (!q.name.startsWith("stream_") && !q.name.startsWith("sink_")) {
        val raw = df.collect().toSeq.map(comparable)
        val funneled = SparkEntry.funnel(df)
        val got = funneled.collect().toSeq.map(comparable)
        if (SparkEntry.rootSort(df.queryExecution.analyzed).nonEmpty)
          assert(got == raw, s"${q.name}: funnel rows differ from q.run's " +
            s"at row ${got.zip(raw).indexWhere { case (a, b) => a != b }} " +
            s"(${got.size} vs ${raw.size} rows)")
        else
          assert(got.groupBy(identity).view.mapValues(_.size).toMap ==
            raw.groupBy(identity).view.mapValues(_.size).toMap,
            s"${q.name}: funnel rows differ from q.run's as a multiset " +
              s"(${got.size} vs ${raw.size} rows)")
        if (SparkEntry.oneTask(df).isRight) {
          val p = funneled.queryExecution.executedPlan
          assert(Bench.planClass(p).startsWith("e0"),
            s"${q.name}: the one-task plan still shuffles:\n$p")
        }
      }
    }
  }
}
