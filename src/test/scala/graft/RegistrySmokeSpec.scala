package graft

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

  SparkEntry.allQueries.foreach { q =>
    test(s"${q.name} runs on sf0.001") {
      val df = q.run(spark, sf0001)
      assert(df.columns.nonEmpty)
      // Deterministic smoke: the query must execute without throwing.
      val n = df.count()
      assert(n >= 0)
      // The registry funnel may sort in one partition instead of through
      // a range exchange (SparkEntry.oneTaskFinalSort); an oracle-bearing
      // sorted result must keep its rows and their order. Stream and sink
      // keys are skipped: they cannot run twice.
      if (q.oracle.nonEmpty && !q.name.startsWith("stream_") &&
        !q.name.startsWith("sink_") &&
        SparkEntry.rootSort(df.queryExecution.analyzed).nonEmpty) {
        val raw = df.collect().toSeq
        val funnel = SparkEntry.queries(q.name)(spark, sf0001).collect().toSeq
        assert(funnel == raw, s"${q.name}: registry rows differ from q.run's " +
          s"at row ${funnel.zip(raw).indexWhere { case (a, b) => a != b }} " +
          s"(${funnel.size} vs ${raw.size} rows)")
      }
    }
  }
}
