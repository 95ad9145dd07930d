package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-17 regression pins: the engine-portable integer quantization in
  * contamination_embedding (ADVICE r16) and the grid-blocked dbscan
  * oracle (VERDICT r16 task 2). The connected-components convergence
  * pins live in GraphSpec.
  */
class Round17Spec extends AnyFunSuite with SparkFixture {

  test("contamination_embedding quantizes thresholds/tie-breaks via " +
    "floor(cos*1e6+0.5), not round(cos, 6) (ADVICE r16: Spark decimal-" +
    "string HALF_UP vs DuckDB binary round diverge on half boundaries; " +
    "floor over IEEE arithmetic is engine-portable by construction)") {
    val sql = SparkEntry.oracleSql("contamination_embedding")
    assert(sql.contains("floor(list_dot_product"),
      "oracle must quantize the cosine with floor-based integer units")
    assert(!sql.contains("round(list_dot_product"),
      "no round()-convention quantization may remain on the threshold " +
        "path — max_cos (round(max(cosr), 4)) is the only round, " +
        "single-rounded from the raw double")
    assert(sql.contains("round(max(cosr), 4)"),
      "the reported max_cos stays single-rounded from the raw cosine")
  }

  test("ml_dbscan_grid oracle generates candidates by 3x3 grid-cell " +
    "blocking, never all-pairs (VERDICT r16 task 2: the all-pairs CTE " +
    "blew the sf0.1 attestation budget)") {
    val sql = SparkEntry.oracleSql("ml_dbscan_grid")
    assert(sql.contains("// eps AS cx"), "cell index derivation missing")
    assert(sql.contains("range(-1, 2)"), "3x3 offset cross missing")
    assert(!sql.contains("FROM p a, p b"),
      "all-pairs candidate join must not come back")
  }
}
