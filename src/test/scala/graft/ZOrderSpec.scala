package graft

import graft.functions.ZOrderCode
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The Z-order (Morton) clustering layout: interleave correctness against
  * a bit-by-bit reference, the codegen Column path, and the actual
  * row-group pruning effect — a 2-D-clustered layout serves box filters
  * on EITHER dimension with most of the table skipped, where a
  * single-column sort only prunes its own column.
  */
class ZOrderSpec extends AnyFunSuite with SparkFixture {

  private def referenceInterleave(a: Long, b: Long): Long = {
    var z = 0L
    var i = 0
    while (i < 31) {
      z |= ((a >> i) & 1L) << (2 * i)
      z |= ((b >> i) & 1L) << (2 * i + 1)
      i += 1
    }
    z
  }

  test("interleave matches the bit-by-bit reference") {
    val rnd = new scala.util.Random(7)
    (0 until 2000).foreach { _ =>
      val a = rnd.nextLong() & 0x7FFFFFFFL
      val b = rnd.nextLong() & 0x7FFFFFFFL
      assert(ZOrderCode.interleave(a, b) == referenceInterleave(a, b),
        s"a=$a b=$b")
    }
    // Hand-checked corners + clamping of out-of-range inputs.
    assert(ZOrderCode.interleave(1, 0) == 1L)
    assert(ZOrderCode.interleave(0, 1) == 2L)
    assert(ZOrderCode.interleave(3, 3) == 15L)
    assert(ZOrderCode.interleave(-5, 0) == 0L)
    assert(ZOrderCode.interleave(Long.MaxValue, 0) ==
      referenceInterleave((1L << 31) - 1, 0))
  }

  test("codegen Column path equals the Scala helper") {
    val sp = spark
    import sp.implicits._
    val df = (0 until 500).map(i => (i.toLong * 37 % 1000, i.toLong * 91 % 1000))
      .toDF("x", "y")
    val got = df.select(col("x"), col("y"),
      ZOrderCode(col("x"), col("y")).as("z")).collect()
    got.foreach { r =>
      assert(r.getLong(2) == ZOrderCode.interleave(r.getLong(0), r.getLong(1)))
    }
  }

  private def rowsScanned(df: DataFrame): Long = {
    df.collect()
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case s: FileSourceScanExec => Seq(s)
      case other => other.children.flatMap(scans)
    }
    scans(df.queryExecution.executedPlan)
      .map(_.metrics("numOutputRows").value).sum
  }

  test("z-layout prunes box filters on either dimension; y-sort cannot prune x") {
    val sp = spark
    import sp.implicits._
    // 256×256 grid; 16 range-partitioned files of 4096 rows = aligned
    // 64×64 Morton tiles, one parquet row group each.
    val grid = sp.range(65536).select(
      (col("id") % 256).as("x"), (col("id") / 256).cast("long").as("y"))
    val zDir = Scratch.fresh("zorder_spec_z")
    grid.withColumn("z", ZOrderCode(col("x"), col("y")))
      .repartitionByRange(16, col("z")).sortWithinPartitions("z")
      .drop("z").write.mode("overwrite").parquet(zDir)
    val yDir = Scratch.fresh("zorder_spec_y")
    grid.repartitionByRange(16, col("y")).sortWithinPartitions("y")
      .write.mode("overwrite").parquet(yDir)

    val zOnX = rowsScanned(
      sp.read.parquet(zDir).filter(col("x").between(0, 15)))
    val zOnY = rowsScanned(
      sp.read.parquet(zDir).filter(col("y").between(0, 15)))
    val yOnX = rowsScanned(
      sp.read.parquet(yDir).filter(col("x").between(0, 15)))
    // Morton tiles: an x (or y) stripe touches only the 4 tiles in its
    // column (row) of the 4×4 tile grid → ~16384 rows of 65536, plus
    // slack for sampled repartitionByRange boundaries straddling tiles.
    assert(zOnX <= 26000, s"z-layout scanned $zOnX rows for the x-box")
    assert(zOnY <= 26000, s"z-layout scanned $zOnY rows for the y-box")
    // The single-column layout has no x locality: every row group's x
    // range covers the whole domain, nothing is pruned.
    assert(yOnX >= 60000, s"y-sorted layout scanned $yOnX (expected ~all)")
  }

  test("registry query matches the raw-table result (layout preserves data)") {
    val raw = Tables.lineitem(spark, sf0001)
      .filter(col("l_partkey").between(50, 150) &&
        col("l_suppkey").between(3, 8))
      .select("l_orderkey", "l_linenumber").collect().map(_.toSeq).toSet
    val viaLayout = SparkEntry.queries("scan_zorder_pruned")(spark, sf0001)
      .select("l_orderkey", "l_linenumber").collect().map(_.toSeq).toSet
    assert(raw == viaLayout && raw.nonEmpty)
  }

  test("each fixture keeps its own layout copies: building sf0.01's after " +
    "sf0.001's leaves sf0.001's rows in place") {
    import graft.operators.LayoutCache
    val rows = Tables.lineitem(spark, sf0001).count()
    val zorder = LayoutCache.zorderedLineitem(spark, sf0001)
    val part = LayoutCache.partitionedLineitem(spark, sf0001)
    val (bucketed, _) = LayoutCache.bucketedTables(spark, sf0001)
    LayoutCache.zorderedLineitem(spark, sf001)
    LayoutCache.partitionedLineitem(spark, sf001)
    LayoutCache.bucketedTables(spark, sf001)
    assert(Tables.lineitem(spark, sf001).count() != rows)
    assert(spark.read.parquet(zorder).count() == rows)
    assert(spark.read.parquet(part).count() == rows)
    assert(spark.table(bucketed).count() == rows)
  }
}
