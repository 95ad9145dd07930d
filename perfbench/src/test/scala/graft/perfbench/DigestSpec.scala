package graft.perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DigestSpec extends AnyFunSuite {

  private lazy val spark = {
    val s = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "3")
      .config("spark.ui.enabled", "false").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Rows with every shape the digest handles: doubles, strings, nulls,
    * arrays, maps, structs and decimals, with duplicate rows.
    */
  private def frame = spark.range(0, 500).select(
    col("id"),
    (col("id") / 7.0).as("d"),
    when(col("id") % 5 === 0, lit(null)).otherwise(concat(lit("s"), col("id")))
      .as("s"),
    array(col("id"), col("id") * 2).as("a"),
    map(lit("k"), col("id") % 3, lit("j"), col("id") % 4).as("m"),
    struct((col("id") % 11).as("x"), (col("id") * 0.1).as("y")).as("st"),
    (col("id") % 13).cast("decimal(10,2)").as("dec"))
    .union(spark.range(0, 20).select(
      col("id"), (col("id") / 7.0).as("d"),
      when(col("id") % 5 === 0, lit(null)).otherwise(concat(lit("s"), col("id"))),
      array(col("id"), col("id") * 2),
      map(lit("k"), col("id") % 3, lit("j"), col("id") % 4),
      struct((col("id") % 11).as("x"), (col("id") * 0.1).as("y")),
      (col("id") % 13).cast("decimal(10,2)")))

  test("digest is independent of row order and partitioning") {
    val base = Digest.of(frame)
    assert(base.rows == 520)
    assert(Digest.of(frame.orderBy(desc("id"))) == base)
    assert(Digest.of(frame.repartition(7)) == base)
    assert(Digest.of(frame.coalesce(1)) == base)
    assert(Digest.of(frame.repartition(5, col("s")).sortWithinPartitions("d")) == base)
  }

  test("digest changes when content changes") {
    val base = Digest.of(frame)
    assert(Digest.of(frame.withColumn("d", col("d") + 1e-3)) != base)
    assert(Digest.of(frame.filter(col("id") =!= 3)) != base)
    assert(Digest.of(frame.union(frame.limit(1))) != base)
    assert(Digest.of(frame.withColumn("a", reverse(col("a")))) != base)
  }

  test("doubles are compared at eight significant digits") {
    val base = Digest.of(frame)
    assert(Digest.of(frame.withColumn("d", col("d") * (1.0 + 1e-12))) == base)
    assert(Digest.of(frame.withColumn("d", col("d") * (1.0 + 1e-5))) != base)
    assert(Digest.roundDouble(-0.0) == Digest.roundDouble(0.0))
    assert(Digest.roundDouble(9.9999999999) == Digest.roundDouble(10.000000001))
    assert(Digest.roundDouble(0.1 + 0.2) == Digest.roundDouble(0.3))
  }

  test("map entry order does not matter") {
    val a = spark.range(0, 10).select(map(lit("x"), col("id"), lit("y"), lit(1L)).as("m"))
    val b = spark.range(0, 10).select(map(lit("y"), lit(1L), lit("x"), col("id")).as("m"))
    assert(Digest.of(a) == Digest.of(b))
  }
}
