package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Boundary validation for fixture drift (VERDICT r8 task 2): the driver
  * regenerates /root/testdata between rounds and has already changed the
  * events.ts parquet footer once (ns → µs). Tables.events must (a) decode
  * the CURRENT fixture into a plausible event horizon and (b) reject a
  * mis-unit'd decode loudly — the round-8 failure mode was 28 silently-red
  * oracle rows because no assertion fired.
  */
class FixtureSanitySpec extends AnyFunSuite with SparkFixture {

  test("events decodes into a plausible event horizon on every sf") {
    Seq(sf0001, sf001).foreach { dir =>
      val r = Tables.events(spark, dir)
        .agg(min(col("ts")).as("lo"), max(col("ts")).as("hi")).head()
      val y0 = r.getTimestamp(0).toInstant
        .atZone(java.time.ZoneOffset.UTC).getYear
      val y1 = r.getTimestamp(1).toInstant
        .atZone(java.time.ZoneOffset.UTC).getYear
      assert(y0 >= 2000 && y1 <= 2100, s"implausible years [$y0,$y1] in $dir")
    }
  }

  test("a deliberately mis-unit'd decode fails the boundary guard") {
    // Replays the exact round-8 defect: treat µs as ns (÷1000) — all of
    // 2024 collapses into 1970-01-19 and the guard must refuse it.
    val wrong = Tables.events(spark, sf0001)
      .withColumn("ts", timestamp_micros(expr("unix_micros(ts) div 1000")))
    val ex = intercept[IllegalArgumentException] {
      Tables.assertEventTimeSane(wrong, "FixtureSanitySpec")
    }
    assert(ex.getMessage.contains("plausible event horizon"))
  }

  test("the inverse drift (µs read as ms, 1000x inflation) also fails") {
    val wrong = Tables.events(spark, sf0001)
      .withColumn("ts", timestamp_micros(expr("unix_micros(ts) * 1000")))
    intercept[IllegalArgumentException] {
      Tables.assertEventTimeSane(wrong, "FixtureSanitySpec")
    }
  }

  test("every pinned table's columns are present in its footer") {
    // Exercises the column-presence contract on the REAL corpus: reading
    // any table through Tables trips the cached footer check; a rename or
    // drop in a regenerated fixture fails here instead of yielding NULLs.
    Tables.schemas.keys.foreach { t =>
      assert(Tables(spark, sf001, t).columns.nonEmpty)
    }
  }

  test("a failing fixture guard throws on every read, not just the first") {
    // The guards are Warm entries; a build that throws leaves its cell
    // empty, so a drifted fixture cannot pass on a second read.
    val dir = java.nio.file.Files.createTempDirectory("fixture-guard").toString
    Tables.region(spark, sf0001).drop("r_name")
      .write.parquet(s"$dir/region.parquet")
    Tables.events(spark, sf0001).limit(3)
      .withColumn("ts", timestamp_micros(expr("unix_micros(ts) div 1000")))
      .write.parquet(s"$dir/events.parquet")
    (1 to 2).foreach { _ =>
      val cols = intercept[IllegalArgumentException](Tables.region(spark, dir))
      assert(cols.getMessage.contains("r_name"))
      val ts = intercept[IllegalArgumentException](Tables.events(spark, dir))
      assert(ts.getMessage.contains("plausible event horizon"))
    }
  }

  test("a footer missing a pinned column is rejected, not NULL-padded") {
    val ex = intercept[IllegalArgumentException] {
      Tables.assertPinnedColumnsPresent(
        Set("doc_id", "text"), Seq("doc_id", "text", "lang"), "spec")
    }
    assert(ex.getMessage.contains("lang"))
  }
}
