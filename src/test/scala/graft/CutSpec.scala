package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The lineage cut ([[Cut]]): one job, the row count of that job, a leaf
  * that keeps the origin's statistics and layout under fresh attribute
  * ids, and no other caller of `localCheckpoint` in the engine.
  */
class CutSpec extends AnyFunSuite with SparkFixture
    with AdaptiveSparkPlanHelper {

  private def frame(n: Int): DataFrame =
    spark.range(0, n, 1, 4).select((col("id") % 7).as("k"), col("id"))

  test("a cut runs one job, the same jobs as localCheckpoint(true)") {
    val (_, jobs, _) = Probe.schedulerWork(spark)(Cut(frame(1000)))
    assert(jobs == 1)
    // A fresh frame per side: a second action on one frame would reuse
    // its shuffle files and skip a stage.
    def shuffled = frame(1000).groupBy("k").agg(sum("id").as("s"))
    val (_, cutJobs, cutStages) = Probe.schedulerWork(spark)(Cut(shuffled))
    val (_, cpJobs, cpStages) =
      Probe.schedulerWork(spark)(shuffled.localCheckpoint(true))
    assert((cutJobs, cutStages) == ((cpJobs, cpStages)))
  }

  test("rows equals count()") {
    Seq(frame(1000), frame(0), frame(1000).filter(col("k") === 3),
      frame(500).groupBy("k").count()).foreach { df =>
      assert(Cut(df).rows == df.count())
    }
  }

  test("the leaf keeps the origin's statistics and rows") {
    val df = frame(1000).groupBy("k").agg(sum("id").as("s"))
    val cut = Cut(df).df
    assert(cut.queryExecution.optimizedPlan.stats.sizeInBytes ==
      df.queryExecution.optimizedPlan.stats.sizeInBytes)
    assert(cut.orderBy("k").collect().toSeq == df.orderBy("k").collect().toSeq)
  }

  test("repartition(col) -> Cut -> groupBy(col) plans no Exchange") {
    // AQE off, as in the quietRounds loops: under AQE the origin's
    // coalesced shuffle read reports an unknown partitioning, for
    // localCheckpoint as for a Cut.
    Session.withConf(spark, "spark.sql.adaptive.enabled" -> "false") {
      val cut = Cut(frame(1000).repartition(col("k"))).df
      val agg = cut.groupBy("k").agg(count(lit(1)).as("n"))
      assert(agg.collect().map(_.getLong(1)).sum == 1000)
      val exchanges = collect(agg.queryExecution.executedPlan) {
        case e: ShuffleExchangeExec => e
      }
      assert(exchanges.isEmpty, agg.queryExecution.executedPlan.toString)
    }
  }

  test("the leaf has fresh attribute ids: the hits self-join shape runs " +
    "inside quietRounds (AQE off) with no re-alias") {
    val sp = spark
    import sp.implicits._
    val e = Cut(Seq((1L, 10L), (1L, 11L), (2L, 11L), (2L, 12L)).toDF("c", "p")
      .repartition(col("c"))).df
    val raw = e.groupBy("p").agg(count(lit(1)).as("raw"))
    val ids = (d: DataFrame) => d.queryExecution.analyzed.output.map(_.exprId)
    val cut = Cut(raw).df
    assert(ids(cut).intersect(ids(raw)).isEmpty)
    val h = api.quietRounds(sp, 4) {
      val hubs = e.select(col("c")).distinct().select(col("c"), lit(1L).as("h"))
      val araw = Cut(e.join(broadcast(hubs), "c")
        .groupBy("p").agg(sum(col("h")).as("raw"))).df
      val a = araw.select(col("p"), col("raw").as("a"))
      e.join(broadcast(a), "p").groupBy("c").agg(sum("a").as("h"))
        .orderBy("c").collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq
    }
    assert(h == Seq(1L -> 3L, 2L -> 3L))
  }

  test("no localCheckpoint( under src/main/scala outside Cut.scala") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: $root")
    val hits = scala.util.Using.resource(Files.walk(root)) { st =>
      st.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    }.filterNot(_.getFileName.toString == "Cut.scala").flatMap {
      (p: Path) =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if line.contains("localCheckpoint(") =>
            s"$p:${i + 1}: ${line.trim}"
        }
    }
    assert(hits.isEmpty, "cut lineage through graft.Cut:\n" +
      hits.mkString("\n"))
  }
}
