package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Session purity: a query leaves its session's conf as it found it.
  * `Session.withConf` is the one scope for a setting; this spec pins its
  * restore rules, scans `src/main` for any other conf change, and runs
  * the keys that enter a scope each on its own session to check that
  * `conf.getAll` (the explicit settings) is the same before and after.
  */
class SessionSpec extends AnyFunSuite with SparkFixture {

  private val aqe = "spark.sql.adaptive.enabled"

  test("withConf: a key with no explicit setting is unset afterwards") {
    val s = spark.newSession()
    assert(!s.conf.getAll.contains(aqe))
    val inside = Session.withConf(s, aqe -> "false")(s.conf.get(aqe))
    assert(inside == "false")
    assert(!s.conf.getAll.contains(aqe))
  }

  test("withConf: an explicit key gets its value back") {
    val s = spark.newSession()
    s.conf.set(aqe, "true")
    Session.withConf(s, aqe -> "false") { assert(s.conf.get(aqe) == "false") }
    assert(s.conf.getAll.get(aqe).contains("true"))
  }

  test("withConf: both restores hold when the body throws") {
    val s = spark.newSession()
    val width = "spark.sql.shuffle.partitions"
    s.conf.set(width, "3")
    val before = s.conf.getAll
    assert(!before.contains(aqe))
    intercept[IllegalStateException] {
      Session.withConf(s, aqe -> "false", width -> "7") {
        throw new IllegalStateException("body failed")
      }
    }
    assert(s.conf.getAll == before)
  }

  test("withConf: nested scopes on one key restore in order") {
    val s = spark.newSession()
    val before = s.conf.getAll
    Session.withConf(s, aqe -> "false") {
      Session.withConf(s, aqe -> "true") {
        assert(s.conf.get(aqe) == "true")
      }
      assert(s.conf.getAll.get(aqe).contains("false"))
    }
    assert(s.conf.getAll == before)
  }

  test("no conf.set or conf.unset under src/main/scala outside Session.scala") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: $root")
    val change = """conf\.(set|unset)\(""".r
    val hits = scala.util.Using.resource(Files.walk(root)) { st =>
      st.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    }.filterNot(_.getFileName.toString == "Session.scala").flatMap {
      (p: Path) =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if change.findFirstIn(line).isDefined =>
            s"$p:${i + 1}: ${line.trim}"
        }
    }
    assert(hits.isEmpty,
      "route session-conf changes through Session.withConf:\n" +
        hits.mkString("\n"))
  }

  // Keys that enter a Session.withConf scope, one per scope: the
  // quietRounds valve (graph_bfs, dedup_connected_components), the join
  // thresholds, the dynamic-overwrite writers, Streaming.drive (a batch
  // stream key, the two keys with a scope of their own and a DSv2 stream
  // key). Each runs on its own session, so an earlier spec's settings
  // cannot hide a leak.
  Seq("graph_bfs", "dedup_connected_components", "join_skew_aqe",
    "join_bloom_filtered", "sink_dynamic_overwrite", "stream_dedup",
    "stream_upsert_idempotent", "stream_transform_with_state",
    "stream_dsv2_source").foreach { key =>
    test(s"$key leaves its session's conf as it found it") {
      val s = spark.newSession()
      val before = s.conf.getAll
      SparkEntry.queries(key)(s, sf0001).collect()
      val after = s.conf.getAll
      val changed = (before.keySet ++ after.keySet).toSeq.sorted
        .filter(k => before.get(k) != after.get(k))
        .map(k => s"$k: ${before.getOrElse(k, "<unset>")} -> " +
          after.getOrElse(k, "<unset>"))
      assert(changed.isEmpty, s"$key changed its session's conf:\n" +
        changed.mkString("\n"))
    }
  }
}
