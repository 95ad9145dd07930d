package graft.perfbench

import org.json4s._
import org.json4s.jackson.JsonMethods

/** One workload: the warm steps it needs, the keys of its families that it
  * measures and those it leaves unmeasured, and the keys it borrows from
  * another workload's families to measure a layer its own keys do not reach.
  */
final case class Workload(name: String, warm: Seq[String], keys: Seq[String],
    unsampled: Seq[String], borrowed: Seq[String] = Nil) {

  /** The keys a pass runs. */
  def measured: Seq[String] = keys ++ borrowed
}

/** The pinned workload definitions (`workloads.json`). */
final case class Spec(workloads: Map[String, Workload],
    excluded: Map[String, String]) {

  /** Problems with registry coverage: every registry key must sit in
    * exactly one workload (measured or unsampled) or in the excluded list,
    * every listed key must exist, and a borrowed key must belong to another
    * workload. Empty when the coverage holds.
    */
  def coverageProblems(registry: Set[String]): Seq[String] = {
    val listed = workloads.values.toSeq.flatMap(w => w.keys ++ w.unsampled) ++
      excluded.keys
    val dup = listed.groupBy(identity).collect { case (k, v) if v.size > 1 => k }
    val missing = registry -- listed
    val unknown = listed.toSet -- registry
    val badBorrow = workloads.values.toSeq.sortBy(_.name).flatMap { w =>
      val others = (workloads - w.name).values.flatMap(o => o.keys ++ o.unsampled).toSet
      w.borrowed.filterNot(others).map(k => s"${w.name} borrows a key of no other workload: $k")
    }
    dup.toSeq.sorted.map(k => s"listed more than once: $k") ++
      missing.toSeq.sorted.map(k => s"registry key in no workload: $k") ++
      unknown.toSeq.sorted.map(k => s"listed key not in the registry: $k") ++
      badBorrow
  }
}

object Spec {
  def load(path: String): Spec = parse(
    new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)),
      "UTF-8"))

  def parse(text: String): Spec = {
    val js = JsonMethods.parse(text)
    def strs(v: JValue): Seq[String] = v match {
      case JArray(xs) => xs.collect { case JString(s) => s }
      case _ => Nil
    }
    val wls = (js \ "workloads") match {
      case JObject(fs) => fs.map { case (n, w) =>
        n -> Workload(n, strs(w \ "warm"), strs(w \ "keys"), strs(w \ "unsampled"),
          strs(w \ "borrowed"))
      }.toMap
      case _ => Map.empty[String, Workload]
    }
    val exc = (js \ "excluded") match {
      case JObject(fs) => fs.collect { case (k, JString(r)) => k -> r }.toMap
      case _ => Map.empty[String, String]
    }
    Spec(wls, exc)
  }
}
