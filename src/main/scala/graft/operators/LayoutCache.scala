package graft.operators

import graft.{Stored, Tables, Warm}
import org.apache.spark.sql.SparkSession

/** Derived table layouts (partitioned / bucketed copies of the corpus),
  * one per fixture dir for the JVM's lifetime ([[graft.Warm.disk]]). In
  * production these are one-time layout decisions amortized over every
  * query; building each once per fixture makes the registry time the
  * QUERIES against the layout rather than re-materializing it per query.
  * `sink_parquet` intentionally bypasses this — its job is to time the sink.
  */
private[graft] object LayoutCache {

  /** lineitem partitioned by l_returnflag; returns the layout path. */
  def partitionedLineitem(s: SparkSession, dir: String): String =
    Warm.disk("layout_partitioned", dir) { out =>
      Stored.write(Tables.lineitem(s, dir), out)(
        _.mode("overwrite").partitionBy("l_returnflag"))
      out
    }

  /** lineitem Z-order-clustered on (l_partkey, l_suppkey): rows sorted by
    * the Morton interleave of the two keys, range-partitioned into 16
    * files so each file (= one parquet row group at this scale) covers a
    * compact 2-D tile. Row-group min/max stats on BOTH columns then prune
    * a box predicate on either or both dimensions — the multi-dimensional
    * clustering a single-column sort cannot give. Returns the layout path.
    */
  def zorderedLineitem(s: SparkSession, dir: String): String =
    Warm.disk("layout_zordered", dir) { out =>
      import org.apache.spark.sql.functions.col
      Stored.write(graft.api.Layout.zorderBy(Tables.lineitem(s, dir),
          col("l_partkey"), col("l_suppkey"), numFiles = 16), out)(
        _.mode("overwrite"))
      out
    }

  /** lineitem + orders as bucketed tables; returns their names
    * (lineitem's, orders'), which are unique to the fixture dir: they
    * carry the name of the scratch dir the catalog gave this copy.
    */
  def bucketedTables(s: SparkSession, dir: String): (String, String) =
    Warm.disk("layout_bucketed", dir) { wh =>
      val id = java.nio.file.Paths.get(wh).getFileName
      val (li, ord) = (s"graft_li_$id", s"graft_ord_$id")
      val lineitem = Tables.lineitem(s, dir)
      val orders = Tables.orders(s, dir)
      s.sql(s"DROP TABLE IF EXISTS $li")
      s.sql(s"DROP TABLE IF EXISTS $ord")
      lineitem.write.mode("overwrite")
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .option("path", s"$wh/li").saveAsTable(li)
      orders.write.mode("overwrite")
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .option("path", s"$wh/ord").saveAsTable(ord)
      (li, ord)
    }
}
