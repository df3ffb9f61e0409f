package perfbench

import java.nio.file.{Files, Paths}

import graft.SparkEntry
import org.apache.spark.sql.SparkSession

/** Registry queries over the sf0.001 testdata tables that ship with the
  * benchmark (`perfbench/data/sf0.001`, FIXTURES.md §4). One cycle is one
  * pass over the query list in a seeded order; the seed only shuffles
  * that order. Each query is one op: `Q.fn` (for the graph queries this
  * includes their eager checkpoint rounds), then a noop write.
  *
  * The untimed warm-up pass writes every result to parquet; the
  * launcher compares those results with the query's DuckDB oracle over
  * the same tables, and a mismatch fails the op. */
final class Registry(spark: SparkSession, seed: Long, data: String, tiny: Boolean) extends Workload {
  import Registry._

  private var dir = ""

  /** Nothing to generate: the tables are read in place. */
  def setup(d: String, call: Recorder#Call): Unit = dir = d

  def warmup(rec: Recorder): Unit = {
    val queries = SparkEntry.queries
    Queries.foreach { name =>
      rec.op(s"q.$name") { call =>
        val df = call("query.build")(queries(name)(spark, data))
        call("query.exec")(df.coalesce(1).write.mode("overwrite").parquet(s"$dir/results/$name"))
      }
    }
    val oracle = SparkEntry.oracleSql
    val json = Queries.map(n => s"${Json.str(n)}: ${Json.str(oracle(n))}").mkString("{", ",\n", "}")
    Files.writeString(Paths.get(s"$dir/oracle.json"), json)
    // A second untimed pass: after one pass the JIT is still far from
    // settled, and a first timed pass then varies by a third between runs.
    if (!tiny) cycle(rec)
  }

  private var passes = 0

  def cycle(rec: Recorder): Unit = {
    val queries = SparkEntry.queries
    val order = new scala.util.Random(seed * 1000003L + passes).shuffle(Queries)
    passes += 1
    order.foreach { name =>
      rec.op(s"q.$name") { call =>
        val df = call("query.build")(queries(name)(spark, data))
        call("query.exec")(df.write.format("noop").mode("overwrite").save())
      }
    }
  }

  def verify(rec: Recorder): Unit = ()

  def sidecar: Map[String, Double] = Map.empty

  override def oracle: Option[Oracle] = Some(Oracle(data, s"$dir/results", s"$dir/oracle.json"))
}

object Registry {

  /** Graph rounds (ext.Graph), the TopKPerKey plan node (x33), and
    * scan → join/aggregate/window queries with no round loop. All have
    * a DuckDB oracle. */
  val Queries: Seq[String] = Seq(
    "x59_pagerank", "x63_bfs_hops", "x73b_kcore_converged", "x81_sssp_weighted",
    "x33_bm25_topk", "q1_pricing_summary", "j2_orders_lineitem_join",
    "x113_order_recon", "x154_edit1_blocking", "x127_peak_concurrency")
}
