package graft.ext

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The part co-occurrence graph's one edge builder, shared by [[Graph]]
  * and [[Itemsets]]: each order's sorted distinct part set `ps` comes
  * out of ONE ok-keyed collect_set exchange (its map-side partial merge
  * IS the (order, part) dedup), and the pairs a basket spans explode
  * in-row — at most C(basket size, 2) rows per order, no self-join. */
private[ext] object Baskets {

  /** (ok, ps): every order's sorted distinct part set. */
  def apply(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("p"))
      .groupBy(col("ok")).agg(sort_array(collect_set(col("p"))).as("ps"))

  /** One struct column `e` = (`a`, `b`) per part pair of every basket
    * with ≥ 2 parts: all ordered pairs x ≠ y when `ordered`, else the
    * i<j pairs over the sorted set (⇔ a < b). */
  def pairs(baskets: DataFrame, a: String, b: String, ordered: Boolean): DataFrame = {
    val gen =
      if (ordered) s"""flatten(transform(ps,
        |  x -> transform(filter(ps, y -> y != x),
        |    y -> struct(x AS $a, y AS $b))))""".stripMargin
      else s"""flatten(transform(sequence(0, size(ps) - 2),
        |  i -> transform(slice(ps, i + 2, size(ps) - i - 1),
        |    y -> struct(ps[i] AS $a, y AS $b))))""".stripMargin
    baskets.filter(size(col("ps")) >= 2).select(explode(expr(gen)).as("e"))
  }

  /** The distinct (`a`, `b`) edge set of [[pairs]]. */
  def edges(s: SparkSession, dir: String, a: String, b: String, ordered: Boolean): DataFrame =
    pairs(apply(s, dir), a, b, ordered)
      .select(col(s"e.$a").as(a), col(s"e.$b").as(b))
      .distinct()
}

/** The one round loop of the iterative graph operators. */
private[ext] object Fixpoint {

  /** Applies `step(state, round)` from `init` for at most `maxRounds`
    * rounds, stopping early once `stable(next)` holds. Every round's
    * state is localCheckpointed, so the lineage never grows, and each
    * generation this loop created is released only after its successor
    * is materialized and tested — `init` stays the caller's to release.
    * Returns (final state, rounds applied). */
  def iterate(init: DataFrame, maxRounds: Int, stable: DataFrame => Boolean)(
      step: (DataFrame, Int) => DataFrame): (DataFrame, Int) = {
    var state = init
    var rounds = 0
    var done = false
    while (!done && rounds < maxRounds) {
      rounds += 1
      val next = step(state, rounds).localCheckpoint()
      done = stable(next)
      if (state ne init) state.unpersist()
      state = next
    }
    (state, rounds)
  }
}

/** The oracle-side twins of [[Baskets]]: DuckDB CTEs over `lineitem`
  * that each graph oracle composes, stating only what differs. */
private[ext] object GraphSql {

  /** `li`: distinct (order, part) lines. */
  val li = """li AS MATERIALIZED (
    |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem)""".stripMargin

  /** `name`: co-occurring part pairs (`a`, `b`) of [[li]] with `a cmp b`
    * ("<>": both directions, "<": undirected), plus `extra` columns. */
  def edges(name: String, a: String, b: String, cmp: String, extra: String): String =
    s"""$name AS MATERIALIZED (
       |  SELECT x.p AS $a, y.p AS $b$extra FROM li x
       |  JOIN li y ON x.ok = y.ok AND x.p $cmp y.p
       |  GROUP BY 1, 2)""".stripMargin

  /** `li` + the directed edge set `pairs` (src, dst). */
  val pairs = s"$li,\n${edges("pairs", "src", "dst", "<>", "")}"

  /** `li` + the undirected edge set `e` (u < v). */
  val undirected = s"$li,\n${edges("e", "u", "v", "<", "")}"

  /** `name`: (p, d) node degrees of the undirected edge set `from`. */
  def deg(name: String, from: String): String =
    s"""$name AS MATERIALIZED (
       |  SELECT p, CAST(COUNT(*) AS BIGINT) AS d
       |  FROM (SELECT u AS p FROM $from UNION ALL SELECT v AS p FROM $from)
       |  GROUP BY 1)""".stripMargin

  /** `o`: `from` oriented low→high in the packed (degree, id) order of
    * the degree table `deg` — the twin of Graph.orientEdgeSet. */
  def orient(from: String, deg: String): String = {
    val (ku, kv) = (s"ku.d * 4294967296 + $from.u", s"kv.d * 4294967296 + $from.v")
    s"""o AS MATERIALIZED (
       |  SELECT CASE WHEN $ku < $kv THEN $from.u ELSE $from.v END AS src,
       |         CASE WHEN $ku < $kv THEN $from.v ELSE $from.u END AS dst,
       |         GREATEST($ku, $kv) AS kdst
       |  FROM $from JOIN $deg ku ON ku.p = $from.u JOIN $deg kv ON kv.p = $from.v)""".stripMargin
  }

  /** `t`: every triangle (s, wu, wv) of `o` — the wedge join plus the
    * closure probe. */
  val closure = """t AS MATERIALIZED (
    |  SELECT a.src AS s, a.dst AS wu, b.dst AS wv
    |  FROM o a JOIN o b ON a.src = b.src AND a.kdst < b.kdst
    |  JOIN o c ON c.src = a.dst AND c.dst = b.dst)""".stripMargin

  /** Rounds 1..n of an iterative oracle, one CTE each. */
  def unroll(n: Int)(cte: Int => String): String = (1 to n).map(cte).mkString(",\n")
}
