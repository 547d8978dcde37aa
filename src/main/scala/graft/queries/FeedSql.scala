package graft.queries

/** DuckDB closed form of the metrics feed (`MetricsFeedSource`: row i
  * has kind gauge/counter/timer by i % 3 and value (i·2654435761) %
  * 100000), shared by the Catalog, Relational and Streaming oracles.
  * Written by hand, not derived from the source it checks. */
private[queries] object FeedSql {

  /** The feed's kind of row `id`. Its second line is indented to sit
    * under a `SELECT` column list. */
  val feedKind: String =
    """CASE CAST(id % 3 AS INT) WHEN 0 THEN 'gauge'
      |      WHEN 1 THEN 'counter' ELSE 'timer' END""".stripMargin

  /** The feed's value of row `id`. */
  val feedValue = "(id * 2654435761) % 100000"

  /** Feed rows [from, until) as (id, kind, value), indented to sit as a
    * subquery two spaces into a `FROM (`. */
  def feedRows(from: Int, until: Int): String =
    s"""SELECT id,
       |    $feedKind AS kind,
       |    $feedValue AS value
       |  FROM range($from, $until) t(id)""".stripMargin
}
