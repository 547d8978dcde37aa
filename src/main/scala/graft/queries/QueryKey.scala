package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One query key: its name, the DuckDB SQL its output is checked
  * against, whether it is a declared-quadratic correctness baseline
  * (`SPARK_GRAFT_BENCH_SKIP_BASELINES` drops those from a bench), and
  * its Spark builder. Each family lists its keys as these records, so a
  * key's builder and its oracle are declared in one place. */
final case class QueryKey(name: String, oracle: String, baseline: Boolean = false)(
    val build: (SparkSession, String) => DataFrame)

object QueryKey {

  /** Name → record over `keys`; a name declared twice fails here
    * instead of one declaration silently replacing the other. */
  def registry(keys: Seq[QueryKey]): Map[String, QueryKey] = {
    val dups = keys.groupBy(_.name).collect { case (n, ks) if ks.size > 1 => n }
    require(dups.isEmpty,
      s"query key(s) declared more than once: ${dups.toSeq.sorted.mkString(", ")}")
    keys.map(k => k.name -> k).toMap
  }
}
