package graft
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** Args: <sfDir> <outDir> [keys...]; see `Harness.verify`. */
  def main(args: Array[String]): Unit = Harness.main("verify" +: args)
}
