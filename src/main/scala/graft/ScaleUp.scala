package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Scale-evidence provisioning: multiply the fact tables of an existing
  * testdata dir by an integer factor with consistently shifted keys, so
  * a bench pass at ~sf1 converts the 100×-scale plan arguments into
  * measurements. Dimensions (region, nation) keep their bounded domains;
  * every fact row is replicated `factor` times with primary AND foreign
  * keys shifted by copy·10^8 — joins stay aligned, key domains stay
  * below 2^31, and time columns are untouched (densities grow, the
  * window count stays — the realistic mix). events.ts passes through
  * RAW (whatever on-disk form the generator shipped) so Tables.events'
  * normalization still applies on read-back.
  * Usage:
  *   sbt "runMain graft.ScaleUp /root/testdata/sf0.1 /tmp/sf1 10"
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val Array(inDir, outDir, fStr) = args
    val f = fStr.toInt
    val shift = 100000000L
    val spark = Harness.session(inDir)
    def copies(df: DataFrame, keys: String*): DataFrame = {
      val exploded = df.withColumn("_i", explode(array((0 until f).map(i => lit(i.toLong)): _*)))
      keys.foldLeft(exploded) { (d, k) =>
        d.withColumn(k, col(k) + col("_i") * shift)
      }
    }
    // The file grain must SCALE with the data: the narrow
    // read→explode→write pipeline otherwise inherits the small input's
    // split count and lands 100× the rows in ONE file — which (at the
    // default 128 MB parquet row group) is UNSPLITTABLE, so every
    // downstream scan of the fixture runs single-threaded and the
    // "scale measurement" measures one core (the r14 sf10 cohort's
    // m5/m20 superlinearity was exactly this). One file per clone is
    // the honest 100× shape — a real 100 TB table arrives as many
    // ingest files, not one monolith.
    def write(name: String, df: DataFrame): Unit = {
      val parts =
        if (df.columns.contains("_i")) df.drop("_i").repartition(f)
        else df
      parts.write.mode("overwrite").parquet(s"$outDir/$name.parquet")
    }
    write("region", Tables.region(spark, inDir))
    write("nation", Tables.nation(spark, inDir))
    write("customer", copies(Tables.customer(spark, inDir), "c_custkey"))
    write("supplier", copies(Tables.supplier(spark, inDir), "s_suppkey"))
    write("part", copies(Tables.part(spark, inDir), "p_partkey"))
    write("orders", copies(Tables.orders(spark, inDir), "o_orderkey", "o_custkey"))
    write("lineitem", copies(Tables.lineitem(spark, inDir), "l_orderkey", "l_partkey", "l_suppkey"))
    write("events", copies(Tables.table(spark, inDir, "events"), "event_id", "user_id"))
    write("documents", copies(Tables.documents(spark, inDir), "doc_id"))
    write("embeddings", copies(Tables.embeddings(spark, inDir), "vec_id"))
    spark.stop()
    println(s"[scaleup] wrote ${f}x of $inDir to $outDir")
  }
}
