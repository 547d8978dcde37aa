package graft.sources

import java.io.FileNotFoundException
import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType}

/** Typed loaders for the test star schema + pipeline tables.
  *
  * All loads are plain columnar parquet scans so Catalyst's predicate
  * pushdown and column pruning apply end-to-end; no caching or collect
  * here — at 100 TB these are streamed scans.
  *
  * Schema, once per fingerprint: a parquet read without a schema infers
  * one through a Spark job (`SchemaMergeUtils.mergeSchemasInParallel`)
  * on every call. [[parquet]] asks Spark for the schema
  * (`spark.read.parquet(path).schema`) once per fingerprint and then
  * reads with it. The fingerprint is the qualified path, each listed
  * file's name, length and mtime, and the session confs that shape the
  * parquet-to-Spark schema conversion (`binaryAsString`,
  * `int96AsTimestamp`, `inferTimestampNTZ.enabled`,
  * `legacy.parquet.nanosAsLong`, `caseSensitive`). So a rewritten file
  * or a changed conf infers again. A path whose listing holds a
  * subdirectory (a partitioned layout), or that cannot be listed, gets
  * the plain read, which discovers partitions and reports errors as
  * before.
  */
object Tables {
  private final case class Fingerprint(path: String, files: Seq[(String, Long, Long)],
      confs: Seq[Boolean])

  /** Qualified path → the fingerprint its schema was inferred under. */
  private val schemas = new ConcurrentHashMap[String, (Fingerprint, StructType)]()

  private def fingerprint(spark: SparkSession, path: String): Option[Fingerprint] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val listing =
      try fs.listStatus(p)
      catch { case _: FileNotFoundException => Array.empty[FileStatus] }
    val c = spark.sessionState.conf
    if (listing.isEmpty || listing.exists(_.isDirectory)) None
    else Some(Fingerprint(fs.makeQualified(p).toString,
      listing.map(f => (f.getPath.getName, f.getLen, f.getModificationTime)).toSeq.sorted,
      Seq(c.isParquetBinaryAsString, c.isParquetINT96AsTimestamp,
        c.parquetInferTimestampNTZEnabled, c.legacyParquetNanosAsLong,
        c.caseSensitiveAnalysis)))
  }

  /** One-path parquet read that infers its schema at most once per
    * fingerprint (see above). Multi-path and `mergeSchema` reads stay
    * on `spark.read`. */
  def parquet(spark: SparkSession, path: String): DataFrame =
    fingerprint(spark, path) match {
      case None => spark.read.parquet(path)
      case Some(fp) =>
        val schema = Option(schemas.get(fp.path)).collect { case (`fp`, s) => s }.getOrElse {
          val s = spark.read.parquet(path).schema
          schemas.put(fp.path, (fp, s))
          s
        }
        spark.read.schema(schema).parquet(path)
    }

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    parquet(spark, s"$dir/$name.parquet")

  def region(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame     = table(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "lineitem")
  def documents(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")

  /** Events stream table, normalized so `ts` is always µs TimestampType.
    *
    * The generator has shipped two on-disk forms: TIMESTAMP(NANOS) (read
    * as Long under `spark.sql.legacy.parquet.nanosAsLong`, floor-converted
    * to µs — matching DuckDB's `CAST(ts_ns AS TIMESTAMP)` truncation) and
    * TIMESTAMP(MICROS, isAdjustedToUTC=false) (read as TIMESTAMP_NTZ; the
    * session is pinned to UTC, so the cast below is identity on the micros
    * value). Downstream code — `unix_micros`, watermarks, window() — wants
    * TimestampType; outputs cast back to timestamp_ntz at the edge.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val raw = table(spark, dir, "events")
    raw.schema("ts").dataType match {
      case LongType         => raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast("timestamp"))
      case _                => raw
    }
  }
}
