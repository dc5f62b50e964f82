package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Typed loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * All reads go through `spark.read.parquet` so Catalyst gets native
  * predicate pushdown + column pruning on every scan; operators must
  * never cache or collect these. Each read names its schema
  * ([[Tables.schemaOf]]): inferring it runs a one-task Spark job over
  * the parquet footer on every read, and only the first read of a table
  * version needs to pay it.
  */
final case class Tables(spark: SparkSession, dir: String) {
  // Every query builder comes through here, so this is the one choke
  // point where graft's native SQL functions (graft_cosine, ...) get
  // registered — idempotent, and covers driver/spark-shell sessions
  // that were not built by GraftSession.
  org.apache.spark.sql.GraftFunctions.register(spark)

  // Defensive for sessions not built by GraftSession (e.g. the driver's
  // smoke-check), covering BOTH testdata generations: naive parquet
  // timestamps must read as TimestampType, not NTZ (see GraftSession
  // for the rationale), and the older INT64 TIMESTAMP(NANOS) files are
  // rejected at schema resolution unless read as raw longs. Guarded so
  // the constructor stays side-effect-free on the normal path.
  {
    val ntz = "spark.sql.parquet.inferTimestampNTZ.enabled"
    if (!spark.conf.getOption(ntz).contains("false")) spark.conf.set(ntz, "false")
    val nanos = "spark.sql.legacy.parquet.nanosAsLong"
    if (!spark.conf.getOption(nanos).contains("true")) spark.conf.set(nanos, "true")
  }

  def table(name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    spark.read.schema(Tables.schemaOf(spark, path)).parquet(path)
  }

  def region: DataFrame     = table("region")
  def nation: DataFrame     = table("nation")
  def customer: DataFrame   = table("customer")
  def supplier: DataFrame   = table("supplier")
  def part: DataFrame       = table("part")
  def orders: DataFrame     = table("orders")
  def lineitem: DataFrame   = table("lineitem")
  /** events.parquet's `ts` column has shipped in two physical forms
    * across testdata generations: INT64 TIMESTAMP(NANOS) (Spark 4 refuses
    * it at scan time unless read as raw longs — the nanosAsLong conf set
    * in the constructor block above) and plain TIMESTAMP(MICROS,
    * isAdjustedToUTC=false) (reads natively; the inferTimestampNTZ conf
    * keeps it TimestampType rather than NTZ so unix_micros/window()
    * contracts hold downstream). Branch on the scanned dtype so both
    * generations load identically. `div` keeps the nanos conversion
    * exact-integer so the oracle comparison (DuckDB reads the same file
    * natively) is bit-stable.
    */
  def events: DataFrame = {
    val raw = table("events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
      case _ => raw
    }
  }
  def documents: DataFrame  = table("documents")
  def embeddings: DataFrame = table("embeddings")
}

object Tables {
  private val schemas = new ConcurrentHashMap[String, (Seq[(String, Long, Long)], StructType)]

  /** The schema Spark infers for the parquet table at `path`, cached by
    * its qualified path. The entry holds while the table's version is
    * unchanged: each file under the path with its length and
    * modification time. A table rewritten in place is inferred afresh. */
  private[graft] def schemaOf(spark: SparkSession, path: String): StructType = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val key = fs.makeQualified(p).toString
    val files = fs.listFiles(p, true)
    val stamp = Seq.newBuilder[(String, Long, Long)]
    while (files.hasNext) {
      val f = files.next()
      stamp += ((f.getPath.toString, f.getLen, f.getModificationTime))
    }
    val version = stamp.result()
    schemas.get(key) match {
      case (`version`, schema) => schema
      case _ =>
        val schema = spark.read.parquet(path).schema
        schemas.put(key, (version, schema))
        schema
    }
  }
}
