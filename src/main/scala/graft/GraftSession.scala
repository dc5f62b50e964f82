package graft

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.internal.Logging
import org.apache.spark.sql.SparkSession

import graft.sources.{NioLocalFileSystem, NioLocalFs}

/** Tuned local SparkSession factory.
  *
  * Settings chosen for the 100 TB posture (AQE on, skew-join handling,
  * partial aggregation pushdown) while staying correct on local[N]:
  * shuffle partitions are sized to the executor-thread count locally;
  * on a real cluster these come from dynamic AQE coalescing anyway.
  *
  * Per-query set-up that is identical on every run is paid once: a
  * streaming query's clone of the session shares the session's
  * classloader, so a rerun reuses its generated code (artifact
  * isolation off), and table reads name a cached schema
  * ([[Tables.schemaOf]]).
  *
  * Local files are written without process forks: the `file:` scheme
  * is served by [[NioLocalFileSystem]] and [[NioLocalFs]], which set
  * permissions and read link status through java.nio where Hadoop,
  * without its native library, runs `chmod` and `readlink`.
  */
object GraftSession extends Logging {
  /** Executor threads for a dev main: `SPARK_GRAFT_CPUS`, else every
    * core the JVM sees (an unset variable must not quietly cut the
    * threads of a wide host). */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def local(threads: Int = 4, appName: String = "graft",
      extraConf: Map[String, String] = Map.empty): SparkSession = {
    // "Unable to load native-hadoop library", written while the
    // SparkContext starts: with `file:` served through java.nio below,
    // nothing graft runs needs Hadoop's native IO. Spark's logging is
    // set up first, because that replaces the log4j configuration and
    // with it a level set before.
    initializeLogIfNecessary(false)
    Configurator.setLevel("org.apache.hadoop.util.NativeCodeLoader", Level.ERROR)
    val builder = SparkSession
      .builder()
      .withExtensions(new GraftExtensions()(_))
      .appName(appName)
      .master(s"local[$threads]")
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      // events.parquet carries TIMESTAMP(NANOS) which Spark 4 rejects by
      // default; read as long nanos and convert in Tables.events.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // The driver's parquet stamps timestamps isAdjustedToUTC=false.
      // Read them as plain TimestampType, not TIMESTAMP_NTZ: with the
      // session pinned to UTC the epoch-micros are bit-identical to the
      // DuckDB oracle's naive reading, filters stay bare-attribute (so
      // they push to the scan), and every downstream unix_micros /
      // window() call keeps its TimestampType contract.
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      // InferFiltersFromGenerate clones the generator's child expression
      // into a pushed-down Filter; for our shingle pipelines that inlines
      // the whole tokenize+shingle tree (higher-order funcs, interpreted,
      // no subexpression elimination) into a per-row predicate — measured
      // ~20x slowdown on explode-heavy dedup queries. The inferred filter
      // only skips empty/null arrays, which our data doesn't contain.
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      // Keep bucketed scans bucketed: the planner's "disable when no
      // downstream operator needs the distribution" heuristic ALSO
      // forfeits bucket-filter pruning (a probe with `aid IN (...)` on a
      // bucketed index read all 8 buckets, SelectedBucketsCount absent).
      // Our bucketed tables exist precisely for co-located joins and
      // pruned index probes, so the heuristic only ever costs us.
      .config("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
      // Let single-file-per-bucket sorted tables report their ordering
      // so SMJs over the bucketed fact layout skip the re-sort as well
      // as the exchange. The non-legacy default drops the ordering
      // claim entirely; the legacy path still verifies <=1 file per
      // bucket before claiming it, so a multi-file bucket degrades to
      // a sort, never to wrong results. Our bucketed writers
      // repartition on the bucket key first precisely to hit the
      // single-file case.
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      // Every streaming query runs on a clone of this session. With
      // artifact isolation on, each clone gets a fresh artifact UUID,
      // the executor builds a fresh classloader for it, and Spark's
      // generated-code cache, keyed by (classloader, code), misses: each
      // run of a stream recompiled all of its classes (17 for
      // stream_hourly_agg) and resolved them through ExecutorClassLoader.
      // graft adds no session artifacts, so nothing relies on isolation.
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.ui.enabled", "false")
      // Both ways Spark reaches `file:`: FileSystem (parquet parts,
      // table writes, staging) and FileContext (stream checkpoints).
      .config("spark.hadoop.fs.file.impl", classOf[NioLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[NioLocalFs].getName)
    val spark = extraConf.foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Silences "RDD N was locally checkpointed, its lineage has been
    // truncated and cannot be recomputed after unpersisting", which
    // every Checkpoints.free of a superseded loop round logs by design.
    // RDD.unpersist writes it under the logger of the RDD's concrete
    // class: MapPartitionsRDD for a Dataset.localCheckpoint.
    Configurator.setLevel("org.apache.spark.rdd.MapPartitionsRDD", Level.ERROR)
    spark
  }
}
