package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional extra args narrow the dump to the named queries; an
    // unknown name fails here, before a session starts.
    val only = SparkEntry.selectQueries(args.drop(2).toSeq).toSet
    val spark = GraftSession.local(GraftSession.cpus, "graft-verify")
    // Pin the run-captured oracle (sim_ann_kmeans_par) to THIS dir's
    // anchors: the dump below must carry the anchor set the dumped
    // parquet used even if another dir ran in this JVM (ADVICE r11).
    graft.operators.SimilarityOps.oracleDirHint.set(sfDir)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // Free each query's localCheckpoint blocks (minhash, components)
      // so a 50-query dump doesn't accumulate storage-memory pressure.
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
    }
    import SparkEntry.jsonString
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
