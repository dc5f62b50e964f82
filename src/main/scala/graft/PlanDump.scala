package graft

/** Two-boot plan-stability harness (VERDICT r8 #1).
  *
  * Runs each registered query exactly the way [[Bench]] does (noop
  * materialize, fingerprint AFTER the run) and writes the NORMALIZED
  * executedPlan text to `outDir/<name>.plan`. Two fresh JVM
  * invocations of this main on unchanged code must produce
  * byte-identical directories; a `diff -r` of the two outputs is the
  * full-query-set stability check the r8 panel-only check was not —
  * and when a file differs, the diff names the leaking token class
  * directly instead of leaving an opaque sha mismatch.
  *
  * Usage: `runMain graft.PlanDump <sfDir> <outDir> [query...]`
  * (no query args = all registered queries).
  */
object PlanDump {

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = java.nio.file.Paths.get(args(1))
    val names = SparkEntry.selectQueries(args.drop(2).toSeq)
    java.nio.file.Files.createDirectories(outDir)
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val spark = GraftSession.local(cpus, "graft-plandump")
    for (n <- names) {
      // Mirror Bench.materialize: state teardown, noop write, THEN the
      // executedPlan access — the artifact must fingerprint the same
      // QueryExecution state the bench does.
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      spark.catalog.clearCache()
      val text =
        try {
          val df = SparkEntry.queries(n)(spark, sfDir)
          df.write.format("noop").mode("overwrite").save()
          Bench.planNorm(df.queryExecution.executedPlan.toString)
        } catch {
          case e: Throwable =>
            // Normalize the message too (ADVICE r9): raw exception text
            // can embed per-boot tokens (temp paths, object identity
            // hashes) and would surface as a spurious stability diff.
            "ERROR: " + Bench.planNorm(
              Option(e.getMessage).getOrElse(e.getClass.getName).take(300))
        }
      java.nio.file.Files.write(outDir.resolve(n + ".plan"),
        (text + "\n").getBytes("UTF-8"))
    }
    graft.operators.SimilarityOps.dropIvfIndexes(spark)
    spark.stop()
  }
}
