package graft

import org.apache.spark.sql.{DataFrame, functions => F}

/** Corpus replicator for scale-rung evidence (VERDICT r8 missing #4):
  * writes an N× copy of a testdata scale-factor directory with every
  * KEY DOMAIN offset per replica so referential integrity holds —
  * replica i's orders point at replica i's customers, lineitems at
  * replica i's orders/parts/suppliers, embeddings at replica i's
  * documents (vec_id and doc_id share one domain: the semantic-dedup
  * ops join them). Non-key payloads (text, prices, timestamps) are
  * copied verbatim, so the replica corpus keeps the original's value
  * distributions while scaling row counts, join fan-outs, shuffle
  * widths, and duplicate-group sizes N×. nation/region stay 1× (fixed
  * dimension constants every replica shares, like the real TPC-H).
  *
  * The oracle gate runs UNCHANGED on the output (DuckDB reads the
  * same parquet), so a full Verify + check_correctness pass at the
  * scaled dir is genuine correctness evidence at that scale — the sf1
  * rung the r8 matrix stopped short of.
  *
  * Usage: `runMain graft.ScaleUp <srcDir> <dstDir> [factor=10]`
  */
object ScaleUp {

  def main(args: Array[String]): Unit = {
    val src = args(0)
    val dst = args(1)
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = GraftSession.local(GraftSession.cpus, "graft-scaleup")
    val t = Tables(spark, src)

    def off(df: DataFrame, key: String): Long =
      df.agg(F.max(F.col(key))).first().getLong(0) + 1

    // One offset per KEY DOMAIN (not per column): columns in the same
    // domain must shift together or joins break.
    val custOff = off(t.customer, "c_custkey")
    val suppOff = off(t.supplier, "s_suppkey")
    val partOff = off(t.part, "p_partkey")
    val ordOff = off(t.orders, "o_orderkey")
    val docOff = off(t.documents, "doc_id") // shared with embeddings.vec_id
    // events.user_id lives in the CUSTOMER key domain (user_id ⊆
    // c_custkey is the star FK qc_cross_system / ev_* joins assert), so
    // it must shift by custOff like o_custkey — shifting it by its own
    // max would point replica i's events at replica 0's customers and
    // silently distort every cross-system join distribution (ADVICE r9).
    val evOff = off(t.events, "event_id")

    /** Replicate `df` `factor`×, shifting each named key column by its
      * domain offset × replica index. One narrow crossJoin against a
      * broadcast k-row replica table — no shuffle, scales linearly. */
    def rep(df: DataFrame, shifts: (String, Long)*): DataFrame = {
      val reps = spark.range(factor).toDF("__rep")
      val crossed = df.crossJoin(F.broadcast(reps))
      shifts.foldLeft(crossed) { case (d, (c, o)) =>
        d.withColumn(c, F.col(c) + F.col("__rep") * o)
      }.drop("__rep")
    }

    // The driver's testdata ships each table as ONE parquet FILE (the
    // oracle's read_parquet targets the path directly), so match that
    // layout: single-partition write, then promote the part file.
    def write(df: DataFrame, name: String): Unit = {
      val tmp = s"$dst/__tmp_$name"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val dir = java.nio.file.Paths.get(tmp)
      import scala.jdk.CollectionConverters._
      val part = java.nio.file.Files.list(dir).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet"))
        .getOrElse(sys.error(s"no part file under $tmp"))
      val target = java.nio.file.Paths.get(s"$dst/$name.parquet")
      java.nio.file.Files.deleteIfExists(target)
      java.nio.file.Files.move(part, target)
      java.nio.file.Files.list(dir).iterator().asScala.toSeq
        .foreach(java.nio.file.Files.deleteIfExists)
      java.nio.file.Files.deleteIfExists(dir)
    }

    write(t.region, "region")
    write(t.nation, "nation")
    write(rep(t.customer, "c_custkey" -> custOff), "customer")
    write(rep(t.supplier, "s_suppkey" -> suppOff), "supplier")
    write(rep(t.part, "p_partkey" -> partOff), "part")
    write(rep(t.orders, "o_orderkey" -> ordOff, "o_custkey" -> custOff), "orders")
    write(rep(t.lineitem, "l_orderkey" -> ordOff, "l_partkey" -> partOff,
      "l_suppkey" -> suppOff), "lineitem")
    write(rep(t.events, "event_id" -> evOff, "user_id" -> custOff), "events")
    write(rep(t.documents, "doc_id" -> docOff), "documents")
    write(rep(t.embeddings, "vec_id" -> docOff), "embeddings")
    println(s"""{"scaleup":"done","src":"$src","dst":"$dst","factor":$factor}""")
    spark.stop()
  }
}
