package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Exactness specs for graft's fused Catalyst expressions against the
  * interpreted SQL pipelines they replace (the oracle mirrors those
  * pipelines, so equality here IS the cross-engine parity argument). */
class FunctionsSpec extends AnyFunSuite {
  import TestSpark.{sf, spark}

  private val tk = "regexp_extract_all(lower(text), '[a-z0-9]+', 0)"

  test("graft_shingle_hashes equals the SQL shingle+md5+conv pipeline") {
    val sqlPipeline =
      s"""array_distinct(transform(
         |  array_distinct(transform(sequence(1, size(tk) - 2),
         |    i -> concat_ws(' ', element_at(tk, i), element_at(tk, i + 1), element_at(tk, i + 2)))),
         |  x -> CAST(conv(substr(md5(x), 1, 8), 16, 10) AS BIGINT)))""".stripMargin
    val bad = Tables(spark, sf).documents
      .select(col("doc_id"), expr(tk).as("tk"))
      .filter(size(col("tk")) >= 3)
      .select(col("doc_id"),
        expr("array_sort(graft_shingle_hashes(tk))").as("fused"),
        expr(s"array_sort($sqlPipeline)").as("ref"))
      .filter(col("fused") =!= col("ref"))
      .count()
    assert(bad == 0, s"$bad documents disagree with the SQL pipeline")
  }

  test("graft_winnow_fps equals the SQL rolling-hash pipeline") {
    val ghSql =
      """transform(sequence(1, length(norm) - 4),
        |  i -> CAST(conv(substr(md5(substr(norm, i, 5)), 1, 8), 16, 10) AS BIGINT))""".stripMargin
    // The reference formulation re-evaluates the gram-hash subtree per
    // window position in interpreted mode (O(L² md5) per doc — exactly
    // the cost the fused expression eliminates), so compare on a sample.
    val bad = Tables(spark, sf).documents
      .orderBy("doc_id").limit(25)
      .select(expr("trim(regexp_replace(lower(text), '[^a-z0-9]+', ' '))").as("norm"))
      .filter(length(col("norm")) >= 8)
      .select(
        expr("graft_winnow_fps(norm)").as("fused"),
        expr(s"array_distinct(transform(sequence(1, size($ghSql) - 3), i -> array_min(slice($ghSql, i, 4))))").as("ref"))
      .filter(col("fused") =!= col("ref"))
      .count()
    assert(bad == 0, s"$bad documents disagree with the SQL pipeline")
  }

  test("graft_anchor_sort equals the sort_array(transform(...)) anchor ranking") {
    // The exact higher-order formulation the r12 expression replaced
    // on the IVF/kmeans hot path — including the nanvl NaN guard and
    // the (negc, id) tiebreak. Equality on real embeddings x a real
    // anchor array IS the oracle-parity argument (the DuckDB oracles
    // mirror this pipeline).
    val ref =
      """sort_array(transform(arr,
        |  a -> struct(0D - nanvl(graft_cosine(embedding, a.av), -1D) AS negc,
        |              a.aid AS id)))""".stripMargin
    val t = Tables(spark, sf)
    val anchors = t.embeddings.orderBy("vec_id").limit(7)
      .select(col("vec_id").as("aid"), col("embedding").as("av"))
      .agg(sort_array(collect_list(struct(col("aid"), col("av")))).as("arr"))
    val bad = t.embeddings
      .crossJoin(broadcast(anchors))
      .select(
        expr("graft_anchor_sort(embedding, arr)").as("fused"),
        expr(ref).as("ref"))
      .filter(col("fused") =!= col("ref"))
      .count()
    assert(bad == 0, s"$bad vectors disagree with the sort_array pipeline")
    // Zero-norm probe: NaN cosine must rank last via the -1 guard in
    // both formulations (the ivfCells zero-norm contract).
    val zero = t.embeddings.limit(1)
      .select(expr("transform(embedding, x -> CAST(0.0 AS FLOAT))").as("embedding"))
      .crossJoin(broadcast(anchors))
      .select(
        expr("graft_anchor_sort(embedding, arr)").as("fused"),
        expr(ref).as("ref"))
      .filter(col("fused") =!= col("ref"))
      .count()
    assert(zero == 0, "zero-norm NaN guard diverges")
  }

  test("RewriteFoldCosine rewrites the portable fold formulation to CosineSim") {
    val fold =
      "aggregate(zip_with(a, b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0D, (acc, v) -> acc + v)" +
        " / (sqrt(aggregate(a, 0D, (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))" +
        " * sqrt(aggregate(b, 0D, (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))"
    val t = Tables(spark, sf)
    val df = t.embeddings.select(col("embedding").as("a"))
      .crossJoin(t.embeddings.limit(3).select(col("embedding").as("b")))
      .select(expr(fold).as("c"))
    assert(df.queryExecution.optimizedPlan.toString.contains("graft_cosine"),
      df.queryExecution.optimizedPlan.toString)
    // and the rewrite is exact: max |fold result - graft_cosine| == 0
    val diff = t.embeddings.select(col("embedding").as("a"))
      .crossJoin(t.embeddings.limit(3).select(col("embedding").as("b")))
      .select(expr(s"($fold) - graft_cosine(a, b)").as("d"))
      .agg(max(abs(col("d")))).first().getDouble(0)
    assert(diff == 0.0)
  }

  test("graft_pq_min_keys / graft_pq_adc equal the fan-out + groupBy pipeline") {
    // The exact crossJoin(16×) + posexplode + groupBy(min) pipeline the
    // r13 fused expressions replaced on the PQ encode/probe path —
    // including the dist·|cb|+cid fused-key tiebreak and the ADC
    // join-on-decoded-cid accumulation. Equality on the real integer
    // grid IS the oracle-parity argument (the DuckDB oracles mirror
    // this pipeline). All arithmetic is exact BIGINT, so equality is
    // bitwise, not tolerance-based.
    val t = Tables(spark, sf)
    val emb = t.embeddings.select(
      col("vec_id"),
      expr("transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1048576) AS BIGINT))")
        .as("xq"))
    val cb = emb
      .withColumn("skey", md5(col("vec_id").cast("string")))
      .orderBy("skey").limit(16)
      .withColumn("cid", (row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy("skey")) - 1).cast("long"))
      .select(col("cid"), col("xq").as("cq"))
    val cbArr = cb.agg(
      expr("transform(array_sort(collect_list(struct(cid, cq))), s -> s.cq)").as("cqs"))
    val refKeys = emb.crossJoin(broadcast(cb))
      .select(col("vec_id"), posexplode(expr(
        """transform(sequence(0, 7), m ->
          |  aggregate(sequence(1, 8), CAST(0 AS BIGINT), (acc, i) ->
          |    acc + (element_at(xq, m * 8 + i) - element_at(cq, m * 8 + i))
          |        * (element_at(xq, m * 8 + i) - element_at(cq, m * 8 + i)))
          |  * 16 + cid)""".stripMargin)))
      .withColumnRenamed("pos", "m").withColumnRenamed("col", "k")
    val refAgg = refKeys.groupBy("vec_id", "m").agg(min("k").as("k"))
      .groupBy("vec_id")
      .agg(expr("transform(array_sort(collect_list(struct(m, k))), s -> s.k)").as("ref"))
    val badKeys = emb.crossJoin(broadcast(cbArr))
      .select(col("vec_id"), expr("graft_pq_min_keys(xq, cqs, 8)").as("fused"))
      .join(refAgg, "vec_id")
      .filter(col("fused") =!= col("ref"))
      .count()
    assert(badKeys == 0, s"$badKeys vectors disagree with the fan-out pipeline")
    // ADC: reference = decode cid per subspace, join the codebook back,
    // per-subspace interpreted distance, sum.
    val qv = emb.filter(col("vec_id") === 0).select(col("xq").as("qv"))
    val refAdc = refKeys.groupBy("vec_id", "m").agg(min("k").as("k"))
      .select(col("vec_id"), col("m"), (col("k") % 16).as("cid"))
      .join(broadcast(cb), "cid")
      .crossJoin(broadcast(qv))
      .select(col("vec_id"), expr(
        """aggregate(sequence(1, 8), CAST(0 AS BIGINT), (acc, i) ->
          |  acc + (element_at(qv, m * 8 + i) - element_at(cq, m * 8 + i))
          |      * (element_at(qv, m * 8 + i) - element_at(cq, m * 8 + i)))""".stripMargin)
        .as("t"))
      .groupBy("vec_id").agg(sum("t").as("ref"))
    val badAdc = emb.crossJoin(broadcast(cbArr)).crossJoin(broadcast(qv))
      .select(col("vec_id"),
        expr("graft_pq_adc(graft_pq_min_keys(xq, cqs, 8), cqs, qv)").as("fused"))
      .join(refAdc, "vec_id")
      .filter(col("fused") =!= col("ref"))
      .count()
    assert(badAdc == 0, s"$badAdc vectors disagree on ADC distance")
    // Coarse single-subspace form (embPqResidual's assignment): m=1
    // over a 4-entry codebook, multiplier 4.
    val coarse = cb.filter(col("cid") < 4)
      .select(col("cid").as("ccid"), col("cq").as("ccq"))
    val refCoarse = emb.crossJoin(broadcast(coarse))
      .select(col("vec_id"), expr(
        """aggregate(sequence(1, 64), CAST(0 AS BIGINT), (acc, i) ->
          |  acc + (element_at(xq, i) - element_at(ccq, i))
          |      * (element_at(xq, i) - element_at(ccq, i)))
          |* 4 + ccid""".stripMargin).as("ck"))
      .groupBy("vec_id").agg(min("ck").as("ref"))
    val badCoarse = emb.crossJoin(broadcast(
        cbArr.select(expr("slice(cqs, 1, 4)").as("ccqs"))))
      .select(col("vec_id"),
        expr("element_at(graft_pq_min_keys(xq, ccqs, 1), 1)").as("fused"))
      .join(refCoarse, "vec_id")
      .filter(col("fused") =!= col("ref"))
      .count()
    assert(badCoarse == 0, s"$badCoarse vectors disagree on the coarse argmin")
  }

  test("graft_cell_pairs equals the flatten(transform(slice)) pair emission") {
    // The exact nested higher-order formulation the r13 expression
    // replaced in the inverted-index cell stage — including emission
    // order (i-major, i < j) and the (id, n) field carry-through.
    val ref =
      """flatten(transform(ids, (a, i) ->
        |  transform(slice(ids, i + 2, size(ids)),
        |    b -> named_struct('id1', a.doc_id, 'id2', b.doc_id, 'n1', a.n, 'n2', b.n))))""".stripMargin
    val tk = "regexp_extract_all(lower(text), '[a-z0-9]+', 0)"
    val cells = Tables(spark, sf).documents
      .select(col("doc_id"), expr(tk).as("tk"))
      .filter(size(col("tk")) >= 3)
      .select(col("doc_id"), expr("graft_shingle_hashes(tk)").as("hs"))
      .select(col("doc_id"), size(col("hs")).as("n"), explode(col("hs")).as("g"))
      .groupBy("g")
      .agg(sort_array(collect_list(struct(col("doc_id"), col("n")))).as("ids"))
      .filter(size(col("ids")) >= 2)
    val bad = cells
      .select(expr("graft_cell_pairs(ids)").as("fused"), expr(ref).as("ref"))
      .filter(col("fused") =!= col("ref"))
      .count()
    assert(bad == 0, s"$bad cells disagree with the nested-transform pipeline")
    assert(cells.count() > 0, "fixture produced no multi-doc cells")
  }

  test("graft_minhash_bands equals the SQL affine-min formulation") {
    val p = 2147483647L
    val bad = Tables(spark, sf).documents
      .select(expr(tk).as("tk"))
      .filter(size(col("tk")) >= 3)
      .select(expr("graft_shingle_hashes(tk)").as("hs"))
      .select(
        expr("graft_minhash_bands(hs)").as("fused"),
        expr(
          s"""transform(sequence(0, 7),
             |  j -> array_min(transform(hs, h -> ((2 * j + 1) * 2654435761 % $p) * h % $p)))""".stripMargin)
          .as("ref"))
      .filter(col("fused") =!= col("ref"))
      .count()
    assert(bad == 0, s"$bad rows disagree with the SQL formulation")
  }

  test("blocked name matching recalls every all-pairs match on this corpus") {
    // The two-probe token blocking (first token, last token) must find
    // the SAME result set as the all-pairs query here — the measured
    // 140/140 recall that justifies calling it the production shape.
    val full = graft.operators.DedupOps.dedupNameMatch(spark, sf)
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSet
    val blocked = graft.operators.DedupOps.dedupNameBlocked(spark, sf)
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSet
    assert(blocked == full,
      s"missing: ${(full -- blocked).take(5)}; extra: ${(blocked -- full).take(5)}")
    assert(full.nonEmpty)
  }

  test("wrong-arity calls to graft functions raise an analysis error, not IOOBE") {
    // The registry builders are arity-checked: a user typo must get the
    // standard WRONG_NUM_ARGS analysis error instead of an
    // IndexOutOfBoundsException out of the raw children(i) access.
    val e1 = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT graft_jaro_winkler('a')").collect()
    }
    assert(e1.getMessage.contains("graft_jaro_winkler"))
    val e2 = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT graft_cosine(array(1.0F))").collect()
    }
    assert(e2.getMessage.contains("graft_cosine"))
    val e3 = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT graft_image_meta()").collect()
    }
    assert(e3.getMessage.contains("graft_image_meta"))
  }

  test("graft_bootstrap_weights equals the hex-CASE SQL chain bit-for-bit") {
    // The native draw chain must be indistinguishable from the SQL
    // formulation the DuckDB oracle still runs (md5 → 16-bit hex slice
    // → Poisson CDF CASE) — key by key, replicate by replicate.
    val B = 50
    val keys = spark.range(1, 2001).toDF("k")
    val sqlSide = keys
      .select(col("k"), explode(expr(s"sequence(0, ${(B + 7) / 8 - 1})")).as("g"))
      .withColumn("h", expr("md5(concat(CAST(k AS STRING), '_', CAST(g AS STRING)))"))
      .select(col("k"), col("g"), col("h"), explode(expr("sequence(0, 7)")).as("i"))
      .where(expr(s"g * 8 + i < $B"))
      .select(col("k"), expr("g * 8 + i").as("b"),
        expr("substr(h, i * 4 + 1, 4)").as("u4"))
      .withColumn("w_sql", expr(graft.operators.Relational.PoissonW16Expr))
      .select("k", "b", "w_sql")
    val nativeSide = keys
      .select(col("k"), posexplode(expr(s"graft_bootstrap_weights(k, $B)")))
      .toDF("k", "b", "w_nat")
    val joined = sqlSide.join(nativeSide, Seq("k", "b"), "full_outer")
    val n = joined.count()
    assert(n == 2000L * B, s"row mismatch: $n vs ${2000 * B}")
    val diff = joined
      .filter(col("w_sql").isNull || col("w_nat").isNull
        || col("w_sql") =!= col("w_nat").cast("int")).count()
    assert(diff == 0, s"$diff (key, replicate) draws diverge")
    // Statistical sanity: Poisson(1) weights average ~1.
    val mean = nativeSide.agg(avg(col("w_nat").cast("double"))).first().getDouble(0)
    assert(mean > 0.95 && mean < 1.05, s"weight mean $mean far from 1")
  }

  test("graft_bootstrap_weights accepts any foldable integral count (ADVICE r7)") {
    // CAST(8 AS BIGINT) and 4*2 are integral constants; the literal-only
    // match rejected them with a misleading 'needs to be an integer'.
    for (count <- Seq("CAST(8 AS BIGINT)", "4 * 2", "CAST(8 AS SMALLINT)")) {
      val n = spark.range(1, 4).toDF("k")
        .selectExpr(s"size(graft_bootstrap_weights(k, $count)) AS s")
        .collect().map(_.getInt(0)).toSeq
      assert(n == Seq(8, 8, 8), s"$count: sizes $n")
    }
    // Non-integral / non-foldable still fail analysis, naming the fn
    // and the position of the offending argument.
    val bad = Seq("'8'", "8.5", "k")
      .map(b => (s"graft_bootstrap_weights(k, $b)", "graft_bootstrap_weights", 2)) :+
      (("graft_pq_min_keys(array(k), array(array(k)), k)", "graft_pq_min_keys", 3))
    for ((call, fn, pos) <- bad) {
      val e = intercept[org.apache.spark.sql.AnalysisException] {
        spark.range(1, 4).toDF("k").selectExpr(call).collect()
      }
      assert(e.getMessage.contains(fn), s"$call: $e")
      assert(e.getMessage.contains(s"Parameter $pos of function"), s"$call: $e")
    }
  }
}
