package graft

import org.scalatest.funsuite.AnyFunSuite

/** VERDICT r7 #1/#2 — the bench artifact's self-adjudication fields.
  * planSha must be invariant to the run-varying plan-string tokens
  * (expression ids, codegen/plan ids, data paths) and sensitive to
  * real plan changes; trailingMedians must read the committed rolling
  * history and scope itself to the matching scale factor.
  */
class BenchArtifactSpec extends AnyFunSuite {
  import TestSpark.{sf, spark}

  test("planSha is stable across expr-id renumbering and path changes") {
    val a = """*(2) HashAggregate(keys=[g#123L], functions=[count(1)])
              |+- Exchange hashpartitioning(g#123L, 32), [plan_id=456]
              |   +- FileScan parquet [g#123L] Location: file:/root/testdata/sf0.01/x""".stripMargin
    val b = """*(2) HashAggregate(keys=[g#9871L], functions=[count(1)])
              |+- Exchange hashpartitioning(g#9871L, 32), [plan_id=12]
              |   +- FileScan parquet [g#9871L] Location: file:/root/testdata/sf0.1/x""".stripMargin
    assert(Bench.planSha(a) == Bench.planSha(b),
      "expr ids / plan ids / paths leaked into the fingerprint")
    val c = a.replace("HashAggregate", "SortAggregate")
    assert(Bench.planSha(a) != Bench.planSha(c),
      "a real operator change did not change the fingerprint")
    assert(Bench.planSha(a).matches("[0-9a-f]{12}"))
    // Path-LENGTH truncation (r10 leak class): FileScan truncates each
    // metadata value at a fixed width, so a long path loses its
    // closing ']' while a short one keeps it — the two spellings of
    // the same Location must hash equal.
    val locFull = "FileScan parquet [u#1L] Location: MetadataLogFileIndex(1 paths)[/tmp/graft_stream_s_abc/sink], PartitionFilters: []"
    val locCut = "FileScan parquet [u#1L] Location: MetadataLogFileIndex(1 paths)[/tmp/graft_stream_s_abc_p3942171/sin, PartitionFilters: []"
    assert(Bench.planSha(locFull) == Bench.planSha(locCut),
      "Location truncation (path length) leaked into the fingerprint")
    // ...and the MULTI-path variant (src_bloom_prune's pruned-file
    // list): untruncated list, mid-path cut, and after-separator cut
    // must all collapse to the same canonical [<path>].
    val m1 = "FileScan parquet [u#1L] Location: InMemoryFileIndex(2 paths)[/tmp/wh/t_a/f1.parquet, /tmp/wh/t_a/f2.parquet], PartitionFilters: []"
    val m2 = "FileScan parquet [u#1L] Location: InMemoryFileIndex(2 paths)[/tmp/wh/t_aaaaaaaaa/f1.parquet, /tmp/wh/t_aaaaaaaaa/f2.par, PartitionFilters: []"
    val m3 = "FileScan parquet [u#1L] Location: InMemoryFileIndex(2 paths)[/tmp/wh/t_aaaaaaaaaaaaaaaaaa/f1.parquet, , PartitionFilters: []"
    // cut BEFORE the second path's anchor word — the raw beheaded
    // prefix must still be swallowed (the src_bloom_prune flap)
    val m4 = "FileScan parquet [u#1L] Location: InMemoryFileIndex(2 paths)[/tmp/wh/t_aaaaaaaaa/f1.parquet, /root/repo/spark-wa, PartitionFilters: []"
    // cut inside the FIRST path, before its anchor word — no <path>
    // token survives for the list rules, so only the Location-anchored
    // catch-all can canonicalize it (ADVICE r10, Bench.scala).
    val m5 = "FileScan parquet [u#1L] Location: InMemoryFileIndex(1 paths)[/root/repo/spark-wa, PartitionFilters: []"
    // ...and the same geometry at end-of-line (no following metadata
    // key to anchor on).
    val m6 = "FileScan parquet [u#1L] Location: InMemoryFileIndex(1 paths)[/root/repo/spark-wa"
    val canon = "FileScan parquet [u#1L] Location: InMemoryFileIndex(1 paths)[/tmp/wh/f1.parquet], PartitionFilters: []"
    assert(Bench.planSha(m1) == Bench.planSha(m2) &&
      Bench.planSha(m2) == Bench.planSha(m3) &&
      Bench.planSha(m3) == Bench.planSha(m4),
      "multi-path Location truncation leaked into the fingerprint")
    assert(Bench.planSha(m5) == Bench.planSha(canon),
      "first-path-cut Location truncation leaked into the fingerprint")
    assert(Bench.planNorm(m6).endsWith("[<path>]"),
      "end-of-line Location truncation left raw path text")
    // Typed-pipeline closures: lambda index / hidden-class address /
    // identity hash all vary per JVM boot (measured: mm_decode_jpeg's
    // sha diverged across two otherwise-identical boots before this).
    val l1 = "MapPartitions graft.operators.MultimodalOps$$$Lambda$6764/0x00007f1099871078@ce26cb1, obj#12748"
    val l2 = "MapPartitions graft.operators.MultimodalOps$$$Lambda$123/0x00000008019c7000@4c2bb6e0, obj#99"
    assert(Bench.planSha(l1) == Bench.planSha(l2),
      "lambda identity leaked into the fingerprint")
    // ...but the strip is SCOPED to the lambda token: '@'+hex inside a
    // genuine plan literal is plan identity, and two different
    // literals must not hash equal (second review pass, r8).
    assert(Bench.planSha("Filter (email# = bob@cafe.com)")
      != Bench.planSha("Filter (email# = bob@dead.com)"),
      "'@'+hex literal content was over-normalized away")
  }

  test("planSha absorbs aggregator object identities and session-table suffixes (r8 leak classes)") {
    // Typed-Aggregator plans print the aggregator via Object.toString —
    // the identity hash varies per boot (judge-found r8: agg_cms_heavy,
    // agg_kmv_distinct, agg_variance_welford, mr_redmap_pipeline).
    val a1 = "ObjectHashAggregate(keys=[], functions=[kmvdistinct$(h#5L, graft.functions.KmvDistinct$@58453967, class[value[0]: bigint])])"
    val a2 = "ObjectHashAggregate(keys=[], functions=[kmvdistinct$(h#9L, graft.functions.KmvDistinct$@746f5752, class[value[0]: bigint])])"
    assert(Bench.planSha(a1) == Bench.planSha(a2),
      "aggregator identity hash leaked into the fingerprint")
    val r1 = "reduceaggregator(org.apache.spark.sql.expressions.ReduceAggregator@5e4b92b3, Some(newInstance(class scala.Tuple2)))"
    val r2 = "reduceaggregator(org.apache.spark.sql.expressions.ReduceAggregator@421a0ba2, Some(newInstance(class scala.Tuple2)))"
    assert(Bench.planSha(r1) == Bench.planSha(r2),
      "ReduceAggregator identity hash leaked into the fingerprint")
    // ...scoped: a dotted email literal whose local part is non-hex
    // must NOT be normalized (the '@example' run fails the hex+boundary
    // requirement), so distinct literals keep distinct shas.
    assert(Bench.planSha("Filter (e# = john.doe@example.com)")
      != Bench.planSha("Filter (e# = jane.doe@example.com)"),
      "dotted-literal content was over-normalized away")
    // Session-keyed catalog tables end in _<identityHashCode(spark)> —
    // per-boot (judge-found r8: the dedup_*_incremental / sim_ivf_* /
    // sim_ann_indexed / src_dpp_scan leaks). The 32-hex dir digest
    // anchors the strip.
    val t1 = "FileScan parquet spark_catalog.default.graft_fp_b_a1e8d12c19f219451c9c328c515afd62_1913881824[h#12]"
    val t2 = "FileScan parquet spark_catalog.default.graft_fp_b_a1e8d12c19f219451c9c328c515afd62_38096973[h#91]"
    assert(Bench.planSha(t1) == Bench.planSha(t2),
      "session-table suffix leaked into the fingerprint")
    // ...but DIFFERENT dirs (different md5) stay distinct, and a plain
    // name_123 column without the digest anchor is untouched.
    val t3 = "FileScan parquet spark_catalog.default.graft_fp_b_ffffffffffffffffffffffffffffffff_1913881824[h#12]"
    assert(Bench.planSha(t1) != Bench.planSha(t3),
      "table dir digest was over-normalized away")
    assert(Bench.planSha("Project [name_123#4]")
      != Bench.planSha("Project [name_456#4]"),
      "ordinary _<digits> identifier was over-normalized away")
  }

  test("planSha absorbs gid permutation from multi-distinct rewrites (r9 leak class)") {
    // RewriteDistinctAggregates numbers its distinct groups in
    // ExpressionSet hash order — per-boot — permuting both the FILTER
    // (gid = N) bindings and the Expand row order (full-set two-boot
    // check, r9: qc_profile, stat_chi2, ev_user_features).
    val g1 = """HashAggregate(keys=[u#], functions=[partial_count(day#L) FILTER (WHERE (gid# = 1)), partial_count(et#) FILTER (WHERE (gid# = 2))])
               |+- Expand [[u#, null, null, 0, v#L], [u#, day#L, null, 1, null], [u#, null, et#, 2, null]], [u#, day#L, et#, gid#, v#L]""".stripMargin
    val g2 = """HashAggregate(keys=[u#], functions=[partial_count(day#L) FILTER (WHERE (gid# = 2)), partial_count(et#) FILTER (WHERE (gid# = 1))])
               |+- Expand [[u#, null, null, 0, v#L], [u#, null, et#, 1, null], [u#, day#L, null, 2, null]], [u#, day#L, et#, gid#, v#L]""".stripMargin
    assert(Bench.planSha(g1) == Bench.planSha(g2),
      "gid permutation leaked into the fingerprint")
    // ...but a genuinely different Expand row SET stays distinct.
    val g3 = g1.replace("[u#, day#L, null, 1, null]", "[u#, day#L, day#L, 1, null]")
    assert(Bench.planSha(g1) != Bench.planSha(g3),
      "Expand row content was over-normalized away")
    // The rewrite ALSO emits its grouping keys in per-boot order,
    // permuting key=[...], Sort [...], and hashpartitioning(...) of
    // the rewritten subtree (second two-boot sweep, r9: qc_profile).
    // gid#-containing lists canonicalize; gid#-free lists keep their
    // order — a REAL key-set change must still move the sha.
    val k1 = """SortAggregate(key=[a#, b#, c#, gid#], functions=[min(a#) FILTER (WHERE (gid# = 1))])
               |+- Sort [a# ASC NULLS FIRST, b# ASC NULLS FIRST, c# ASC NULLS FIRST, gid# ASC NULLS FIRST], false, 0
               |   +- Exchange hashpartitioning(a#, b#, c#, gid#, 16), ENSURE_REQUIREMENTS, [plan_id=]""".stripMargin
    val k2 = """SortAggregate(key=[c#, a#, b#, gid#], functions=[min(a#) FILTER (WHERE (gid# = 2))])
               |+- Sort [c# ASC NULLS FIRST, a# ASC NULLS FIRST, b# ASC NULLS FIRST, gid# ASC NULLS FIRST], false, 0
               |   +- Exchange hashpartitioning(c#, a#, b#, gid#, 16), ENSURE_REQUIREMENTS, [plan_id=]""".stripMargin
    assert(Bench.planSha(k1) == Bench.planSha(k2),
      "gid-subtree key order leaked into the fingerprint")
    assert(Bench.planSha(k1) != Bench.planSha(k1.replace("c#, gid#", "d#, gid#")),
      "gid-subtree key CONTENT was over-normalized away")
    // gid#-free lists keep their order: a user-facing sort reorder is
    // a real plan change.
    assert(Bench.planSha("Sort [x# ASC NULLS FIRST, y# ASC NULLS FIRST]")
      != Bench.planSha("Sort [y# ASC NULLS FIRST, x# ASC NULLS FIRST]"),
      "a gid-free sort order was over-normalized away")
  }

  test("planSha absorbs where FileScan cuts a long filter list (DataFilters truncation leak class)") {
    // FileScan shortens each metadata value with Spark's own rule —
    // StringUtils.abbreviate at spark.sql.maxMetadataStringLength (100):
    // 97 characters plus '...' — BEFORE planNorm strips '#<id>', so the
    // digit count of the ids moves the cut point. The same predicates
    // rendered with 2-digit and 5-digit ids (the ev_range_join events
    // scan) must hash equal once cut.
    def filters(id: Int) =
      s"[isnotnull(event_type#$id), (event_type#$id = click), " +
        s"isnotnull(user_id#${id + 1}L), isnotnull((unix_micros(ts#${id + 2}) div 86400000000)), " +
        s"isnotnull(unix_micros(ts#${id + 2})), isnotnull(event_id#${id + 3}L)]"
    def scan(id: Int, dataFilters: String) =
      s"FileScan parquet [event_id#${id + 3}L,ts#${id + 2},user_id#${id + 1}L,event_type#$id] " +
        s"Batched: true, DataFilters: $dataFilters, Format: Parquet, " +
        "Location: InMemoryFileIndex(1 paths)[file:/data/sf0.1/events.parquet], " +
        "PartitionFilters: [], PushedFilters: [IsNotNull(event_type), EqualTo(event_type,click)], " +
        "ReadSchema: struct<event_id:bigint,ts:timestamp,user_id:bigint,event_type:string>"
    def cut(v: String) = org.apache.commons.lang3.StringUtils.abbreviate(v, 100)
    val (narrow, wide) = (cut(filters(12)), cut(filters(48213)))
    assert(narrow.length == 100 && narrow.endsWith("...") && wide.length == 100)
    // The fixture really straddles a cut point: without ids the two
    // shortened values still differ.
    assert(narrow.replaceAll("#\\d+", "#") != wide.replaceAll("#\\d+", "#"))
    assert(Bench.planSha(scan(12, narrow)) == Bench.planSha(scan(48213, wide)),
      "the id digit count leaked into the fingerprint through the DataFilters cut")
    // A cut PartitionFilters value keeps its text: Spark drops
    // partition-only predicates from the Filter above the scan, so
    // this value is their only record in the plan.
    val part = "FileScan parquet [a#1] Batched: true, DataFilters: [], Format: Parquet, " +
      s"Location: InMemoryFileIndex(1 paths)[file:/data/t], PartitionFilters: $narrow, " +
      "PushedFilters: [], ReadSchema: struct<a:int>"
    assert(Bench.planNorm(part).contains("PartitionFilters: [isnotnull(event_type#), "))
    // A whole (unshortened) list keeps its content: a different
    // predicate still moves the sha.
    val whole = scan(12, "[isnotnull(event_type#12), (event_type#12 = click)]")
    assert(Bench.planSha(whole) !=
      Bench.planSha(whole.replace("= click)]", "= view)]")),
      "an unshortened DataFilters value was over-normalized away")
    assert(Bench.planNorm(whole).contains("DataFilters: [isnotnull(event_type#), (event_type# = click)]"))
  }

  test("planSha of a live query is identical across two builds in one session") {
    def build() = graft.operators.Relational.q01PricingSummary(spark, sf)
    val s1 = Bench.planSha(build().queryExecution.executedPlan.toString)
    val s2 = Bench.planSha(build().queryExecution.executedPlan.toString)
    // The second build allocates fresh expression ids — the exact
    // across-boot variation the normalization must absorb.
    assert(s1 == s2, "same code, same session: fingerprints diverged")
  }

  test("Bench fails loudly on an unknown query name, before a session starts") {
    // A typo used to be dropped silently: the run then timed fewer
    // queries than asked, or none, and printed that as a result.
    val e = intercept[IllegalArgumentException](
      Bench.main(Array("q01_pricing_summary", "no_such_query")))
    assert(e.getMessage.contains("no_such_query"))
    val out = java.nio.file.Files.createTempDirectory("graft_plans_").resolve("out")
    val ep = intercept[IllegalArgumentException](
      Bench.main(Array("--plans", out.toString, "q01_pricing_summary", "no_such_query")))
    assert(ep.getMessage.contains("no_such_query"))
    assert(!java.nio.file.Files.exists(out), "Bench --plans wrote output for a run it should refuse")
    java.nio.file.Files.delete(out.getParent)
    val eu = intercept[IllegalArgumentException](Bench.main(Array("--plans")))
    assert(eu.getMessage.contains("--plans <outDir>"))
    assert(!spark.sparkContext.isStopped, "Bench stopped the session")
  }

  test("Bench --plans writes each query's fingerprinted plan text and no history artifact") {
    val artifacts = Seq("BENCH_LOCAL.json", Bench.HistoryPath, "PLAN_VARIANTS.jsonl",
      "BENCH_OFFICIAL.json").map(java.nio.file.Paths.get(_))
    def snapshot() = artifacts.map(p =>
      if (java.nio.file.Files.exists(p)) Some(java.nio.file.Files.readAllBytes(p).toSeq) else None)
    val before = snapshot()
    val names = Seq("q01_pricing_summary", "q03_shipping_priority")
    val out = java.nio.file.Files.createTempDirectory("graft_plans_")
    try {
      Bench.dumpPlans(spark, sf, names, out.toString)
      assert(out.toFile.list().toSeq.sorted == names.map(_ + ".plan"))
      names.foreach { n =>
        val text = java.nio.file.Files.readString(out.resolve(n + ".plan"))
        assert(text.endsWith("\n") && !text.startsWith("ERROR: "), s"$n: $text")
        // The sha a timed run records: the same query, run the same
        // way, fingerprinted after its run.
        val df = SparkEntry.queries(n)(spark, sf)
        df.write.format("noop").mode("overwrite").save()
        assert(Bench.sha12(text.dropRight(1)) ==
          Bench.planSha(df.queryExecution.executedPlan.toString), n)
      }
    } finally org.apache.commons.io.FileUtils.deleteDirectory(out.toFile)
    assert(snapshot() == before, "a --plans run changed a history artifact")
  }

  test("only a boot at the host's full core count writes BENCH_OFFICIAL.json") {
    assert(Bench.writesOfficial(cpus = 32, cores = 32))
    assert(Bench.writesOfficial(cpus = 4, cores = 4))
    assert(!Bench.writesOfficial(cpus = 8, cores = 32), "a throttled scaling boot")
    assert(Bench.writesOfficial(cpus = 8, cores = 4), "an oversubscribed boot is not throttled")
  }

  test("Verify fails loudly on an unknown query name, before a session starts") {
    // A typo used to be dropped silently: the dump then held no result
    // for the name and the correctness check it fed had nothing to say.
    val out = java.nio.file.Files.createTempDirectory("graft_verify_")
    try {
      val e = intercept[IllegalArgumentException](
        Verify.main(Array(sf, out.toString, "q01_pricing_summary", "no_such_query")))
      assert(e.getMessage.contains("no_such_query"))
      assert(out.toFile.list().isEmpty, "Verify wrote output for a run it should refuse")
      assert(!spark.sparkContext.isStopped, "Verify stopped the session")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(out.toFile)
  }

  test("trailingMedians: sf scoping, stall-resistant median, corrupt-token degrade") {
    // Own fixture, NOT the live BENCH_HISTORY.jsonl — the product
    // appends a line per full bench run, so asserting on the live
    // artifact would make routine bench activity break sbt test
    // (review finding, r8). The fixture mirrors the committed seed's
    // shape: five sf0.1 lines whose betweenness values replay the
    // r5-r7 history [12.1, 25.3, 15.2, 16.8, 52.1], one foreign-sf
    // line, and one line with a torn numeric token.
    def line(sf: String, betw: String) =
      s"""{"metric":"total","value":1,"unit":"sec","queries":{"graph_betweenness":$betw,"q01":1.0},"failed":0,"sf":"$sf"}"""
    val rows = Seq(
      line("/sf0.1", "12.123"), line("/sf0.1", "25.317"),
      line("/sf0.1", "15.203"), line("/sf0.1", "16.774"),
      line("/sf0.1", "52.111"),
      line("/sf0.001", "0.5"),
      line("/sf0.1", "3.612.007")) // torn token: must degrade, not throw
    val f = java.io.File.createTempFile("bench_hist", ".jsonl")
    f.deleteOnExit()
    java.nio.file.Files.write(f.toPath,
      rows.mkString("", "\n", "\n").getBytes("UTF-8"))
    val m = Bench.trailingMedians("/sf0.1", 32, f.getPath)
    // Window = 5 trailing sf0.1 lines → the torn line contributes
    // nothing, so betweenness medians over [25.3, 15.2, 16.8, 52.1]
    // (even count → mean of middles = 21.05). One stalled entry must
    // not become the baseline. The fixture lines are LEGACY (cpus-less)
    // format and must stay joinable at any cpus (r13 window guard).
    assert(m.get("graph_betweenness").exists(v => v > 15 && v < 30),
      s"betweenness median ${m.get("graph_betweenness")} outside the band")
    assert(m.get("q01").contains(1.0))
    // Foreign sf sees only its own line.
    assert(Bench.trailingMedians("/sf0.001", 32, f.getPath).isEmpty == false)
    assert(Bench.trailingMedians("/sf9", 32, f.getPath).isEmpty)
    // Missing file → no medians, no throw.
    assert(Bench.trailingMedians("/sf0.1", 32, "/nonexistent/h.jsonl").isEmpty)
    // Core-count scoping (VERDICT r12 #3b): a cpus-stamped line joins
    // only a same-cpus window; legacy cpus-less lines join any.
    val fc = java.io.File.createTempFile("bench_hist_cpus", ".jsonl")
    fc.deleteOnExit()
    java.nio.file.Files.write(fc.toPath,
      Seq(
        """{"metric":"total","value":1,"unit":"sec","cpus":32,"queries":{"qa":2.0},"failed":0,"sf":"/sf0.1"}""",
        """{"metric":"total","value":1,"unit":"sec","cpus":8,"queries":{"qa":8.0},"failed":0,"sf":"/sf0.1"}""",
        """{"metric":"total","value":1,"unit":"sec","queries":{"qa":4.0},"failed":0,"sf":"/sf0.1"}""")
        .mkString("", "\n", "\n").getBytes("UTF-8"))
    assert(Bench.trailingMedians("/sf0.1", 32, fc.getPath)
      .get("qa").contains(3.0), "cpus=32 window must see the 32-core and legacy lines only")
    assert(Bench.trailingMedians("/sf0.1", 8, fc.getPath)
      .get("qa").contains(6.0), "cpus=8 window must see the 8-core and legacy lines only")
    // Committed-seed smoke, GUARDED (ADVICE r8): the live history is a
    // mutable bench-appended artifact — a pruned/rotated file or a
    // checkout with no sf0.1 lines yet must not fail the suite; the
    // temp-fixture assertions above are the real gate. When matching
    // lines DO exist, they must parse into at least one median.
    val live =
      try {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.readAllLines(
          java.nio.file.Paths.get(Bench.HistoryPath)).asScala.toList
      } catch { case _: java.io.IOException => Nil }
    if (live.exists(_.contains("\"sf\":\"/root/testdata/sf0.1\"")))
      assert(Bench.trailingMedians("/root/testdata/sf0.1", 32).nonEmpty)
  }

  test("historyPlans: sf and core-count scoping, legacy lines join any window") {
    // Own fixture, as for trailingMedians. The shuffle width is in the
    // plan text, so a cpus-stamped line may join only a same-cpus plan
    // window; a legacy (cpus-less) line joins any; a line without
    // plans is skipped.
    def line(cpus: Option[Int], sf: String, plans: Option[String]) = {
      val c = cpus.fold("")(n => s""","cpus":$n""")
      val p = plans.fold("")(sha => s""","plans":{"qa":"$sha"}""")
      s"""{"metric":"total","value":1,"unit":"sec"$c,"queries":{"qa":1.0},"failed":0$p,"sf":"$sf"}"""
    }
    val (a32, b8, legacy, other) =
      ("aaaaaaaaaaaa", "bbbbbbbbbbbb", "cccccccccccc", "dddddddddddd")
    val f = java.io.File.createTempFile("bench_hist_plans", ".jsonl")
    f.deleteOnExit()
    java.nio.file.Files.write(f.toPath,
      Seq(
        line(None, "/sf0.1", Some(legacy)),
        line(Some(32), "/sf0.1", Some(a32)),
        line(Some(8), "/sf0.1", Some(b8)),
        line(Some(32), "/sf0.1", None),
        line(Some(32), "/sf0.001", Some(other)))
        .mkString("", "\n", "\n").getBytes("UTF-8"))
    assert(Bench.historyPlans("/sf0.1", 32, f.getPath) ==
      List(Map("qa" -> legacy), Map("qa" -> a32)),
      "cpus=32 plan window must see the 32-core and legacy lines only")
    assert(Bench.historyPlans("/sf0.1", 8, f.getPath) ==
      List(Map("qa" -> legacy), Map("qa" -> b8)),
      "cpus=8 plan window must see the 8-core and legacy lines only")
    assert(Bench.historyPlans("/sf0.1", 4, f.getPath) == List(Map("qa" -> legacy)))
    assert(Bench.historyPlans("/sf0.001", 32, f.getPath) == List(Map("qa" -> other)))
    assert(Bench.historyPlans("/sf0.1", 32, "/nonexistent/h.jsonl").isEmpty)
    // The spec's window is read at the newest plans-carrying line's core
    // count (here the 8-core line; the later 32-core line has no plans).
    assert(Bench.newestPlansCpus("/sf0.1", f.getPath) == 8)
    assert(Bench.newestPlansCpus("/sf0.1", "/nonexistent/h.jsonl") == -1)
  }

  test("officialMedian: same-source window, per-query stall absorption, artifact consistency (r12)") {
    // VERDICT r10 #2 + r11 #3: the official number is the per-query
    // median over same-SOURCE-TREE, same-sf full boots (src-keyed so
    // artifact-only commits don't reset the window; legacy src-less
    // lines fall back to head matching). Fixture: three same-src
    // boots (one with a 10× stall on q2, one missing q3 entirely and
    // failing q4), one foreign-src boot, one foreign-sf boot, one
    // legacy same-head boot.
    def line(sf: String, head: String, src: String, qs: String,
        tot: Double) = {
      val srcField = if (src.isEmpty) "" else s""","src":"$src""""
      s"""{"metric":"total","value":$tot,"unit":"sec","queries":{$qs},"failed":0,"head":"$head"$srcField,"sf":"$sf"}"""
    }
    val rows = Seq(
      line("/sf0.1", "aaaa00000001", "src000000001",
        "\"q1\":1.0,\"q2\":2.0,\"q3\":5.0,\"q4\":1.0", 9.0),
      line("/sf0.1", "aaaa00000001", "src000000001",
        "\"q1\":1.2,\"q2\":20.0,\"q4\":-1", 21.2), // stalled + q4 failed
      line("/sf0.1", "cccc00000003", "src000000002",
        "\"q1\":9.9,\"q2\":9.9", 19.8), // foreign src
      line("/sf0.001", "aaaa00000001", "src000000001",
        "\"q1\":0.1,\"q2\":0.1", 0.2), // foreign sf
      line("/sf0.1", "aaaa00000001", "", "\"q1\":9.0,\"q2\":9.0", 18.0),
      // legacy (src-less) line above: same head → joins the window
      line("/sf0.1", "bbbb00000002", "src000000001",
        "\"q1\":1.1,\"q2\":2.2,\"q3\":5.1,\"q4\":-1", 8.4))
      // ^ same src under a DIFFERENT head (artifact-only commit):
      //   must still join — the r11 #3 fix's whole point.
    val f = java.io.File.createTempFile("bench_hist_official", ".jsonl")
    f.deleteOnExit()
    java.nio.file.Files.write(f.toPath,
      rows.mkString("", "\n", "\n").getBytes("UTF-8"))
    val (med, totals, counts) =
      Bench.officialMedian("/sf0.1", "aaaa00000001", "src000000001", 32,
        f.getPath)
    assert(totals.size == 4, s"window totals wrong: $totals")
    assert(med.get("q1").contains((1.1 + 1.2) / 2), s"q1: ${med.get("q1")}")
    assert(med.get("q2").contains((2.2 + 9.0) / 2),
      s"q2 median ${med.get("q2")}: the stalled boot leaked into the official number")
    // Sample-basis counts (ADVICE r11): q3 has 2 of 4 samples, q4
    // failed in both boots that ran it → count 1 (one valid sample).
    assert(counts.get("q3").contains(2) && counts.get("q4").contains(1),
      s"short-basis counts wrong: $counts")
    // Foreign src sees only its own boot; unknown keys match nothing.
    assert(Bench.officialMedian("/sf0.1", "cccc00000003", "src000000002",
      32, f.getPath)._2.size == 1)
    assert(Bench.officialMedian("/sf0.1", "unknown", "unknown",
      32, f.getPath)._1.isEmpty)
    // Core-count scoping (VERDICT r12 #3b): a same-src boot at a
    // DIFFERENT core count must not pool into the official window —
    // the r12 failure mode was the driver's 8-core scaling boot
    // joining the 32-core median.
    val fcpu = java.io.File.createTempFile("bench_official_cpus", ".jsonl")
    fcpu.deleteOnExit()
    def cline(cpus: Int, q1: Double) =
      s"""{"metric":"total","value":$q1,"unit":"sec","cpus":$cpus,"queries":{"q1":$q1},"failed":0,"head":"aaaa00000001","src":"src000000001","sf":"/sf0.1"}"""
    java.nio.file.Files.write(fcpu.toPath,
      Seq(cline(32, 1.0), cline(8, 5.0), cline(32, 2.0))
        .mkString("", "\n", "\n").getBytes("UTF-8"))
    val (m32, t32, _) = Bench.officialMedian(
      "/sf0.1", "aaaa00000001", "src000000001", 32, fcpu.getPath)
    assert(t32.size == 2 && m32.get("q1").contains(1.5),
      s"8-core boot leaked into the 32-core official window: $t32 $m32")
    assert(Bench.officialMedian("/sf0.1", "aaaa00000001", "src000000001",
      8, fcpu.getPath)._2 == List(5.0))
    // gitHead resolves THIS repo's committed HEAD (sha12) when a .git
    // exists (ADVICE r11: with the gitdir-file indirection it now also
    // resolves inside worktrees — so the assertion is conditional only
    // on .git being present at all, not on its layout)…
    if (java.nio.file.Files.exists(java.nio.file.Paths.get(".git")))
      assert(Bench.gitHead().matches("[0-9a-f]{12}"),
        "gitHead could not resolve the repo HEAD")
    // …and srcTreeHash resolves the plan-relevant tree key.
    assert(Bench.srcTreeHash().matches("[0-9a-f]{12}"),
      "srcTreeHash could not hash src/main")
    // gitdir-file indirection unit fixture: a fake worktree .git file
    // pointing at a fake gitdir with commondir-shared refs.
    val wt = java.nio.file.Files.createTempDirectory("wt_git")
    val gd = wt.resolve("gitdirs/wtree")
    val shared = wt.resolve("shared")
    java.nio.file.Files.createDirectories(gd)
    java.nio.file.Files.createDirectories(shared.resolve("refs/heads"))
    java.nio.file.Files.writeString(gd.resolve("HEAD"),
      "ref: refs/heads/main\n")
    java.nio.file.Files.writeString(gd.resolve("commondir"),
      "../../shared\n")
    java.nio.file.Files.writeString(shared.resolve("refs/heads/main"),
      "0123456789abcdef0123456789abcdef01234567\n")
    val gitFile = wt.resolve("dotgit")
    java.nio.file.Files.writeString(gitFile,
      s"gitdir: ${gd.toAbsolutePath}\n")
    assert(Bench.gitHead(gitFile.toString) == "0123456789ab",
      "gitHead did not follow the worktree gitdir/commondir indirection")
    // LIVE artifact consistency: if BENCH_OFFICIAL.json exists, its
    // value must equal the sum of per-query medians recomputed from
    // the committed history for its own src+sf — a stale or
    // hand-edited official artifact fails the suite.
    val offPath = java.nio.file.Paths.get("BENCH_OFFICIAL.json")
    if (java.nio.file.Files.exists(offPath)) {
      val txt = java.nio.file.Files.readString(offPath)
      val v = "\"value\":(-?[0-9][0-9.eE+-]*)".r.findFirstMatchIn(txt)
        .map(_.group(1).toDouble)
      val h = "\"head\":\"([^\"]*)\"".r.findFirstMatchIn(txt).map(_.group(1))
      val src = "\"src\":\"([^\"]*)\"".r.findFirstMatchIn(txt).map(_.group(1))
      val sf = "\"sf\":\"([^\"]*)\"".r.findFirstMatchIn(txt).map(_.group(1))
      val boots = "\"boots\":(\\d+)".r.findFirstMatchIn(txt)
        .map(_.group(1).toInt)
      assert(v.isDefined && h.isDefined && sf.isDefined && boots.isDefined,
        "BENCH_OFFICIAL.json is missing value/head/sf/boots")
      // r13+: the artifact records its window's core count; a legacy
      // (cpus-less) artifact recomputes with a sentinel that matches
      // no cpus-stamped line, reproducing its legacy-only window.
      val aCpus = "\"cpus\":(\\d+)".r.findFirstMatchIn(txt)
        .map(_.group(1).toInt).getOrElse(-1)
      val (liveMed, liveTotals, _) = Bench.officialMedian(
        sf.get, h.get, src.getOrElse("unknown"), aCpus)
      // The artifact is valid only while the history still contains
      // its window (history is append-only, so a matching window can
      // only grow PAST the artifact's — in that case the artifact is
      // from an older boot of the same source state and must still
      // match the recompute only if the window size agrees).
      if (liveTotals.size == boots.get) {
        val recomputed = liveMed.values.sum
        assert(math.abs(recomputed - v.get) < 0.01 * math.max(1.0, v.get),
          s"BENCH_OFFICIAL.json value ${v.get} != recomputed median " +
            s"$recomputed over its ${boots.get}-boot window")
      }
    }
  }

  test("cross-round plan-sha stability: consecutive official lines agree on unchanged queries (r10)") {
    // VERDICT r9 wrong #2: r9's normalizer change confounded the
    // cross-round sha comparison once; with the normalizer fixed, sha
    // equality across rounds is meaningful again and is asserted here
    // as a standing artifact check. The LAST TWO matching-sf history
    // lines (two boots of one round, or consecutive rounds) must agree
    // on every SHARED query except those explicitly allowlisted with a
    // reason — an unexplained cross-line sha move is either a plan
    // regression or a new normalizer leak class, both of which must
    // fail the suite the round they appear.
    // Membership is checked against the TRAILING WINDOW (the medians
    // window), not only the immediately-previous line: AQE's final
    // executed plan is load-adaptive by design (a contended boot can
    // legitimately split/coalesce differently), so a sha REVERTING to
    // a recently-seen value is not a regression. A sha nobody in the
    // window has seen still fails — that is the signature of both a
    // plan regression and a new leak class. (The ev_range_join flip
    // seen since r10, d11a192f34cc <-> 4d0aa75c366b, was not a replan:
    // it was FileScan's DataFilters cut moving with the id digit
    // count, a leak planNorm now closes.)
    // "Consecutive" means consecutive at ONE core count: the shuffle
    // width is in the plan text, so the window is read at the core
    // count of the newest plans-carrying line (legacy cpus-less lines
    // join any window; see Bench.cpusMatches).
    val sfDir = "/root/testdata/sf0.1"
    val hist = Bench.historyPlans(sfDir, Bench.newestPlansCpus(sfDir))
    assume(hist.size >= 2, "needs two plans-carrying sf0.1 history lines")
    val cur = hist.last
    val window = hist.dropRight(1).takeRight(5)
    val prevSeen: Map[String, Set[String]] = window.flatMap(_.toSeq)
      .groupBy(_._1).map { case (q, kv) => q -> kv.map(_._2).toSet }
    // Queries whose CODE changed between the two lines, with the
    // change that justifies the sha move. EMPTY is the steady state
    // (VERDICT r10 #3): r10's 22 one-time entries (the
    // Location-truncation fix boundary + one AQE flap + one
    // measured-and-reverted rewrite) aged out once the trailing
    // window filled with post-fix boots — verified by replaying this
    // check against the committed history with the map empty before
    // deleting them. A round that legitimately changes a query's
    // plan absorbs the move by landing ≥2 full bench boots before
    // the round-close `sbt test` (the window then contains the new
    // sha); an entry here is reserved for a mover that CANNOT be
    // re-booted into the window, and must carry its measured reason.
    val changed: Map[String, String] = Map.empty
    val shared = (prevSeen.keySet intersect cur.keySet) -- changed.keySet
    val moved = shared.filter(q => !prevSeen(q).contains(cur(q))).toSeq.sorted
    assert(moved.isEmpty,
      s"${moved.size} queries' plan shas are UNSEEN in the trailing " +
        s"window: ${moved.take(10).mkString(", ")} — either a plan " +
        "regression or a normalizer leak; diagnose with `graft.Bench --plans` " +
        "and either fix or allowlist with a reason")
    assert(shared.size > 100, s"comparison degenerate: ${shared.size} shared")
  }
}
