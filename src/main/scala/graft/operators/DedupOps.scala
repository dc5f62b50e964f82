package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.TextOps.{tokensExpr, tokensSql}
import graft.plans.{Checkpoints, Fixpoint, SizeGate}

/** Deduplication pipeline operators (SURVEY.md §2.4).
  *
  * All variants follow the same scale posture: explode → shuffle on a
  * uniform synthetic key (shingle hash / band-signature / IVF cell) →
  * pair generation bounded per key. Nothing here is O(n²) in the
  * corpus: the n-gram index caps shingle document frequency at
  * [2, NgramDfCap] before generating pairs inside bounded cells, the
  * minhash band keys (band_id, min_signature) distribute uniformly by
  * construction, and embedding candidates come from IVF multi-probe
  * cells of ~P·n/K members. Hot scalar work (shingle hashing, band
  * minima, cosine) runs in graft's native codegen'd expressions.
  *
  * Cross-engine parity: md5 is the only hash (Spark murmur3 != DuckDB
  * hash), decoded to exact 32-bit integers identically in both engines;
  * Jaccard is exact integer division over the hashed sets.
  */
object DedupOps {

  /** One md5 per shingle → exact 32-bit integer (the Spark side fuses
    * this into graft.functions.ShingleHashes; the DuckDB twin decodes
    * the first 8 md5 hex chars with strpos arithmetic — same value).
    * All shingle-set operations downstream (inverted index, Jaccard,
    * minhash) run on these fixed-width longs instead of shingle strings:
    * identical semantics in both engines (the hash is mirrored, so even
    * a collision would collide identically), and the shuffles move 8-byte
    * keys instead of ~20-char strings. */
  private def shingleHashSql(v: String): String =
    (1 to 8)
      .map(i => s"(strpos('0123456789abcdef', substr(md5($v), $i, 1)) - 1) * ${1L << (4 * (8 - i))}")
      .mkString("(", " + ", ")")

  /** Hashed 3-token shingle set per document: (doc_id, hs array<bigint>).
    * Single tokenize pass feeding graft's fused ShingleHashes expression
    * (3-gram build + md5 + hex→long + distinct in one codegen'd loop —
    * see graft.functions.ShingleHashes for the exact SQL pipeline it is
    * byte-identical to). */
  private[graft] def hashedShingleSets(spark: SparkSession, dir: String): DataFrame =
    shingleSetsWhere(spark, dir, lit(true))

  /** [[hashedShingleSets]] restricted by a documents predicate (the
    * corpus/batch split of the incremental op) — the filter runs
    * BEFORE tokenization so neither side pays for the other's text. */
  private[graft] def shingleSetsWhere(spark: SparkSession, dir: String,
      pred: org.apache.spark.sql.Column): DataFrame = {
    // Spread the tokenize+shingle+md5 pass (r13, guide §2 parallelism):
    // documents.parquet is a single row group at bench scale, so the
    // scan — and every checkpointed consumer stage downstream of it —
    // otherwise runs 1-2 tasks; event-log profiling showed the shingle
    // family's heavy stages (tokenize/md5 map sides, exploded
    // inverted-index shuffles, pair verification) all pinned at that
    // width. Hash-partition by doc_id (deterministic under retry,
    // §2.5) at the CPU-spread byte tier, capped at defaultParallelism
    // so at-scale layouts are unchanged.
    val par = shinglePar(spark, dir)
    Tables(spark, dir).documents
      .filter(pred)
      .repartition(par, col("doc_id"))
      .select(col("doc_id"), expr(tokensExpr).as("tk"))
      .filter(size(col("tk")) >= 3)
      .select(col("doc_id"), expr("graft_shingle_hashes(tk)").as("hs"))
  }

  /** Shared DuckDB CTE producing the same hashed shingle sets. */
  private val shingleSql =
    s"""toks AS (
       |  SELECT doc_id, $tokensSql AS tk FROM documents),
       |sh AS (
       |  SELECT doc_id,
       |         list_distinct(list_transform(range(1, len(tk) - 1),
       |           i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2])) AS s
       |  FROM toks WHERE len(tk) >= 3),
       |hsh AS (
       |  SELECT doc_id,
       |         list_distinct(list_transform(s, x -> ${shingleHashSql("x")})) AS hs
       |  FROM sh)""".stripMargin

  /** Exact dedup: content-hash groupBy, keep the min doc_id per group. */
  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents
      .groupBy(md5(col("text").cast("binary")).as("h"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy("h")

  /** MinHash prime modulus (2^31 - 1); all affine-hash arithmetic stays
    * within exact 64-bit integers in both engines. */
  private val MhP = 2147483647L

  /** MinHash + banded LSH near-dup detection.
    *
    * k=8 single-row bands; signature_j = min over shingle hashes h of
    * (a_j * h) % p — the classic one-hash affine family, so each shingle
    * is md5'd ONCE and the 8 band signatures are cheap integer maps.
    * Candidates = pairs sharing any band value; verified with exact
    * Jaccard (over the hashed sets — mirrored in the oracle) >= 0.5
    * within buckets only. P(miss) for a 0.9-Jaccard pair is
    * (1-0.9)^8 = 1e-8.
    *
    * Scale: band join keys (j, mh) distribute uniformly by construction;
    * signatures are 8 longs per doc; the candidate set is tiny, so AQE
    * turns the verification joins into broadcasts rather than shuffling
    * the shingle sets.
    */
  def dedupMinhashLsh(spark: SparkSession, dir: String): DataFrame = {
    // The shingle sets feed THREE consumers (both sides of the band
    // self-join + verification); without a materialization barrier the
    // whole tokenize+shingle+md5 pipeline re-runs for each (r2 plan had
    // 3 documents scans — VERDICT r2 finding #3). localCheckpoint runs
    // it once; MEMORY_AND_DISK blocks spill rather than OOM at scale.
    val sh = hashedShingleSets(spark, dir).localCheckpoint()
    // All 8 band minima in ONE fused expression (graft_minhash_bands)
    // referencing hs once: Catalyst's CollapseProject inlines computed
    // columns into every consumer, and interpreted higher-order functions
    // get no subexpression elimination, so k separate array_min(hs..)
    // projections would recompute the whole tokenize+shingle+md5 chain
    // k times.
    val sig = sh
      .select(col("doc_id"), posexplode(expr("graft_minhash_bands(hs)")))
      .select(col("doc_id"), col("pos").as("j"), col("col").as("mh"))
    val cand = sig.as("a")
      .join(sig.as("b"),
        col("a.j") === col("b.j") && col("a.mh") === col("b.mh") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .distinct()
    // Verification: attach both shingle sets by joining the CHECKPOINTED
    // sh twice — two block reads, zero recompute (the r2 single-pass
    // explode+regroup shape existed to avoid a 3rd pipeline run before
    // the checkpoint; worse, its max(when) regroup aggregated over
    // array<bigint> values, an interpreted array-ordering agg that
    // dominated the query once band collisions made candidates
    // plentiful). Both sides stay codegen'd broadcast/shuffle joins.
    // The candidate frame is repartitioned first (r13): its BYTES are
    // tiny, so the planner broadcasts sh and streams cand — putting
    // the whole array_intersect/union verification on cand's 1-2
    // post-distinct partitions (event-log: a 2 s single-task stage).
    // Spreading the carrier of the per-row CPU is the same move as the
    // pair-spread in dedup_edit_near; width caps at defaultParallelism.
    cand
      .repartition(shinglePar(spark, dir), col("id1"), col("id2"))
      .join(sh.select(col("doc_id").as("id1"), col("hs").as("s1")), "id1")
      .join(sh.select(col("doc_id").as("id2"), col("hs").as("s2")), "id2")
      .withColumn("jac", expr("CAST(size(array_intersect(s1, s2)) AS DOUBLE) / size(array_union(s1, s2))"))
      .filter(col("jac") >= 0.5)
      .select(col("id1"), col("id2"), round(col("jac"), 4).as("jaccard"))
      .orderBy("id1", "id2")
  }

  /** LSH banding recall, measured as a query (the sim_recall_eval move
    * applied to dedup): ground truth = the df-windowed EXACT Jaccard
    * pairs at ≥ 0.5 (the same set algebra the minhash verifier uses),
    * candidates = the raw band-collision pairs, reported per exact
    * Jaccard DECILE so the banding S-curve is visible — high-similarity
    * pairs must be caught near-always (P(miss) = (1−j)^8), the 0.5
    * boundary is allowed to leak. All gating is integer-exact:
    * jac ≥ 0.5 is 2·common ≥ union, the decile is 10·common div union,
    * recall is exact ppm.
    *
    * Scale: ONE checkpointed shingle pass feeds both sides (truth
    * cells + band signatures); truth pair volume is the bounded
    * ≤C(cap,2)-per-cell machinery, the band join is the uniform
    * (j, mh) key — both inherited postures, nothing new to tune. */
  def dedupLshRecall(spark: SparkSession, dir: String): DataFrame = {
    val sh = hashedShingleSets(spark, dir).localCheckpoint()
    val truth = ngramPairCountsFrom(sh, shinglePar(spark, dir))
      .filter(expr("2 * common >= n1 + n2 - common"))
      .select(col("id1"), col("id2"),
        expr("10 * common div (n1 + n2 - common)").as("jac_decile"))
    val sig = sh
      .select(col("doc_id"), posexplode(expr("graft_minhash_bands(hs)")))
      .select(col("doc_id"), col("pos").as("j"), col("col").as("mh"))
    val cand = sig.as("a")
      .join(sig.as("b"),
        col("a.j") === col("b.j") && col("a.mh") === col("b.mh") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .distinct()
      .withColumn("caught", lit(1L))
    truth.join(cand, Seq("id1", "id2"), "left")
      .groupBy("jac_decile")
      .agg(count(lit(1)).as("n_true"),
        sum(coalesce(col("caught"), lit(0L))).as("n_caught"))
      .select(col("jac_decile"), col("n_true"), col("n_caught"),
        expr("n_caught * 1000000 div n_true").as("recall_ppm"))
      .orderBy("jac_decile")
  }

  /** MinHash signature + banded-candidate CTEs shared by the minhash
    * oracle and the end-to-end pipeline oracle (expects `hsh` from
    * [[shingleSql]] in scope). */
  private val minhashCandSql =
    s"""sig AS (
       |  SELECT doc_id, j,
       |         list_min(list_transform(hs,
       |           h -> (((2 * j + 1) * 2654435761) % $MhP) * h % $MhP)) AS mh
       |  FROM hsh CROSS JOIN (SELECT unnest(range(0, 8)) AS j)),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
       |  FROM sig a JOIN sig b ON a.j = b.j AND a.mh = b.mh AND a.doc_id < b.doc_id)""".stripMargin

  /** End-to-end curation pipeline with NEAR-dup removal — the flagship
    * composition a training-data team runs before tokenization: quality
    * gate → exact-dup removal (keep min doc_id) → MinHash-LSH near-dup
    * removal (drop the higher doc_id of every verified pair — the
    * "keep canonical" rule, no connected components needed) → per-lang
    * survivor stats. One declarative plan: Catalyst fuses the gates and
    * the loser set rides in as a broadcast anti-join. */
  def dedupPipeline(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    val quality = TextOps.txtQualityFilter(spark, dir).select("doc_id")
    val keepExact = docs
      .groupBy(md5(col("text").cast("binary")).as("h"))
      .agg(min("doc_id").as("doc_id"))
      .select("doc_id")
    val nearDupLosers = dedupMinhashLsh(spark, dir)
      .select(col("id2").as("doc_id")).distinct()
    docs
      .join(quality, "doc_id")
      .join(keepExact, "doc_id")
      .join(nearDupLosers, Seq("doc_id"), "left_anti")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
      .orderBy("lang")
  }

  /** Second flagship curation composition, built from the r5 stages:
    * quality gate → SUBSUMPTION removal (drop the contained side of
    * every ≥0.8-containment pair — the doc-inside-doc pass
    * [[dedupSubsumed]] adds beyond near-dup pairs) → train/test
    * DECONTAMINATION (drop docs ≥0.6 shingle-contaminated by the
    * held-out corpus, [[dedupContamination]]) → per-source survivor
    * stats with a token budget column (what a data-mixing plan
    * consumes). One declarative plan: the three gates fuse as two
    * anti-joins + one semi-join over the same documents scan family,
    * each gate's candidate set is tiny relative to the corpus (losers
    * and flagged docs), so at scale the anti-joins broadcast. Next to
    * [[dedupPipeline]] (exact + MinHash near-dup) the two pipelines
    * cover both curation regimes a training-data team runs. */
  def dedupPipelineV2(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    val quality = TextOps.txtQualityFilter(spark, dir).select("doc_id")
    val subsumed = dedupSubsumed(spark, dir)
      .select(col("contained_id").as("doc_id")).distinct()
    val contaminated = dedupContamination(spark, dir).select("doc_id")
    docs
      .join(quality, "doc_id")
      .join(subsumed, Seq("doc_id"), "left_anti")
      .join(contaminated, Seq("doc_id"), "left_anti")
      .select(col("source"), col("n_chars"),
        size(expr(tokensExpr)).cast("long").as("n_tokens"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"),
        sum("n_tokens").as("sum_tokens"))
      .orderBy("source")
  }

  /** Document-frequency window for index shingles: df >= 2 prunes
    * singleton shingles (they can never produce a pair — pure win), and
    * df <= 100 drops stop-shingles whose O(df²) pair fan-out would both
    * skew the shuffle and detonate at scale. The cap is mirrored in the
    * oracle SQL, so `common` counts only capped shingles in BOTH engines
    * (standard approximation: a pair sharing ONLY ultra-common shingles
    * is not a near-dup signal). */
  private val NgramDfCap = 100

  /** Exact n-gram Jaccard via a shingle inverted index, ONE pass over
    * the corpus: explode hashed shingles (carrying the set size), group
    * into per-shingle cells, drop cells outside the df window, and
    * generate each cell's ordered pairs with an expression-level nested
    * transform (≤ C(cap,2) pairs per cell — bounded memory and skew by
    * construction). No self-join, no join back to the shingle sets.
    */
  /** Per-pair shared-shingle counts (id1, id2, n1, n2, common) from
    * the df-window-capped inverted index — ONE definition shared by
    * [[dedupNgramJaccard]] (symmetric overlap) and [[dedupSubsumed]]
    * (asymmetric containment), so the cell/pair machinery can never
    * drift between the two set-similarity consumers. */
  /** The shingle family's shared CPU-spread width: documents bytes at
    * the spread tier, capped at defaultParallelism ([[graft.plans.AdaptivePar]]). */
  private def shinglePar(spark: SparkSession, dir: String): Int =
    graft.plans.AdaptivePar.forTable(spark, dir, "documents",
      graft.plans.AdaptivePar.SpreadBytesPerTask)

  private def ngramPairCounts(spark: SparkSession, dir: String): DataFrame =
    ngramPairCountsFrom(hashedShingleSets(spark, dir), shinglePar(spark, dir))

  /** Same pair-count machinery over a CALLER-SUPPLIED shingle-set
    * table — lets [[dedupLshRecall]] drive both the truth side and the
    * LSH candidate side from ONE checkpointed shingle pass. */
  private def ngramPairCountsFrom(sh: DataFrame, par: Int): DataFrame = {
    val ex = sh.select(col("doc_id"), size(col("hs")).as("n"), explode(col("hs")).as("g"))
    // Explicit cell width (r13): the cell stage's cost is the c²/2 pair
    // emission per cell — per-row CPU that AQE's bytes-based coalescing
    // cannot see (it folded this stage to 1-4 tasks at bench scale).
    // An explicit hash repartition on the cell key pins the width (AQE
    // honors user-specified partition counts, and groupBy(g) reuses
    // the exchange — same clustering, no second shuffle); `par` is the
    // callers' documents-bytes spread tier, capped at
    // defaultParallelism as always.
    cellsPairCounts(ex.repartition(par, col("g")))
  }

  /** Cell build + fused pair emission + pair-count aggregation — the
    * df-window-capped inverted-index core. The O(c²) pair generation
    * runs in graft_cell_pairs (one compiled pass per cell; see
    * [[graft.functions.CellPairs]] for the parity contract with the
    * flatten(transform(slice)) idiom it replaced). */
  private def cellsPairCounts(ex: DataFrame): DataFrame = {
    val cells = ex.groupBy("g")
      .agg(sort_array(collect_list(struct(col("doc_id"), col("n")))).as("ids"))
      .filter(size(col("ids")).between(2, NgramDfCap))
    cells
      .select(explode(expr("graft_cell_pairs(ids)")).as("p"))
      .groupBy(col("p.id1").as("id1"), col("p.id2").as("id2"),
        col("p.n1").as("n1"), col("p.n2").as("n2"))
      .agg(count(lit(1)).as("common"))
  }

  def dedupNgramJaccard(spark: SparkSession, dir: String): DataFrame =
    ngramPairCounts(spark, dir)
      .withColumn("jac", expr("CAST(common AS DOUBLE) / (n1 + n2 - common)"))
      .filter(col("jac") >= 0.4)
      .select(col("id1"), col("id2"), round(col("jac"), 4).as("jaccard"))
      .orderBy("id1", "id2")

  /** Exact set-similarity JOIN via prefix filtering (PPJoin's core
    * law; Xiao et al., WWW'08) at Jaccard ≥ 2/5 — the EXACT
    * alternative to MinHash blocking: order every doc's shingle set
    * by the one global (df ASC, shingle ASC) total order and index
    * only each set's first |S| − ⌈τ|S|⌉ + 1 elements; two sets with
    * J ≥ τ MUST share a prefix element (pigeonhole over the ordered
    * overlap), so candidate generation has NO false negatives —
    * unlike dedup_minhash_lsh (probabilistic recall) and unlike
    * dedup_ngram_jaccard's df-cap window (which ignores stop-shingle
    * overlap by contract). The length filter 5·min ≥ 2·max prunes
    * size-incompatible pairs before verification; verification is
    * exact set intersection on the two bounded shingle arrays with
    * the all-integer threshold test 7·inter ≥ 2·(n1+n2).
    *
    * Scale: prefix cells stay small BY the ordering — a globally
    * common shingle sorts LAST in every doc's order and so almost
    * never lands in a prefix; the rarest-first prefix is exactly the
    * low-df end of the index. ⌈2n/5⌉ = (2n+4) div 5 keeps the prefix
    * length integer-exact in both engines. */
  /** The PPJoin candidate stage (prefix index → length-filtered
    * distinct pairs), exposed so ScalingSpec can measure the prefix
    * filter's pruning fraction directly. */
  private[graft] def ppjoinCandidates(spark: SparkSession, dir: String): DataFrame =
    ppjoinCandidatesFrom(ppjoinSets(spark, dir), shinglePar(spark, dir))

  private def ppjoinCandidatesFrom(sh: DataFrame, par: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ex = sh.select(col("doc_id"), col("n"), explode(col("hs")).as("g"))
    val dfg = ex.groupBy("g").agg(count(lit(1)).as("dfg"))
    val w = Window.partitionBy("doc_id").orderBy(col("dfg"), col("g"))
    // Explicit width on the per-doc prefix ranking (r13): the window
    // sort's cost is per exploded ROW, which AQE's bytes-based
    // coalescing folded to 3 tasks at bench scale; the explicit hash
    // repartition is honored by AQE and satisfies the window's
    // doc_id clustering, so no extra exchange is planned.
    val prefix = ex.join(dfg, "g")
      .repartition(par, col("doc_id"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= col("n") - expr("(2 * n + 4) div 5") + 1)
      .select(col("g"), col("doc_id"), col("n"))
    prefix.as("a")
      .join(prefix.as("b"),
        col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
      .filter(expr("5 * least(a.n, b.n) >= 2 * greatest(a.n, b.n)"))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .distinct()
  }

  /** One checkpointed shingle-set pass; [[dedupPpjoin]] threads the
    * same DataFrame into both the candidate stage and verification so
    * the corpus is shingled once per query. */
  private def ppjoinSets(spark: SparkSession, dir: String): DataFrame =
    hashedShingleSets(spark, dir)
      .select(col("doc_id"), col("hs"), size(col("hs")).cast("long").as("n"))
      .localCheckpoint()

  def dedupPpjoin(spark: SparkSession, dir: String): DataFrame = {
    val par = shinglePar(spark, dir)
    val sh = ppjoinSets(spark, dir)
    val cand = ppjoinCandidatesFrom(sh, par)
    // Same verification-carrier spread as dedup_minhash_lsh: cand's
    // bytes are tiny so the planner broadcasts sh and streams cand —
    // the exact array_intersect verification would otherwise run on
    // cand's post-distinct partition count.
    cand
      .repartition(par, col("id1"), col("id2"))
      .join(sh.select(col("doc_id").as("id1"), col("hs").as("h1"),
        col("n").as("n1")), "id1")
      .join(sh.select(col("doc_id").as("id2"), col("hs").as("h2"),
        col("n").as("n2")), "id2")
      .select(col("id1"), col("id2"), col("n1"), col("n2"),
        size(expr("array_intersect(h1, h2)")).cast("long").as("inter"))
      .filter(expr("7 * inter >= 2 * (n1 + n2)"))
      .select(col("id1"), col("id2"),
        (round(col("inter").cast("double") / (col("n1") + col("n2") - col("inter")), 4)
          + lit(0.0)).as("jaccard"))
      .orderBy("id1", "id2")
  }

  /** Asymmetric shingle CONTAINMENT — the subsumption detector Jaccard
    * is structurally blind to: a short document pasted wholly inside a
    * much longer one shares ~all of ITS shingles (containment ≈ 1)
    * while the pair's Jaccard ≈ |short|/|long| stays under any
    * symmetric threshold. Curation pipelines run this as its own pass
    * (quote farms, boilerplate wrappers, doc-in-doc aggregators).
    *
    * containment = common / min(n1, n2) — the smaller side is the
    * candidate subsumee; the contained/container roles are assigned by
    * the size comparison with the id as the deterministic tie-break.
    * Same bounded cell machinery (and therefore the same scale
    * posture) as [[dedupNgramJaccard]]; the math is one exact integer
    * division at the end. */
  def dedupSubsumed(spark: SparkSession, dir: String): DataFrame =
    ngramPairCounts(spark, dir)
      .withColumn("cont", expr("CAST(common AS DOUBLE) / least(n1, n2)"))
      .filter(col("cont") >= 0.8)
      .select(
        when(col("n1") < col("n2") || (col("n1") === col("n2") && col("id1") < col("id2")),
          col("id1")).otherwise(col("id2")).as("contained_id"),
        when(col("n1") < col("n2") || (col("n1") === col("n2") && col("id1") < col("id2")),
          col("id2")).otherwise(col("id1")).as("container_id"),
        col("common"), least(col("n1"), col("n2")).cast("long").as("n_small"),
        round(col("cont"), 4).as("containment"))
      .orderBy("contained_id", "container_id")

  /** 16-bit SimHash from md5-derived per-token bit votes (exact integer
    * arithmetic end-to-end so the oracle match is bit-perfect).
    *
    * The 16-bit token value decodes via one `conv(hex, 16, 10)` call
    * (the DuckDB oracle keeps a strpos-arithmetic decode of the same 4
    * hex chars — identical integers, so parity holds); bit votes are
    * branch-free arithmetic instead of CASE chains.
    */
  /** (doc_id, simhash) for every document — the ONE Spark-side
    * definition of the 16-bit simhash scheme (md5-nibble token values,
    * ±1 bit votes, sign reassembly), shared by [[dedupSimhash]] and
    * [[editNearCandidates]] so the scheme can never drift between its
    * consumers. Mirrored 1:1 by [[simhashCte]] on the oracle side. */
  private def simhashDf(spark: SparkSession, dir: String): DataFrame = {
    val hexVal = "CAST(conv(substr(md5(t), 1, 4), 16, 10) AS INT)"
    val votes = (0 until 16).map(b =>
      sum(expr(s"(shiftright(v, $b) & 1) * 2 - 1")).as(s"s$b"))
    val simhash = (0 until 16)
      .map(b => s"(CASE WHEN s$b > 0 THEN ${1 << b} ELSE 0 END)")
      .mkString(" + ")
    Tables(spark, dir).documents
      .select(col("doc_id"),
        explode(expr(s"array_distinct($tokensExpr)")).as("t"))
      .withColumn("v", expr(hexVal))
      .groupBy("doc_id")
      .agg(votes.head, votes.tail: _*)
      .select(col("doc_id"), expr(s"CAST($simhash AS BIGINT)").as("simhash"))
  }

  def dedupSimhash(spark: SparkSession, dir: String): DataFrame =
    simhashDf(spark, dir).orderBy("doc_id")

  /** Incremental (delta) dedup — the PRODUCTION dedup shape: you never
    * re-dedup the 100 TB corpus, you dedup the day's increment against
    * it. "Existing" corpus = source src0; "new batch" = everything
    * else. A new doc survives if its fingerprint appears nowhere in
    * the existing index (left-anti against the existing hashes — never
    * a new×existing row join) and it is the canonical (min-id) copy
    * within its batch fingerprint group.
    *
    * The existing side IS a persisted bucketed-by-hash catalog table
    * ([[graft.sources.Formats.fingerprintCatalog]]), not a per-batch
    * recomputation (VERDICT r4 #1: the old plan re-scanned and
    * re-distinct'ed the whole corpus on every increment — O(corpus)
    * per batch, contradicting this scaladoc). The corpus scan +
    * distinct now happen once at catalog build; every batch's
    * anti-join collapses onto the catalog's bucket distribution with
    * ZERO exchange on the catalog side (FormatsSpec-asserted — only
    * the batch shuffles, into the bucket lattice), and the subsequent
    * per-fingerprint groupBy reuses the join's hash partitioning. So
    * the recurring cost is O(increment), independent of corpus size —
    * the plan now matches the claim. */
  def dedupIncremental(spark: SparkSession, dir: String): DataFrame = {
    val existing = graft.sources.Formats.fingerprintCatalog(spark, dir)
    Tables(spark, dir).documents
      .filter(col("source") =!= "src0")
      .select(col("doc_id"), md5(col("text")).as("h"))
      .join(existing, Seq("h"), "left_anti")
      .groupBy("h")
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_batch_copies"))
      .orderBy("h")
  }

  /** Corpus-side (src0) MinHash catalogs, written ONCE per (session,
    * dir) — the near-dup analogue of [[graft.sources.Formats.fingerprintCatalog]]:
    * (1) band signatures as a table bucketed+sorted by (j, mh), the
    * exact key the incremental band-probe joins on, and (2) the shingle
    * sets bucketed by doc_id for exchange-free verification attach.
    * Together they make recurring near-dup cost O(increment): the
    * corpus is re-shingled exactly never. */
  private def minhashCatalogs(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    import graft.sources.Formats
    // ONE corpus tokenize+shingle pass feeds both catalog writes (the
    // r5 "1 corpus pass is the floor" discipline); lazy so a session
    // whose catalogs already exist never runs it at all. Blocks are
    // tracked and freed after both writes land (the componentCatalogs
    // discipline — without it the corpus-sized shingle blocks stayed
    // persisted for the rest of the session after the one-time build).
    var shIds = Set.empty[Int]
    var built = false
    lazy val corpusSh = {
      val (df, ids) = Checkpoints.tracked(
        shingleSetsWhere(spark, dir, col("source") === "src0"))
      shIds = ids; built = true
      df
    }
    val bands = Formats.sessionTable(spark, dir, "graft_mh_band_") { tbl =>
      corpusSh
        .select(col("doc_id"), posexplode(expr("graft_minhash_bands(hs)")))
        .select(col("pos").as("j"), col("col").as("mh"), col("doc_id"))
        .repartition(Formats.FactBuckets, col("j"), col("mh"))
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .bucketBy(Formats.FactBuckets, "j", "mh").sortBy("j", "mh")
        .option("path", Formats.bucketedPath(tbl)).saveAsTable(tbl)
    }
    val shingles = Formats.sessionTable(spark, dir, "graft_mh_sh_") { tbl =>
      corpusSh
        .repartition(Formats.FactBuckets, col("doc_id"))
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .bucketBy(Formats.FactBuckets, "doc_id").sortBy("doc_id")
        .option("path", Formats.bucketedPath(tbl)).saveAsTable(tbl)
    }
    // free only if the lazy build actually ran (the memo-hit path
    // evaluates nothing and there is nothing to free)
    if (built) Checkpoints.free(spark.sparkContext, shIds)
    (bands, shingles)
  }

  /** Incremental NEAR-dup — [[dedupIncremental]]'s contract lifted from
    * exact hashes to MinHash similarity (the production daily-delta
    * near-dedup): the new batch's band signatures probe the PERSISTED
    * corpus band catalog (bucketed by (j, mh), so only the batch
    * shuffles — into the catalog's bucket lattice), candidates verify
    * by exact Jaccard against the PERSISTED shingle catalog (bucketed
    * by doc_id, same property), and the corpus is never re-shingled.
    * Recurring cost is O(batch + collisions), independent of corpus
    * size — the claim FormatsSpec pins on the plan. Readout: verified
    * (batch doc, corpus doc) pairs at Jaccard ≥ 0.5 — what a delta-load
    * quarantines before appending. Within-batch dups are
    * dedup_minhash_lsh's job on the (small) batch itself. */
  def dedupMinhashIncremental(spark: SparkSession, dir: String): DataFrame = {
    // batch stays checkpointed-but-live: the result is LAZY (the plan
    // must stay inspectable — FormatsSpec reads its exchanges), so its
    // blocks are reclaimed by the per-query cleanup the Verify/Bench
    // loops run, the same contract as every lazy checkpointing op.
    val batch = shingleSetsWhere(spark, dir, col("source") =!= "src0")
      .localCheckpoint()
    batchCorpusNearDups(spark, dir, batch)
      .select(col("batch_id"), col("corpus_id"), round(col("jac"), 4).as("jaccard"))
      .orderBy("batch_id", "corpus_id")
  }

  private val JacVerifyExpr =
    "CAST(size(array_intersect(s1, s2)) AS DOUBLE) / size(array_union(s1, s2))"

  /** Verified (batch doc, corpus doc) near-dup pairs through the
    * persisted catalogs — ONE definition of the band probe + Jaccard
    * verification, shared by [[dedupMinhashIncremental]]'s readout and
    * [[dedupComponentsIncremental]]'s cross edges. `batch` must be the
    * checkpointed batch shingle table; output columns (batch_id,
    * corpus_id, jac). */
  private[graft] def batchCorpusNearDups(spark: SparkSession, dir: String,
      batch: DataFrame): DataFrame = {
    val (bands, shingles) = minhashCatalogs(spark, dir)
    batch
      .select(col("doc_id").as("batch_id"),
        posexplode(expr("graft_minhash_bands(hs)")))
      .select(col("batch_id"), col("pos").as("j"), col("col").as("mh"))
      .join(bands.withColumnRenamed("doc_id", "cid"), Seq("j", "mh"))
      .select(col("batch_id"), col("cid").as("corpus_id"))
      .distinct()
      .join(shingles.select(col("doc_id").as("corpus_id"), col("hs").as("s2")),
        "corpus_id")
      .join(batch.select(col("doc_id").as("batch_id"), col("hs").as("s1")),
        "batch_id")
      .withColumn("jac", expr(JacVerifyExpr))
      .filter(col("jac") >= 0.5)
      .select("batch_id", "corpus_id", "jac")
  }

  /** Corpus component catalogs, built ONCE per (session, dir) on top of
    * [[minhashCatalogs]]: (doc_id → component label) bucketed by doc_id
    * for O(1)-ish endpoint lookups, and (label → member count) bucketed
    * by label for the contracted-graph weights. The corpus CC loop runs
    * HERE, at ingest time — the cost a warehouse pays once per corpus
    * version — and the band self-join that feeds it is CO-LOCATED (both
    * sides the same (j, mh)-bucketed table), so even the build moves no
    * corpus bytes through an exchange. */
  private def componentCatalogs(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    import graft.sources.Formats
    var allIds = Set.empty[Int]
    lazy val all = {
      val (bands, shingles) = minhashCatalogs(spark, dir)
      val cand = bands.as("a")
        .join(bands.as("b"),
          col("a.j") === col("b.j") && col("a.mh") === col("b.mh") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
        .distinct()
      // Checkpointed before the loop: minLabelComponents references its
      // edge list ~4x per propagation round, and without the cut each
      // reference re-runs the whole band self-join + Jaccard-verify
      // subtree (the dedupComponents pairs discipline).
      val (pairs, pairIds) = Checkpoints.tracked(cand
        .join(shingles.select(col("doc_id").as("id1"), col("hs").as("s1")), "id1")
        .join(shingles.select(col("doc_id").as("id2"), col("hs").as("s2")), "id2")
        .filter(expr(JacVerifyExpr) >= 0.5)
        .select("id1", "id2"))
      val touched = minLabelComponents(spark, pairs)
      Checkpoints.free(spark.sparkContext, pairIds)
      val corpusDocs = Tables(spark, dir).documents
        .filter(col("source") === "src0").select(col("doc_id").as("id"))
      val (a, ids) = Checkpoints.tracked(touched.unionByName(
        corpusDocs.join(touched.select("id"), Seq("id"), "left_anti")
          .select(col("id"), col("id").as("label"))))
      allIds = ids
      a
    }
    val labelCat = Formats.sessionTable(spark, dir, "graft_cc_lab_") { tbl =>
      all.select(col("id").as("doc_id"), col("label"))
        .repartition(Formats.FactBuckets, col("doc_id"))
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .bucketBy(Formats.FactBuckets, "doc_id").sortBy("doc_id")
        .option("path", Formats.bucketedPath(tbl)).saveAsTable(tbl)
    }
    val sizeCat = Formats.sessionTable(spark, dir, "graft_cc_sz_") { tbl =>
      all.groupBy("label").agg(count(lit(1)).as("n_members"))
        .repartition(Formats.FactBuckets, col("label"))
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .bucketBy(Formats.FactBuckets, "label").sortBy("label")
        .option("path", Formats.bucketedPath(tbl)).saveAsTable(tbl)
    }
    // Both writes landed (or the memo hit and `all` never ran — then
    // allIds is empty); the build's blocks are no longer needed.
    Checkpoints.free(spark.sparkContext, allIds)
    (labelCat, sizeCat)
  }

  /** Incremental CONNECTED COMPONENTS — the third leg of the
    * incremental-dedup trilogy (exact hashes → [[dedupIncremental]],
    * near-dup pairs → [[dedupMinhashIncremental]], and now the
    * clustering stage): when a batch arrives, the near-dup components
    * it creates or changes are recomputed WITHOUT touching untouched
    * corpus components, by GRAPH CONTRACTION — every existing corpus
    * component is one node (its label, with its member count as the
    * node weight, both from the persisted catalogs), so the iterative
    * CC loop runs on the DELTA-SIZED contracted graph: batch docs,
    * batch↔batch verified pairs, and batch↔corpus pairs whose corpus
    * endpoint is collapsed to its component label. Contraction is
    * sound because an existing component is internally connected —
    * merging through any member merges through all.
    *
    * Readout: the CHANGED component set (every component holding ≥1
    * batch doc, including batch singletons) with FULL member counts —
    * the CDC output a production pipeline appends, O(delta) rows. The
    * component id stays the global min doc_id (a corpus label IS its
    * component's min member, so min over the contracted node ids is
    * the true min). The oracle recomputes components over the WHOLE
    * corpus from scratch and restricts to batch-touched ones — full
    * semantic equality, no layout visible. */
  def dedupComponentsIncremental(spark: SparkSession, dir: String): DataFrame = {
    val (labelCat, sizeCat) = componentCatalogs(spark, dir)
    val (batch, _) = Checkpoints.tracked(
      shingleSetsWhere(spark, dir, col("source") =!= "src0"))
    // EXACT-CONTENT CANONICALIZATION before any near-dup work — the
    // fix the sf10 rung forced (r11: this op measured 20.9 s → 1957 s
    // across sf1→sf10, exponent 1.97, because duplicate GROUPS scale
    // with the corpus and the band self-join + Jaccard-verify then
    // carries wide shingle arrays through SMJ exchanges once per
    // COPY-PAIR — Θ(group²) work for pairs whose verdict is identical
    // by construction). Identical shingle sets get one canonical node:
    // rep = min doc_id (so min-label components still produce the true
    // global-min component id), weight = copy count. Bands, Jaccard,
    // the catalog probe, and the CC loop all run on DISTINCT CONTENT
    // (equal sets ⇒ equal bands ⇒ equal collisions, equal jac ⇒ the
    // candidate/verified pair sets expand exactly); membership expands
    // only in the O(batch) readout joins. Recurring cost drops from
    // Θ(Σ group²) to Θ(batch + distinct-content²-candidates) — the
    // posture a 100 TB corpus with hot duplicate groups requires.
    // ch canonicalizes the SET (sorted render), so order-different
    // equal sets collapse too; copies of a multi-copy ch are pairwise
    // jac=1 ≥ 0.5 (bands collide — identical), so an edge-untouched
    // multi-copy ch is itself one oracle component.
    // batch's and canon's checkpoint blocks stay owned for the whole
    // query: the readout's membership joins (keyed/singles) evaluate
    // them lazily at the final action, so an early free would truncate
    // live lineage — the session-level unpersist between queries
    // reclaims them (Bench/Verify teardown).
    val keyed = batch.select(col("doc_id"),
      md5(to_json(sort_array(col("hs")))).as("ch"))
    val (canon, _) = Checkpoints.tracked(
      batch.withColumn("ch", md5(to_json(sort_array(col("hs")))))
        .groupBy("ch")
        .agg(min("doc_id").as("doc_id"), first("hs").as("hs"),
          count(lit(1)).as("n_copies")))
    val bsig = canon
      .select(col("doc_id"), posexplode(expr("graft_minhash_bands(hs)")))
      .select(col("doc_id"), col("pos").as("j"), col("col").as("mh"))
    val bb = bsig.as("a")
      .join(bsig.as("b"),
        col("a.j") === col("b.j") && col("a.mh") === col("b.mh") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .distinct()
      .join(canon.select(col("doc_id").as("id1"), col("hs").as("s1")), "id1")
      .join(canon.select(col("doc_id").as("id2"), col("hs").as("s2")), "id2")
      .filter(expr(JacVerifyExpr) >= 0.5)
      .select("id1", "id2")
    // cross edges ride the SAME probe+verify definition as
    // dedup_minhash_incremental — probing with one rep per content
    // (equal sets probe identically), then contract the corpus
    // endpoint.
    val bc = batchCorpusNearDups(spark, dir,
        canon.select(col("doc_id"), col("hs")))
      .join(labelCat.select(col("doc_id").as("corpus_id"), col("label")),
        "corpus_id")
      .select(col("batch_id").as("id1"), col("label").as("id2"))
      .distinct()
    val (contracted, contractedIds) =
      Checkpoints.tracked(bb.unionByName(bc))
    val labels = minLabelComponents(spark, contracted)
    Checkpoints.free(spark.sparkContext, contractedIds)
    // Component ids per canon node: loop labels for edge-touched reps;
    // an untouched multi-copy ch is its own component under its rep
    // (= min member). Weights: corpus labels carry their catalog
    // member counts; canon reps carry their copy counts.
    val repComp = labels
      .join(canon.select(col("doc_id").as("id"), col("n_copies")),
        Seq("id"), "inner")
      .select(col("id"), col("label"), col("n_copies"))
    val untouchedMulti = canon
      .filter(col("n_copies") >= 2)
      .join(labels.select(col("id").as("doc_id")), Seq("doc_id"), "left_anti")
      .select(col("doc_id").as("id"), col("doc_id").as("label"),
        col("n_copies"))
    val corpusW = labels
      .join(canon.select(col("doc_id").as("id")), Seq("id"), "left_anti")
      .join(sizeCat.select(col("label").as("id"), col("n_members").as("w")),
        Seq("id"), "left")
      .select(col("label"), coalesce(col("w"), lit(1L)).as("w"))
    val connected = repComp.unionByName(untouchedMulti)
      .select(col("label"), col("n_copies").as("w"))
      .unionByName(corpusW)
      .groupBy(col("label").as("component"))
      .agg(sum("w").as("n_members"))
    // Batch singletons: docs whose ch is single-copy AND edge-untouched
    // (multi-copy and touched chs are counted above via their rep).
    val coveredCh = repComp.select(col("id").as("doc_id"))
      .unionByName(untouchedMulti.select(col("id").as("doc_id")))
      .join(canon.select(col("doc_id"), col("ch")), "doc_id")
      .select("ch")
    val singles = Tables(spark, dir).documents
      .filter(col("source") =!= "src0").select(col("doc_id").as("id"))
      .join(keyed.join(coveredCh, Seq("ch"), "left_semi")
          .select(col("doc_id").as("id")),
        Seq("id"), "left_anti")
      .select(col("id").as("component"), lit(1L).as("n_members"))
    connected.unionByName(singles).orderBy("component")
  }

  /** Edit-distance (fuzzy) near-dup pairs — the dedup family between
    * exact-hash and token-set similarity: SimHash buckets propose
    * candidates, exact Levenshtein over a bounded 400-char prefix
    * verifies (edit distance ≤ 20% of the longer prefix).
    *
    * Cost control, in order: (1) candidates must share a 16-bit
    * simhash bucket (similar docs collide — that is simhash's point);
    * (2) the LENGTH filter |n1−n2| ≤ τ·max — a necessary condition of
    * the edit bound (|Δlen| ≤ edit distance), pure pruning before any
    * DP; (3) the O(len²) Levenshtein runs on a fixed 400-char prefix,
    * so per-pair cost is bounded by construction no matter how long
    * documents get. The simhash+prefix table is localCheckpoint'ed once
    * for both pair-join sides. Hot buckets are inherent to simhash on
    * templated corpora — at 100 TB the cells stay bounded because the
    * candidate count tracks TRUE near-dup density (the LSH property
    * ScalingSpec measures), not corpus size². */
  /** Candidate stage of [[dedupEditNear]] (exposed for ScalingSpec's
    * prune-fraction evidence): simhash-bucket pairs surviving the
    * length prefilter, spread by pair id, with `thr` attached. */
  private[graft] def editNearCandidates(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    val d = simhashDf(spark, dir)
      .join(docs.select(col("doc_id"), expr("substr(text, 1, 400)").as("p")), "doc_id")
      .select(col("doc_id"), col("simhash"), col("p"), length(col("p")).as("n"))
      .localCheckpoint()
    val a = d.select(col("doc_id").as("id1"), col("simhash"),
      col("p").as("p1"), col("n").as("n1"))
    val b = d.select(col("doc_id").as("id2"), col("simhash"),
      col("p").as("p2"), col("n").as("n2"))
    val par = graft.plans.AdaptivePar.forTable(spark, dir, "documents",
      graft.plans.AdaptivePar.SpreadBytesPerTask)
    a.join(b, Seq("simhash"))
      .filter(col("id1") < col("id2"))
      // thr = 20% of the longer prefix in INTEGER division (Spark CAST
      // double→int truncates but DuckDB CAST rounds — floor-div on
      // ints is the only cast-free cross-engine threshold)
      .withColumn("thr", expr("greatest(n1, n2) div 5"))
      .filter(expr("abs(n1 - n2) <= thr"))
      // The pair JOIN is keyed on simhash, so every pair of a hot
      // bucket (templated corpora make hot buckets — 478 members in
      // one bucket at sf0.1) lands in ONE task; the O(len²) DP below
      // must not inherit that skew. Spread pairs uniformly by pair id
      // BEFORE computing distances — candidate generation is cheap,
      // the DP is the cost.
      .repartition(par * 4, col("id1"), col("id2"))
      .localCheckpoint()
  }

  def dedupEditNear(spark: SparkSession, dir: String): DataFrame = {
    editNearCandidates(spark, dir)
      // Banded DP: the 3-arg levenshtein aborts a row once distance
      // exceeds thr and returns -1 — O(len·thr) instead of O(len²),
      // and the surviving distances are exact (identical to DuckDB's
      // full DP in the oracle). The -1 sentinel must be filtered
      // explicitly (it would pass a plain <= thr test).
      .select(col("id1"), col("id2"),
        expr("levenshtein(p1, p2, thr)").as("edit_dist"), col("thr"))
      .filter(col("edit_dist") >= 0 && col("edit_dist") <= col("thr"))
      .select("id1", "id2", "edit_dist")
      .orderBy("id1", "id2")
  }

  /** Embedding-cosine near-dup pairs with IVF multi-probe blocking (see
    * SimilarityOps.ivfCells): candidates must share one of their top-P
    * anchor cells (~94% pair recall at τ=0.4 on the test corpus — vs
    * ~20% for the 4-bit sign-LSH this replaces), verified with exact
    * cosine. Cell populations are ~P·n/K and near-uniform, so the
    * within-cell pair join is bounded and the shuffle unskewed; K grows
    * ∝ √n at scale. */
  def dedupEmbedding(spark: SparkSession, dir: String): DataFrame = {
    // One checkpointed assignment pass for both join sides (VERDICT r3
    // #3 — the unchecked plan ran scan+anchor+assignment, and the
    // K-sizing count(), twice).
    val cells = SimilarityOps.ivfCells(spark, dir).localCheckpoint()
    // Repartition the streamed side by aid before the per-cell pair
    // blowup — same rationale as simKnnGraph: assignment is map-side
    // over the input splits (locally a single tiny split), so the
    // compute-heavy join stage needs an explicit spread; hash-on-aid is
    // the SMJ-required distribution at scale, and the fixed count is
    // immune to AQE's bytes-based coalescing.
    val par = graft.plans.AdaptivePar.forTable(spark, dir, "embeddings",
      graft.plans.AdaptivePar.SpreadBytesPerTask)
    val l = cells.repartition(par, col("aid"))
      .select(col("vec_id").as("id1"), col("embedding").as("e1"), col("aid"))
    val r = cells.select(col("vec_id").as("id2"), col("embedding").as("e2"), col("aid"))
    l.join(r, "aid")
      .filter(col("id1") < col("id2"))
      .withColumn("c", expr(SimilarityOps.cosExprSpark("e1", "e2")))
      .filter(col("c") >= 0.4)
      .select(col("id1"), col("id2"), round(col("c"), 4).as("cos_sim"))
      .distinct()
      .orderBy("id1", "id2")
  }

  /** SEMANTIC train/eval contamination — [[dedupContamination]]'s
    * embedding-space sibling, and the modern pipeline's second leak
    * gate: n-gram overlap catches verbatim/near-verbatim leakage, but
    * a paraphrased or translated benchmark question shares almost no
    * shingles while sitting right next to its source in embedding
    * space. Bench set = source 'src0' (the same SPLIT as the n-gram
    * gate, so a human reads the two reports against one bench
    * definition), train = everything else; candidates come from the
    * SAME IVF cell blocking every dedup/ANN op here uses (never
    * bench×train all-pairs), pairs verify at cosine ≥ 0.4 on the raw
    * IEEE value, and the readout is EVERY qualifying (train, bench)
    * leak pair — a train doc leaking against three bench docs emits
    * three rows (the audit wants each leak edge; count DISTINCT
    * train_doc for the contaminated-doc tally).
    * One checkpointed tagged-assignment pass feeds both join sides;
    * the bench side repartitions on aid before the pair blowup (the
    * dedupEmbedding spread). */
  def dedupContaminationEmb(spark: SparkSession, dir: String): DataFrame = {
    val tagged = SimilarityOps.ivfCells(spark, dir)
      .join(Tables(spark, dir).documents.select(col("doc_id"), col("source")),
        col("vec_id") === col("doc_id"))
      .select(col("vec_id"), col("embedding"), col("aid"), col("source"))
      .localCheckpoint()
    val par = graft.plans.AdaptivePar.forTable(spark, dir, "embeddings",
      graft.plans.AdaptivePar.SpreadBytesPerTask)
    val bench = tagged.filter(col("source") === "src0")
      .repartition(par, col("aid"))
      .select(col("vec_id").as("bench_doc"), col("embedding").as("eb"), col("aid"))
    val train = tagged.filter(col("source") =!= "src0")
      .select(col("vec_id").as("train_doc"), col("embedding").as("et"), col("aid"))
    bench.join(train, "aid")
      .withColumn("c", expr(SimilarityOps.cosExprSpark("et", "eb")))
      .filter(col("c") >= 0.4)
      .select(col("train_doc"), col("bench_doc"), round(col("c"), 4).as("cos_sim"))
      .distinct()
      .orderBy("train_doc", "bench_doc")
  }

  /** Per-source exact-duplicate rate — the dedup family's QC panel
    * (dedup_exact lists the groups; this attributes the damage: WHICH
    * source is polluting the corpus with copies, the number a crawl
    * operator acts on). A doc is a duplicate if its text hash has a
    * lower-doc_id twin anywhere in the corpus (the canonical-survivor
    * rule every dedup op here shares); rates are exact ppm.
    *
    * Scale: one md5 groupBy (map-side partial agg) + one join back on
    * the hash — both sides hash-partitioned on h so the join reuses
    * the aggregation's exchange — then a |sources|-key rollup. */
  def qcDupRate(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
      .select(col("doc_id"), col("source"), md5(col("text").cast("binary")).as("h"))
    val canon = docs.groupBy("h").agg(min("doc_id").as("keep_id"))
    docs.join(canon, "h")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("doc_id") =!= col("keep_id"), 1L).otherwise(0L)).as("n_dups"))
      .withColumn("dup_ppm", expr("n_dups * 1000000 div n_docs"))
      .orderBy("source")
  }

  /** Fuzzy name matching — candidate pairs from the part-name
    * dictionary ranked by the graft_jaro_winkler NATIVE expression
    * (the record-linkage member of the dedup family: levenshtein
    * verifies EDITS on whole documents, Jaro–Winkler ranks typo-shaped
    * NAME matches where shared prefixes dominate — the census-linkage
    * convention). The oracle is DuckDB's OWN independent
    * jaro_winkler_similarity — two implementations of the algorithm
    * written from the published definition, agreeing to 4 decimals on
    * every pair, which is the strongest correctness gate a fuzzy
    * kernel can get.
    *
    * Scale: the pair space is over the DISTINCT name dictionary, not
    * rows — a dictionary stays broadcastable at any fact volume (the
    * stat_theil_sen bounded-side contract). For genuinely unbounded
    * name sets the production shape is [[dedupNameBlocked]] — token
    * blocking with the same kernel in the verify stage; FunctionsSpec
    * pins the two queries' result equality on this corpus. */
  def dedupNameMatch(spark: SparkSession, dir: String): DataFrame = {
    val names = Tables(spark, dir).part.select(col("p_name")).distinct()
    val a = names.select(col("p_name").as("n1"))
    val b = names.select(col("p_name").as("n2"))
    a.join(broadcast(b), col("n1") < col("n2"))
      .withColumn("jw", round(expr("graft_jaro_winkler(n1, n2)"), 4) + lit(0.0))
      .filter(col("jw") >= 0.85)
      .select("n1", "n2", "jw")
      .orderBy("n1", "n2")
  }

  /** BLOCKED fuzzy name matching — the unbounded-name-set production
    * shape dedup_name_match's scaladoc promises, implemented (the
    * dedup_incremental lesson: a documented production shape the plan
    * doesn't match is a weak claim). Multi-probe token blocking in the
    * LSH-band spirit: every name lands in TWO blocks (first token,
    * last token — JW's prefix weighting makes same-first-token pairs
    * the bulk, the last-token probe catches the shared-suffix rest;
    * measured on this corpus: first-token alone recalls 120/140 of
    * the all-pairs matches, both probes recall 140/140, which
    * FunctionsSpec pins as exact result equality with the all-pairs
    * query). Pairs generate inside blocks only, dedup across probes,
    * then the graft_jaro_winkler verify.
    *
    * Scale: the join shuffles on the block key with bounded per-block
    * pair generation — never the all-pairs dictionary square. This is
    * the shape that stays linear-ish when the dictionary outgrows a
    * broadcast. */
  def dedupNameBlocked(spark: SparkSession, dir: String): DataFrame = {
    val keyed = Tables(spark, dir).part.select(col("p_name")).distinct()
      .select(col("p_name"), explode(array(
        concat(lit("f:"), expr("split_part(p_name, ' ', 1)")),
        concat(lit("l:"), expr("split_part(p_name, ' ', -1)")))).as("blk"))
    val a = keyed.select(col("blk"), col("p_name").as("n1"))
    val b = keyed.select(col("blk"), col("p_name").as("n2"))
    a.join(b, "blk").filter(col("n1") < col("n2"))
      .select("n1", "n2").distinct()
      .withColumn("jw", round(expr("graft_jaro_winkler(n1, n2)"), 4) + lit(0.0))
      .filter(col("jw") >= 0.85)
      .select("n1", "n2", "jw")
      .orderBy("n1", "n2")
  }

  /** Near-dup threshold sweep — surviving-pair counts per cosine
    * threshold, from ONE candidate pass (the curve an operator reads
    * to PICK the dedup threshold before committing a corpus-wide
    * delete: dedup_lsh_recall calibrates the BLOCKING scheme, this
    * calibrates the DECISION threshold riding on it). Counts are
    * cumulative-from-above over the 0.05-wide cosine bins of the
    * dedupEmbedding pair set — exact integer bins of round(cos·10⁴)
    * div 500, so the per-threshold counts are bit-stable. The sweep
    * floor IS the blocking threshold (0.40): below it the IVF probe's
    * recall is uncalibrated and a count would mislead.
    *
    * Scale: rides dedupEmbedding's one checkpointed IVF pass; the
    * sweep itself is a ≤20-key histogram + a ≤20-row window. */
  def dedupThresholdSweep(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hist = dedupEmbedding(spark, dir)
      .select(expr("CAST(round(cos_sim * 10000) AS BIGINT) div 500").as("b"))
      .groupBy("b").agg(count(lit(1)).as("c"))
    val w = Window.orderBy(desc("b"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // b counts 0.05-wide bins of cos (round(cos·10⁴) div 500), so the
    // ppm threshold is b·50000 — cos 0.40 → 400000, cos 1.0 → 1000000,
    // matching every other *_ppm column's 10⁶ scale.
    hist.withColumn("n_pairs", sum("c").over(w))
      .select((col("b") * 50000).as("thr_ppm"), col("n_pairs"))
      .orderBy("thr_ppm")
  }

  /** Exact-content canonical groups of the embedding corpus — the r11
    * canonicalization fix (dedupComponentsIncremental's Θ(copy-pair)
    * lesson) applied to the from-scratch graph legs: identical vectors
    * collapse to ONE rep before any cell/pair work. Sound because the
    * near-dup graph cannot distinguish copies — equal vectors get equal
    * cell assignments (assignment is a pure function of the embedding)
    * and equal cosines against everything, so copies of one content are
    * (a) pairwise-connected at cos 1 ≥ 0.4 and (b) structurally
    * interchangeable toward the rest of the graph. `repKey` picks WHICH
    * member represents the group: min vec_id for components (the
    * component id is the min member), min Luby priority for MIS (only
    * the group's min-prio member can ever join the MIS — every other
    * member has an active lower-prio neighbor inside its own clique for
    * as long as it is active at all).
    *
    * Degenerate vectors (zero-norm / non-finite → self-cosine NaN) are
    * split out, NOT grouped: every cosine involving them is NaN, so the
    * raw graph gives them no edges — each is its own singleton even if
    * its bytes repeat — and grouping them would over-merge. Returns
    * (canon(vec_id = rep, embedding, n_copies), degenerate(vec_id)). */
  private def canonEmbGroups(spark: SparkSession, dir: String,
      repKey: org.apache.spark.sql.Column): (DataFrame, DataFrame) = {
    val emb = Tables(spark, dir).embeddings
    val selfc = expr(SimilarityOps.cosExprSpark("embedding", "embedding"))
    val degenerate = emb.filter(isnan(selfc)).select("vec_id")
    val canon = emb.filter(!isnan(selfc))
      .select(col("vec_id").as("id"), col("embedding"))
      .withColumn("rk", repKey)
      .groupBy("embedding")
      .agg(min_by(col("id"), col("rk")).as("vec_id"),
        count(lit(1)).as("n_copies"))
    (canon, degenerate)
  }

  /** Verified near-dup pairs (IVF cell-blocked, exact cosine ≥ 0.4)
    * over a caller-supplied canonical vector set — dedupEmbedding's
    * candidate machinery with the assignment restricted to reps
    * ([[SimilarityOps.ivfCellsOver]]: anchors and K still derive from
    * the full corpus, so the blocking is the oracle's). The within-cell
    * pair join — the op's dominant term — runs on distinct content:
    * at 100× the corpus with 100-copy hot groups this is the difference
    * between ~n_distinct²-per-cell and ~n²-per-cell work. */
  private def canonRepPairs(spark: SparkSession, dir: String,
      canon: DataFrame): DataFrame = {
    val cells = SimilarityOps.ivfCellsOver(spark, dir,
      canon.select("vec_id", "embedding")).localCheckpoint()
    val par = graft.plans.AdaptivePar.forTable(spark, dir, "embeddings",
      graft.plans.AdaptivePar.SpreadBytesPerTask)
    val l = cells.repartition(par, col("aid"))
      .select(col("vec_id").as("id1"), col("embedding").as("e1"), col("aid"))
    val r = cells.select(col("vec_id").as("id2"), col("embedding").as("e2"), col("aid"))
    l.join(r, "aid")
      .filter(col("id1") < col("id2"))
      .filter(expr(SimilarityOps.cosExprSpark("e1", "e2")) >= 0.4)
      .select("id1", "id2")
      .distinct()
  }

  /** SemDeDup-style component dedup: cluster vectors whose near-dup
    * graph (IVF-blocked pairs with cosine >= 0.4, see dedupEmbedding)
    * connects them, and report each component with its representative
    * (min vec_id) and size. Connected components run as iterative
    * min-label propagation over DataFrame joins — each round is one
    * shuffle join + partial-agg min, `localCheckpoint` cuts the lineage
    * so the loop count (graph diameter, a handful for near-dup
    * clusters) doesn't nest plans. The DuckDB oracle computes the same
    * fixpoint with a recursive CTE — an entirely independent algorithm
    * over the RAW (uncanonicalized) corpus, so the exact-content
    * contraction below is hash-gated, not assumed: pairs and the CC
    * loop run on one rep per distinct vector ([[canonEmbGroups]]),
    * weighted by copy count; an edge-untouched multi-copy content is
    * itself one component (its copies are pairwise cos-1 connected);
    * the component id stays the true min member because each group's
    * rep IS its min vec_id. */
  def dedupComponents(spark: SparkSession, dir: String): DataFrame = {
    val (canonRaw, degenerate) = canonEmbGroups(spark, dir, col("id"))
    // canon feeds the pair stage AND the three readout legs; its blocks
    // stay owned for the query (lazily read at the final action — the
    // componentsIncremental discipline; session cleanup reclaims them).
    val (canon, _) = Checkpoints.tracked(canonRaw)
    // Checkpoint the pairs BEFORE symmetrizing: the union references the
    // pair pipeline twice, and without the cut both branches would run
    // the whole IVF + cell-join + cosine subtree (the r2 knn diamond).
    val (pairs, edgeIds) = Checkpoints.tracked(canonRepPairs(spark, dir, canon))
    val labels = minLabelComponents(spark, pairs)
    Checkpoints.free(spark.sparkContext, edgeIds)
    val touched = labels.select(col("id").as("vec_id"))
    val connected = labels
      .join(canon.select(col("vec_id").as("id"), col("n_copies")), "id")
      .groupBy(col("label").as("component"))
      .agg(sum("n_copies").as("n_members"))
    val isolatedMulti = canon.filter(col("n_copies") >= 2)
      .join(touched, Seq("vec_id"), "left_anti")
      .select(col("vec_id").as("component"), col("n_copies").as("n_members"))
    val singles = canon.filter(col("n_copies") === 1)
      .join(touched, Seq("vec_id"), "left_anti")
      .select(col("vec_id"))
      .unionByName(degenerate)
      .select(col("vec_id").as("component"), lit(1L).as("n_members"))
    connected.unionByName(isolatedMulti).unionByName(singles)
      .orderBy("component")
  }

  /** Iterative min-label propagation to the fixpoint — ONE definition
    * for [[dedupComponents]] and the incremental-components contracted
    * graph. `pairs` is the unsymmetrized (id1, id2) edge list; returns
    * (id, label) for every EDGE-TOUCHED vertex, checkpointed (isolated
    * vertices are already fixed points — callers rejoin them as
    * singletons). Each round is one shuffle join + partial-agg min with
    * `localCheckpoint` cutting the lineage, plus bookkeeping that frees
    * superseded rounds' blocks (ownership derived from each frame's
    * own plan — concurrency-safe, see the Checkpoints scaladoc).
    * Labels only ever decrease, so sum(label)
    * is a strictly-decreasing convergence measure — one cheap agg per
    * round instead of a change-detection join; two propagation hops per
    * checkpointed round halve the rounds (same fixpoint; propagation is
    * monotone; measured at sf0.1: 2 hops/round beats 4, 8.5 s vs
    * 10.0 s). */
  private[graft] def minLabelComponents(spark: SparkSession,
      pairs: DataFrame): DataFrame = {
    val edges = pairs.unionByName(
      pairs.select(col("id2").as("id1"), col("id1").as("id2")))
    val (labels, labelIds) = Checkpoints.tracked(
      edges.select(col("id1").as("id")).distinct()
        .select(col("id"), col("id").as("label")))
    def step(ls: DataFrame): DataFrame = {
      val prop = edges
        .join(ls, edges("id1") === ls("id"))
        .select(col("id2").as("id"), col("label"))
      ls.select(col("id"), col("label")).unionByName(prop)
        .groupBy("id").agg(min("label").as("label"))
    }
    // sum over an EMPTY labels set is SQL NULL (a clean corpus with no
    // near-dup pairs); treat it as 0 so the loop converges
    // immediately instead of NPE-ing, and the output is all singletons.
    def labelSum(ls: DataFrame): Long =
      Option(ls.agg(sum("label")).first().getAs[java.lang.Long](0))
        .fold(0L)(_.longValue)
    // No cap: the label sum strictly decreases until the fixpoint.
    Fixpoint.run(spark.sparkContext, (labels, labelIds), Int.MaxValue)(
      labelSum, Fixpoint.unchanged, start = Some(labelSum(labels))) {
      (r, ls) => r.checkpoint(step(step(ls)))
    }.state
  }

  /** Deterministic Luby priority for [[dedupMis]]: a 28-bit md5 prefix
    * packed above the unique vertex id (prio < 2^60 — BIGINT-safe) —
    * collision-free, partition-independent, and identical in both
    * engines (the mix_split_assign keyed-hash contract: at 100 TB a
    * tie-break is a HASH of the unit key, never a random draw). */
  private val MisPrioExpr =
    "CAST(conv(substr(md5(CAST(id AS STRING)), 1, 7), 16, 10) AS BIGINT)" +
      " * 4294967296 + id"

  /** Luby round cap — matches the oracle's unroll depth; past the
    * fixpoint a round maps an empty active set to itself, so Spark's
    * early stop and the oracle's fixed unroll agree (the emb_kmeans
    * contract). On near-dup graphs (small cliques and short chains)
    * Luby empties the active set in 2–3 rounds; a cap hit on BOTH
    * sides still compares equal — it would surface as a maximality
    * violation in the spec, never as an oracle mismatch. */
  private val MisMaxRounds = 6

  /** Maximal-independent-set keep-list over the near-dup graph — the
    * OTHER dedup keep-policy next to [[dedupComponents]]' one-per-
    * component representative: component-canonical over-deletes when
    * transitive chains connect dissimilar documents through
    * intermediates (a–b and b–c similar, a–c not — the component keeps
    * ONE of three), while a maximal independent set keeps the most
    * documents such that NO TWO KEPT ones are near-dups (a and c both
    * survive, only b drops). Classic deterministic Luby: each round,
    * an active vertex whose md5-keyed priority beats every ACTIVE
    * neighbor joins the MIS, then it and its neighbors retire;
    * priorities are pure functions of the vertex id, so the result is
    * one fixed set — partition- and engine-independent.
    *
    * Scale: pairs and the Luby loop run on the EXACT-CONTENT
    * contracted graph ([[canonEmbGroups]] with min-PRIORITY reps — the
    * raw process restricted to possible winners: a non-min-prio copy
    * always has a lower-prio active neighbor inside its own clique, so
    * it can never join the MIS, and all copies of a content retire in
    * the same round because their neighbor sets are identical — the
    * contracted rounds are in lockstep with the raw rounds the oracle
    * unrolls, cap included). Each Luby round is a both-ends-active
    * join + a partial-aggregated min on the ACTIVE subgraph only,
    * which shrinks geometrically in expectation (Luby 1986) —
    * [[MisMaxRounds]] rounds at a handful of shuffles each, with
    * superseded round state freed (the minLabelComponents block
    * discipline). Output = kept vectors: MIS members (was_contested),
    * the min-prio rep of every edge-untouched multi-copy content (an
    * isolated copy-clique — its min-prio member wins round 1), plus
    * every vertex the raw pair graph never touched. */
  def dedupMis(spark: SparkSession, dir: String): DataFrame = {
    val (canonRaw, degenerate) = canonEmbGroups(spark, dir, expr(MisPrioExpr))
    // canon blocks stay owned for the query — read lazily by the
    // isolatedMulti/singles readout legs at the final action.
    val sc = spark.sparkContext
    val (canon, _) = Checkpoints.tracked(canonRaw)
    val (pairs, pairIds) = Checkpoints.tracked(canonRepPairs(spark, dir, canon))
    val edges = pairs.unionByName(
      pairs.select(col("id2").as("id1"), col("id1").as("id2")))
    val (active0, activeIds) = Checkpoints.tracked(
      edges.select(col("id1").as("id")).distinct()
        .withColumn("prio", expr(MisPrioExpr)))
    // State: the active set and the MIS so far. The measure — the next
    // active set's count — materializes its lazy checkpoint, exits the
    // loop at zero, and is the next round's gate input.
    val luby = Fixpoint.run(sc, ((active0, Option.empty[DataFrame]), activeIds), MisMaxRounds)(
      _._1.count(), Fixpoint.zero,
      start = Some(active0.count())) {
      case (r, (active, mis)) =>
        // Size-gated hints on the vertex-sized round state: post-
        // checkpoint loop state is a LogicalRDD with unknown stats, so
        // the planner assumes huge and shuffles the EDGE side every
        // round without a hint (the graph_pagerank lesson). Round 1's
        // active set is the ENTIRE touched-vertex set — exactly the
        // round a vertex-scale corpus must NOT broadcast — so every
        // hint gates on the driver-side active count: broadcast under
        // the cap, co-shuffle joins beyond it (active shrinks
        // geometrically, so later rounds re-earn the broadcast on
        // their own count).
        val nActive = r.last.getOrElse(0L)
        val a1 = SizeGate.hintIfSmall(
          active.select(col("id").as("id1"), col("prio").as("p1")),
          nActive, col("id1"))
        val a2 = SizeGate.hintIfSmall(
          active.select(col("id").as("id2"), col("prio").as("p2")),
          nActive, col("id2"))
        val eAct = edges.join(a1, "id1").join(a2, "id2")
        val minnb = eAct.groupBy("id1").agg(min("p2").as("mn"))
          .withColumnRenamed("id1", "id")
        val misR = active.join(minnb, Seq("id"), "left")
          .filter(col("mn").isNull || col("prio") < col("mn"))
          .select("id", "prio")
        val nbrs = eAct
          .join(SizeGate.hintIfSmall(
            misR.select(col("id").as("id1")), nActive, col("id1")), "id1")
          .select(col("id2").as("id")).distinct()
        val nextActive = r.checkpoint(
          active.join(SizeGate.hintIfSmall(misR.select("id"), nActive, col("id")),
              Seq("id"), "left_anti")
            .join(SizeGate.hintIfSmall(nbrs, nActive, col("id")),
              Seq("id"), "left_anti"))
        (nextActive, Some(r.checkpoint(mis.fold(misR)(_.unionByName(misR)), eager = true)))
    }
    val (active, mis) = luby.state
    // Materialize the touched-REP list before releasing the pair
    // blocks — the anti-joins below must not re-run the IVF.
    val (touched, _) = Checkpoints.tracked(
      edges.select(col("id1").as("vec_id")).distinct())
    Checkpoints.free(sc, pairIds)
    Checkpoints.free(sc, Checkpoints.owned(active))
    val misKept = mis
      .fold(spark.range(0).select(col("id")))(_.select(col("id")))
      .select(col("id").as("vec_id"), lit(true).as("was_contested"))
    // Edge-untouched multi-copy contents: an isolated copy-clique whose
    // min-prio member joins the raw MIS in round 1 (all its neighbors
    // are its own higher-prio copies).
    val isolatedMulti = canon.filter(col("n_copies") >= 2)
      .join(touched, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), lit(true).as("was_contested"))
    // Raw-untouched vertices: single-copy contents with no contracted
    // edge (the rep IS the only member) plus degenerate vectors (every
    // cosine against them is NaN — no raw edges by definition).
    val singles = canon.filter(col("n_copies") === 1)
      .join(touched, Seq("vec_id"), "left_anti")
      .select(col("vec_id"))
      .unionByName(degenerate)
      .withColumn("was_contested", lit(false))
    misKept.unionByName(isolatedMulti).unionByName(singles)
      .orderBy("vec_id")
  }

  private[operators] def dedupMisOracle: String = {
    val h7 = (1 to 7)
      .map(i => s"(strpos('0123456789abcdef', substr(md5(CAST(a AS VARCHAR)), $i, 1)) - 1) * ${1L << (4 * (7 - i))}")
      .mkString("(", " + ", ")")
    val rounds = (0 until MisMaxRounds).map { r =>
      s"""mis$r AS MATERIALIZED (
         |  SELECT a.id FROM act$r a LEFT JOIN (
         |    SELECT e.a AS id, min(c.prio) AS mn
         |    FROM ed e JOIN act$r b ON e.a = b.id JOIN act$r c ON e.b = c.id
         |    GROUP BY e.a) m USING (id)
         |  WHERE m.mn IS NULL OR a.prio < m.mn),
         |act${r + 1} AS MATERIALIZED (
         |  SELECT * FROM act$r
         |  WHERE id NOT IN (SELECT id FROM mis$r)
         |    AND id NOT IN (SELECT e.b FROM ed e JOIN mis$r ON e.a = mis$r.id))""".stripMargin
    }.mkString(",\n")
    val misall = (0 until MisMaxRounds)
      .map(r => s"SELECT id FROM mis$r").mkString(" UNION ALL ")
    s"""WITH ${SimilarityOps.ivfCellsSql},
       |p AS (
       |  SELECT DISTINCT a.vec_id AS id1, b2.vec_id AS id2
       |  FROM cells a JOIN cells b2 ON a.aid = b2.aid AND a.vec_id < b2.vec_id
       |  WHERE ${SimilarityOps.cosExprSql("a.embedding", "b2.embedding")} >= 0.4),
       |ed AS (SELECT id1 AS a, id2 AS b FROM p UNION ALL SELECT id2, id1 FROM p),
       |act0 AS MATERIALIZED (
       |  SELECT DISTINCT a AS id, $h7 * 4294967296 + a AS prio FROM ed),
       |$rounds,
       |misall AS ($misall)
       |SELECT vec_id, was_contested FROM (
       |  SELECT id AS vec_id, TRUE AS was_contested FROM misall
       |  UNION ALL
       |  SELECT vec_id, FALSE AS was_contested FROM embeddings
       |  WHERE vec_id NOT IN (SELECT a FROM ed)) k
       |ORDER BY vec_id""".stripMargin
  }

  /** Per-document duplicated-passage coverage (the RefinedWeb/"dedup the
    * training set" diagnostic): what fraction of each document's distinct
    * 3-token shingles also appear in at least one OTHER document. High
    * ratio = the document is mostly recycled passages even if no single
    * pair crosses a Jaccard threshold.
    *
    * Shape: one corpus pass through the fused shingle pipeline, explode,
    * per-shingle document-frequency agg, join back, per-doc conditional
    * sum — two shuffles on the uniform shingle hash, one on doc_id, all
    * partial-aggregated. Because each doc's shingle set is distinct,
    * df(g) IS the number of documents containing g. */
  def dedupDocOverlap(spark: SparkSession, dir: String): DataFrame = {
    val sh = hashedShingleSets(spark, dir)
    val ex = sh.select(col("doc_id"), size(col("hs")).cast("long").as("n"),
      explode(col("hs")).as("g"))
    val dfc = ex.groupBy("g").agg(count(lit(1)).as("df"))
    ex.join(dfc, "g")
      .groupBy("doc_id", "n")
      .agg(sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_shared"))
      .select(col("doc_id"), col("n").as("n_shingles"), col("n_shared"),
        round(expr("CAST(n_shared AS DOUBLE) / n"), 4).as("overlap_ratio"))
      .orderBy("doc_id")
  }

  /** Train/test decontamination — the named curation stage distinct
    * from self-dedup: for every training document (source ≠ 'src0'),
    * the fraction of its distinct 3-token shingles that appear ANYWHERE
    * in the held-out benchmark corpus (source = 'src0'); docs over the
    * 0.6 threshold are flagged for removal (the BigBench/GPT-style
    * 13-gram canary check, at 3-gram granularity for this corpus).
    *
    * Scale posture: the benchmark side collapses to its DISTINCT
    * shingle set (bounded by the benchmark corpus — small by
    * definition), and the train side left-semi joins against it — one
    * uniform shuffle on the shingle hash, never a train×bench pair
    * blowup (a per-pair formulation would fan every hot shingle out to
    * |bench df| rows). The shingle sets are computed once and
    * checkpointed: both corpus splits read the materialized sets
    * instead of re-running the tokenize+shingle+md5 pipeline (the r2
    * minhash diamond lesson). */
  def dedupContamination(spark: SparkSession, dir: String): DataFrame = {
    val sets = Tables(spark, dir).documents
      .select(col("doc_id"), col("source"), expr(tokensExpr).as("tk"))
      .filter(size(col("tk")) >= 3)
      .select(col("doc_id"), col("source"), expr("graft_shingle_hashes(tk)").as("hs"))
      .localCheckpoint()
    val bench = sets.filter(col("source") === "src0")
      .select(explode(col("hs")).as("h")).distinct()
    val train = sets.filter(col("source") =!= "src0")
      .select(col("doc_id"), size(col("hs")).cast("long").as("n_shingles"),
        explode(col("hs")).as("h"))
    train.join(bench, Seq("h"), "left_semi")
      .groupBy("doc_id", "n_shingles")
      .agg(count(lit(1)).as("n_hit"))
      .select(col("doc_id"), col("n_shingles"), col("n_hit"),
        round(expr("CAST(n_hit AS DOUBLE) / n_shingles"), 4).as("frac"))
      .filter(col("frac") >= 0.6)
      .orderBy("doc_id")
  }

  /** The ONE oracle-side definition of the 16-bit simhash scheme — a
    * CTE chain ending in `sh(doc_id, simhash)`, mirrored 1:1 by the
    * Spark-side [[simhashDf]]. Shared by the dedup_simhash and
    * dedup_edit_near oracles so the scheme can never drift. */
  private def simhashCte: String = {
    val hexVal = (1 to 4)
      .map(i => s"(strpos('0123456789abcdef', substr(md5(t), $i, 1)) - 1) * ${1 << (4 * (4 - i))}")
      .mkString(" + ")
    val votes = (0 until 16)
      .map(b => s"sum(CASE WHEN (v >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS s$b")
      .mkString(",\n    ")
    val simhash = (0 until 16)
      .map(b => s"(CASE WHEN s$b > 0 THEN ${1 << b} ELSE 0 END)")
      .mkString(" + ")
    s"""tok AS (
       |  SELECT doc_id, unnest(list_distinct($tokensSql)) AS t FROM documents),
       |hv AS (
       |  SELECT doc_id, $hexVal AS v FROM tok),
       |bits AS (
       |  SELECT doc_id,
       |    $votes
       |  FROM hv GROUP BY doc_id),
       |sh AS (SELECT doc_id, CAST($simhash AS BIGINT) AS simhash FROM bits)""".stripMargin
  }

  private def simhashSql: String =
    s"""WITH $simhashCte
       |SELECT doc_id, simhash FROM sh ORDER BY doc_id""".stripMargin

  private def editNearSql: String =
    s"""WITH $simhashCte,
       |dd AS (SELECT sh.doc_id, simhash, substr(text, 1, 400) AS p,
       |       length(substr(text, 1, 400)) AS n
       |       FROM sh JOIN documents USING (doc_id))
       |SELECT a.doc_id AS id1, b.doc_id AS id2,
       |  CAST(levenshtein(a.p, b.p) AS INT) AS edit_dist
       |FROM dd a JOIN dd b ON a.simhash = b.simhash AND a.doc_id < b.doc_id
       |WHERE abs(a.n - b.n) <= greatest(a.n, b.n) // 5
       |  AND levenshtein(a.p, b.p) <= greatest(a.n, b.n) // 5
       |ORDER BY id1, id2""".stripMargin

  val oracles: Map[String, String] = Map(
    "dedup_incremental" ->
      """WITH d AS (SELECT doc_id, source, md5(text) AS h FROM documents),
        |ex AS (SELECT DISTINCT h FROM d WHERE source = 'src0')
        |SELECT h, min(doc_id) AS keep_id, count(*) AS n_batch_copies
        |FROM d WHERE source <> 'src0'
        |  AND NOT EXISTS (SELECT 1 FROM ex WHERE ex.h = d.h)
        |GROUP BY h ORDER BY h""".stripMargin,
    "dedup_edit_near" -> editNearSql,
    "dedup_exact" ->
      """SELECT md5(text) AS h, min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY md5(text) ORDER BY h""".stripMargin,
    "dedup_contamination" ->
      s"""WITH $shingleSql,
         |b AS (SELECT DISTINCT unnest(hs) AS h
         |      FROM hsh JOIN documents USING (doc_id) WHERE source = 'src0'),
         |tr AS (SELECT doc_id, CAST(len(hs) AS BIGINT) AS n_shingles, unnest(hs) AS h
         |       FROM hsh JOIN documents USING (doc_id) WHERE source <> 'src0'),
         |hits AS (SELECT doc_id, n_shingles, count(*) AS n_hit
         |         FROM tr JOIN b USING (h) GROUP BY 1, 2)
         |SELECT doc_id, n_shingles, CAST(n_hit AS BIGINT) AS n_hit,
         |  round(CAST(n_hit AS DOUBLE) / n_shingles, 4) AS frac
         |FROM hits WHERE round(CAST(n_hit AS DOUBLE) / n_shingles, 4) >= 0.6
         |ORDER BY doc_id""".stripMargin,
    "dedup_minhash_lsh" ->
      s"""WITH $shingleSql,
         |$minhashCandSql
         |SELECT c.id1, c.id2,
         |  round(len(list_intersect(x.hs, y.hs)) * 1.0 / len(list_distinct(x.hs || y.hs)), 4) AS jaccard
         |FROM cand c JOIN hsh x ON c.id1 = x.doc_id JOIN hsh y ON c.id2 = y.doc_id
         |WHERE len(list_intersect(x.hs, y.hs)) * 1.0 / len(list_distinct(x.hs || y.hs)) >= 0.5
         |ORDER BY id1, id2""".stripMargin,
    // Layout-free reformulation of the catalog probe: the same banded
    // candidates restricted to batch×corpus, verified by exact Jaccard.
    "dedup_minhash_incremental" ->
      s"""WITH $shingleSql,
         |$minhashCandSql,
         |src AS (SELECT doc_id, source FROM documents),
         |cc AS (
         |  SELECT DISTINCT
         |    CASE WHEN sa.source <> 'src0' THEN c.id1 ELSE c.id2 END AS batch_id,
         |    CASE WHEN sa.source <> 'src0' THEN c.id2 ELSE c.id1 END AS corpus_id
         |  FROM cand c
         |  JOIN src sa ON sa.doc_id = c.id1
         |  JOIN src sb ON sb.doc_id = c.id2
         |  WHERE (sa.source <> 'src0') <> (sb.source <> 'src0'))
         |SELECT c.batch_id, c.corpus_id,
         |  round(len(list_intersect(x.hs, y.hs)) * 1.0 / len(list_distinct(x.hs || y.hs)), 4) AS jaccard
         |FROM cc c JOIN hsh x ON c.batch_id = x.doc_id JOIN hsh y ON c.corpus_id = y.doc_id
         |WHERE len(list_intersect(x.hs, y.hs)) * 1.0 / len(list_distinct(x.hs || y.hs)) >= 0.5
         |ORDER BY batch_id, corpus_id""".stripMargin,
    // Full-recompute semantics of the contracted incremental update:
    // components over the WHOLE corpus's verified near-dup graph,
    // restricted to those containing at least one batch document.
    "dedup_components_incremental" ->
      s"""WITH RECURSIVE $shingleSql,
         |$minhashCandSql,
         |vp AS (
         |  SELECT c.id1, c.id2
         |  FROM cand c JOIN hsh x ON c.id1 = x.doc_id
         |              JOIN hsh y ON c.id2 = y.doc_id
         |  WHERE len(list_intersect(x.hs, y.hs)) * 1.0
         |          / len(list_distinct(x.hs || y.hs)) >= 0.5),
         |e AS (SELECT id1 AS a, id2 AS b FROM vp
         |      UNION ALL SELECT id2, id1 FROM vp),
         |walk(v, l) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.b, walk.l FROM walk JOIN e ON walk.v = e.a),
         |lab AS (SELECT v AS doc_id, min(l) AS label FROM walk GROUP BY v),
         |sz AS (SELECT label, CAST(count(*) AS BIGINT) AS n_members
         |       FROM lab GROUP BY label),
         |ch AS (SELECT DISTINCT label
         |       FROM lab JOIN documents USING (doc_id)
         |       WHERE source <> 'src0')
         |SELECT label AS component, n_members
         |FROM sz JOIN ch USING (label) ORDER BY component""".stripMargin,
    "dedup_pipeline" ->
      s"""WITH $shingleSql,
         |$minhashCandSql,
         |losers AS (
         |  SELECT DISTINCT c.id2 AS doc_id
         |  FROM cand c JOIN hsh x ON c.id1 = x.doc_id JOIN hsh y ON c.id2 = y.doc_id
         |  WHERE len(list_intersect(x.hs, y.hs)) * 1.0 / len(list_distinct(x.hs || y.hs)) >= 0.5),
         |d AS (
         |  SELECT doc_id, n_chars, CAST(len(${graft.operators.TextOps.tokensSql}) AS INTEGER) AS n_tokens,
         |         length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha
         |  FROM documents),
         |q AS (
         |  SELECT doc_id FROM d
         |  WHERE n_chars BETWEEN 100 AND 5000 AND n_tokens >= 20
         |    AND alpha * 1.0 / n_chars >= 0.6),
         |k AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text))
         |SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
         |FROM documents JOIN q USING (doc_id) JOIN k USING (doc_id)
         |WHERE doc_id NOT IN (SELECT doc_id FROM losers)
         |GROUP BY lang ORDER BY lang""".stripMargin,
    "dedup_pipeline_v2" ->
      s"""WITH $shingleSql,
         |ex AS (SELECT doc_id, len(hs) AS n, unnest(hs) AS g FROM hsh),
         |keep AS (SELECT g FROM ex GROUP BY g HAVING count(*) BETWEEN 2 AND 100),
         |exf AS (SELECT ex.doc_id, ex.n, ex.g FROM ex JOIN keep USING (g)),
         |prs AS (
         |  SELECT a.doc_id AS id1, b.doc_id AS id2, a.n AS n1, b.n AS n2,
         |         count(*) AS common
         |  FROM exf a JOIN exf b ON a.g = b.g AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2, 3, 4),
         |sub AS (
         |  SELECT DISTINCT CASE WHEN n1 < n2 OR (n1 = n2 AND id1 < id2)
         |    THEN id1 ELSE id2 END AS doc_id
         |  FROM prs WHERE CAST(common AS DOUBLE) / least(n1, n2) >= 0.8),
         |bch AS (SELECT DISTINCT unnest(hs) AS h
         |        FROM hsh JOIN documents USING (doc_id) WHERE source = 'src0'),
         |tr AS (SELECT doc_id, CAST(len(hs) AS BIGINT) AS n_shingles, unnest(hs) AS h
         |       FROM hsh JOIN documents USING (doc_id) WHERE source <> 'src0'),
         |hits AS (SELECT doc_id, n_shingles, count(*) AS n_hit
         |         FROM tr JOIN bch USING (h) GROUP BY 1, 2),
         |cont AS (SELECT doc_id FROM hits
         |         WHERE round(CAST(n_hit AS DOUBLE) / n_shingles, 4) >= 0.6),
         |d AS (
         |  SELECT doc_id, n_chars, CAST(len(${graft.operators.TextOps.tokensSql}) AS INTEGER) AS n_tokens,
         |         length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha
         |  FROM documents),
         |q AS (
         |  SELECT doc_id FROM d
         |  WHERE n_chars BETWEEN 100 AND 5000 AND n_tokens >= 20
         |    AND alpha * 1.0 / n_chars >= 0.6)
         |SELECT source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
         |  CAST(sum(CAST(len(${graft.operators.TextOps.tokensSql}) AS BIGINT)) AS BIGINT) AS sum_tokens
         |FROM documents JOIN q USING (doc_id)
         |WHERE doc_id NOT IN (SELECT doc_id FROM sub)
         |  AND doc_id NOT IN (SELECT doc_id FROM cont)
         |GROUP BY source ORDER BY source""".stripMargin,
    "dedup_ppjoin" ->
      s"""WITH $shingleSql,
         |shn AS (SELECT doc_id, hs, CAST(len(hs) AS BIGINT) AS n FROM hsh),
         |ex AS (SELECT doc_id, n, unnest(hs) AS g FROM shn),
         |dfg AS (SELECT g, count(*) AS dfg FROM ex GROUP BY g),
         |pre AS (
         |  SELECT g, doc_id, n FROM (
         |    SELECT ex.g, ex.doc_id, ex.n,
         |      row_number() OVER (PARTITION BY ex.doc_id
         |                         ORDER BY dfg.dfg, ex.g) AS rn
         |    FROM ex JOIN dfg USING (g))
         |  WHERE rn <= n - (2 * n + 4) // 5 + 1),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
         |  FROM pre a JOIN pre b
         |    ON a.g = b.g AND a.doc_id < b.doc_id
         |  WHERE 5 * least(a.n, b.n) >= 2 * greatest(a.n, b.n)),
         |v AS (
         |  SELECT id1, id2, x.n AS n1, y.n AS n2,
         |    CAST(len(list_intersect(x.hs, y.hs)) AS BIGINT) AS inter
         |  FROM cand c JOIN shn x ON c.id1 = x.doc_id
         |  JOIN shn y ON c.id2 = y.doc_id)
         |SELECT id1, id2,
         |  round(CAST(inter AS DOUBLE) / (n1 + n2 - inter), 4) + 0.0 AS jaccard
         |FROM v WHERE 7 * inter >= 2 * (n1 + n2)
         |ORDER BY id1, id2""".stripMargin,
    "dedup_ngram_jaccard" ->
      s"""WITH $shingleSql,
         |ex AS (SELECT doc_id, len(hs) AS n, unnest(hs) AS g FROM hsh),
         |keep AS (SELECT g FROM ex GROUP BY g HAVING count(*) BETWEEN 2 AND 100),
         |exf AS (SELECT ex.doc_id, ex.n, ex.g FROM ex JOIN keep USING (g)),
         |pairs AS (
         |  SELECT a.doc_id AS id1, b.doc_id AS id2, a.n AS n1, b.n AS n2,
         |         count(*) AS common
         |  FROM exf a JOIN exf b ON a.g = b.g AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2, 3, 4),
         |j AS (
         |  SELECT id1, id2, common * 1.0 / (n1 + n2 - common) AS jac FROM pairs)
         |SELECT id1, id2, round(jac, 4) AS jaccard FROM j
         |WHERE jac >= 0.4 ORDER BY id1, id2""".stripMargin,
    "dedup_lsh_recall" ->
      s"""WITH $shingleSql,
         |$minhashCandSql,
         |ex AS (SELECT doc_id, len(hs) AS n, unnest(hs) AS g FROM hsh),
         |keep AS (SELECT g FROM ex GROUP BY g HAVING count(*) BETWEEN 2 AND 100),
         |exf AS (SELECT ex.doc_id, ex.n, ex.g FROM ex JOIN keep USING (g)),
         |pairs AS (
         |  SELECT a.doc_id AS id1, b.doc_id AS id2, a.n AS n1, b.n AS n2,
         |         count(*) AS common
         |  FROM exf a JOIN exf b ON a.g = b.g AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2, 3, 4),
         |truth AS (
         |  SELECT id1, id2,
         |    CAST(10 * common // (n1 + n2 - common) AS BIGINT) AS jac_decile
         |  FROM pairs WHERE 2 * common >= n1 + n2 - common),
         |hit AS (SELECT id1, id2, 1 AS caught FROM cand)
         |SELECT jac_decile, count(*) AS n_true,
         |  CAST(sum(coalesce(caught, 0)) AS BIGINT) AS n_caught,
         |  CAST(sum(coalesce(caught, 0)) * 1000000 // count(*) AS BIGINT) AS recall_ppm
         |FROM truth LEFT JOIN hit USING (id1, id2)
         |GROUP BY jac_decile ORDER BY jac_decile""".stripMargin,
    "dedup_simhash" -> simhashSql,
    "dedup_subsumed" ->
      s"""WITH $shingleSql,
         |ex AS (SELECT doc_id, len(hs) AS n, unnest(hs) AS g FROM hsh),
         |keep AS (SELECT g FROM ex GROUP BY g HAVING count(*) BETWEEN 2 AND 100),
         |exf AS (SELECT ex.doc_id, ex.n, ex.g FROM ex JOIN keep USING (g)),
         |pairs AS (
         |  SELECT a.doc_id AS id1, b.doc_id AS id2, a.n AS n1, b.n AS n2,
         |         count(*) AS common
         |  FROM exf a JOIN exf b ON a.g = b.g AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2, 3, 4),
         |c AS (SELECT *, CAST(common AS DOUBLE) / least(n1, n2) AS cont FROM pairs)
         |SELECT
         |  CASE WHEN n1 < n2 OR (n1 = n2 AND id1 < id2) THEN id1 ELSE id2 END AS contained_id,
         |  CASE WHEN n1 < n2 OR (n1 = n2 AND id1 < id2) THEN id2 ELSE id1 END AS container_id,
         |  common, CAST(least(n1, n2) AS BIGINT) AS n_small,
         |  round(cont, 4) AS containment
         |FROM c WHERE cont >= 0.8
         |ORDER BY contained_id, container_id""".stripMargin,
    "dedup_components" ->
      s"""WITH RECURSIVE ${SimilarityOps.ivfCellsSql},
         |p AS (
         |  SELECT DISTINCT a.vec_id AS id1, b2.vec_id AS id2
         |  FROM cells a JOIN cells b2 ON a.aid = b2.aid AND a.vec_id < b2.vec_id
         |  WHERE ${SimilarityOps.cosExprSql("a.embedding", "b2.embedding")} >= 0.4),
         |e AS (SELECT id1 AS a, id2 AS b FROM p
         |      UNION ALL SELECT id2, id1 FROM p),
         |walk(v, l) AS (
         |  SELECT vec_id, vec_id FROM embeddings
         |  UNION
         |  SELECT e.b, walk.l FROM walk JOIN e ON walk.v = e.a),
         |lab AS (SELECT v AS vec_id, min(l) AS label FROM walk GROUP BY v)
         |SELECT label AS component, count(*) AS n_members
         |FROM lab GROUP BY label ORDER BY component""".stripMargin,
    "dedup_mis" -> dedupMisOracle,
    "dedup_doc_overlap" ->
      s"""WITH $shingleSql,
         |ex AS (SELECT doc_id, len(hs) AS n, unnest(hs) AS g FROM hsh),
         |dfc AS (SELECT g, count(*) AS df FROM ex GROUP BY g),
         |a AS (SELECT doc_id, n,
         |        CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared
         |      FROM ex JOIN dfc USING (g) GROUP BY doc_id, n)
         |SELECT doc_id, CAST(n AS BIGINT) AS n_shingles, n_shared,
         |  round(CAST(n_shared AS DOUBLE) / n, 4) AS overlap_ratio
         |FROM a ORDER BY doc_id""".stripMargin,
    "qc_dup_rate" ->
      """WITH d AS (
        |  SELECT doc_id, source, md5(text) AS h FROM documents),
        |c AS (SELECT h, min(doc_id) AS keep_id FROM d GROUP BY h)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN doc_id <> keep_id THEN 1 ELSE 0 END) AS BIGINT) AS n_dups,
        |  CAST(sum(CASE WHEN doc_id <> keep_id THEN 1 ELSE 0 END) AS BIGINT)
        |    * 1000000 // count(*) AS dup_ppm
        |FROM d JOIN c USING (h)
        |GROUP BY source ORDER BY source""".stripMargin,
    "dedup_name_blocked" ->
      """WITH n AS (SELECT DISTINCT p_name FROM part),
        |k AS (
        |  SELECT p_name, 'f:' || split_part(p_name, ' ', 1) AS blk FROM n
        |  UNION ALL
        |  SELECT p_name, 'l:' || split_part(p_name, ' ', -1) AS blk FROM n),
        |p AS (
        |  SELECT DISTINCT a.p_name AS n1, b.p_name AS n2
        |  FROM k a JOIN k b ON a.blk = b.blk AND a.p_name < b.p_name),
        |v AS (
        |  SELECT n1, n2,
        |    round(jaro_winkler_similarity(n1, n2), 4) + 0.0 AS jw
        |  FROM p)
        |SELECT n1, n2, jw FROM v WHERE jw >= 0.85
        |ORDER BY n1, n2""".stripMargin,
    "dedup_name_match" ->
      """WITH n AS (SELECT DISTINCT p_name FROM part),
        |p AS (
        |  SELECT a.p_name AS n1, b.p_name AS n2,
        |    round(jaro_winkler_similarity(a.p_name, b.p_name), 4) + 0.0 AS jw
        |  FROM n a JOIN n b ON a.p_name < b.p_name)
        |SELECT n1, n2, jw FROM p WHERE jw >= 0.85
        |ORDER BY n1, n2""".stripMargin,
    "dedup_threshold_sweep" ->
      s"""WITH ${SimilarityOps.ivfCellsSql},
         |pairs AS (
         |  SELECT DISTINCT a.vec_id AS id1, b2.vec_id AS id2,
         |    round(${SimilarityOps.cosExprSql("a.embedding", "b2.embedding")}, 4) AS cos_sim
         |  FROM cells a JOIN cells b2 ON a.aid = b2.aid AND a.vec_id < b2.vec_id
         |  WHERE ${SimilarityOps.cosExprSql("a.embedding", "b2.embedding")} >= 0.4),
         |h AS (
         |  SELECT CAST(round(cos_sim * 10000) AS BIGINT) // 500 AS b,
         |    CAST(count(*) AS BIGINT) AS c
         |  FROM pairs GROUP BY 1)
         |SELECT b * 50000 AS thr_ppm,
         |  CAST(sum(c) OVER (ORDER BY b DESC) AS BIGINT) AS n_pairs
         |FROM h ORDER BY thr_ppm""".stripMargin,
    "dedup_embedding" ->
      s"""WITH ${SimilarityOps.ivfCellsSql}
         |SELECT DISTINCT a.vec_id AS id1, b2.vec_id AS id2,
         |  round(${SimilarityOps.cosExprSql("a.embedding", "b2.embedding")}, 4) AS cos_sim
         |FROM cells a JOIN cells b2 ON a.aid = b2.aid AND a.vec_id < b2.vec_id
         |WHERE ${SimilarityOps.cosExprSql("a.embedding", "b2.embedding")} >= 0.4
         |ORDER BY id1, id2""".stripMargin,
    // dedup_embedding's cell blocking with the cross-set (bench ×
    // train) restriction in place of the id1 < id2 orientation.
    "dedup_contamination_emb" ->
      s"""WITH ${SimilarityOps.ivfCellsSql},
         |tg AS (
         |  SELECT c.vec_id, c.embedding, c.aid, d.source
         |  FROM cells c JOIN documents d ON c.vec_id = d.doc_id)
         |SELECT DISTINCT t.vec_id AS train_doc, b2.vec_id AS bench_doc,
         |  round(${SimilarityOps.cosExprSql("t.embedding", "b2.embedding")}, 4) AS cos_sim
         |FROM tg b2 JOIN tg t ON b2.aid = t.aid
         |WHERE b2.source = 'src0' AND t.source <> 'src0'
         |  AND ${SimilarityOps.cosExprSql("t.embedding", "b2.embedding")} >= 0.4
         |ORDER BY train_doc, bench_doc""".stripMargin,
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_exact" -> (dedupExact(_, _)),
    "dedup_minhash_lsh" -> (dedupMinhashLsh(_, _)),
    "dedup_ngram_jaccard" -> (dedupNgramJaccard(_, _)),
    "dedup_ppjoin" -> (dedupPpjoin(_, _)),
    "dedup_lsh_recall" -> (dedupLshRecall(_, _)),
    "dedup_subsumed" -> (dedupSubsumed(_, _)),
    "dedup_simhash" -> (dedupSimhash(_, _)),
    "dedup_edit_near" -> (dedupEditNear(_, _)),
    "dedup_incremental" -> (dedupIncremental(_, _)),
    "dedup_minhash_incremental" -> (dedupMinhashIncremental(_, _)),
    "dedup_components_incremental" -> (dedupComponentsIncremental(_, _)),
    "dedup_embedding" -> (dedupEmbedding(_, _)),
    "dedup_contamination_emb" -> (dedupContaminationEmb(_, _)),
    "dedup_threshold_sweep" -> (dedupThresholdSweep(_, _)),
    "dedup_name_match" -> (dedupNameMatch(_, _)),
    "dedup_name_blocked" -> (dedupNameBlocked(_, _)),
    "qc_dup_rate" -> (qcDupRate(_, _)),
    "dedup_components" -> (dedupComponents(_, _)),
    "dedup_mis" -> (dedupMis(_, _)),
    "dedup_doc_overlap" -> (dedupDocOverlap(_, _)),
    "dedup_pipeline" -> (dedupPipeline(_, _)),
    "dedup_pipeline_v2" -> (dedupPipelineV2(_, _)),
    "dedup_contamination" -> (dedupContamination(_, _)),
  )
}
