package graft

import java.nio.file.{Files, Paths}
import java.nio.file.StandardOpenOption.{APPEND, CREATE}
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every SparkEntry query against
  * `SPARK_GRAFT_SF_DIR` and prints ONE JSON line
  * `{"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}`.
  *
  * Trust rules (VERDICT r1 §4): results materialize through the `noop`
  * sink (a `.count()` lets Catalyst prune unevaluated projections, so
  * map-heavy queries would time as no-ops); a warmup query absorbs
  * first-query session/codegen cost so per-query numbers are
  * attributable; failures are captured per query as `"err"` entries and
  * flip `"ok"` to false — never silently timed as their time-to-crash.
  *
  * Self-adjudication (VERDICT r7 #1/#2) — this host shows transient
  * single-query stalls (r6/r7 official boots measured betweenness at
  * 2-3× every controlled band while sibling queries sat in-band), and
  * adjudicating one took the judge three manual reruns. Two artifact
  * fields settle it from the JSON alone:
  *
  *  - `"retries"`: any query whose time exceeds [[StallFactor]]× its
  *    trailing-round median (medians over the trailing same-sf window
  *    of [[HistoryPath]], so a local sf0.001 run never trips on sf0.1
  *    history) AND is ≥ [[StallFloorSec]] (the
  *    stall class is multi-second; sub-second 2-3× swings are boot
  *    noise per the r7 adjudication) is re-run ONCE in the same boot,
  *    and BOTH times are recorded: `{"t": 52.1, "retry": 17.0}`. A
  *    matching fast retry = stall; a matching slow retry = real.
  *    `"queries"` and `"value"` keep the FIRST measurement — the
  *    trust-rule primary — so totals stay comparable across rounds.
  *  - `"plans"`: a normalized fingerprint (md5/12) of each query's
  *    executedPlan string, captured AFTER its timed run (planning
  *    only — never inside the timer, never re-running construction).
  *    Expression ids / plan ids / paths are stripped so the sha is
  *    stable across boots on unchanged code: a cross-round time delta
  *    with equal shas is host variance, with differing shas a plan
  *    change.
  */
object Bench {

  /** Retry trigger: measured > StallFactor × trailing-round median. */
  private val StallFactor = 3.0

  /** Retry floor (sec): below this a 3× excursion is boot noise, not
    * the multi-second stall class the retry exists to adjudicate. */
  private val StallFloorSec = 1.0

  /** Normalized executedPlan text — strips the run-varying tokens
    * (expr ids `#123`, `plan_id=`, subquery/exchange ids, file paths,
    * stats annotations, per-boot catalog/table/lambda identities) so
    * unchanged code renders identically across boots and query
    * orderings. Exposed separately from [[planSha]] so the two-boot
    * stability check ([[dumpPlans]]) can DIFF the text when a sha
    * mismatches — r8's panel-only check missed token classes precisely
    * because shas alone don't say WHAT varied. */
  private[graft] def planNorm(plan: String): String = {
    val norm = plan
      .replaceAll("#\\d+", "#")
      .replaceAll("plan_id=\\d+", "plan_id=")
      // Typed-pipeline closures render as
      // Foo$$Lambda$6764/0x00007f..@ce26cb1 — lambda index, hidden-class
      // address, AND identity hash all vary per JVM boot (caught by the
      // two-boot stability check, r8). ONE regex scoped to the lambda
      // token: a global '@hex' strip would also normalize '@'+hex
      // inside genuine plan literals ('bob@cafe.com' vs 'bob@dead.com'
      // hashing equal — second review pass, r8).
      .replaceAll("\\$\\$?Lambda\\$?\\d*/0x[0-9a-fA-F]+(@[0-9a-f]+)?",
        "\\$\\$Lambda")
      // Typed-Aggregator plans print the aggregator object via the
      // default Object.toString — `graft.functions.KmvDistinct$@58453967`,
      // `org.apache.spark.sql.expressions.ReduceAggregator@5e4b92b3` —
      // and the identity hash varies per boot (judge-found r8: 4 of the
      // 15 leaking queries). Scope: a DOT-QUALIFIED class name before
      // the '@' and a hex run with no trailing word char/dot, so a
      // genuine string literal like 'john.doe@example.com' never
      // matches ('e' would need 'x' to be a non-word char) and a plain
      // 'bob@cafe' has no dotted prefix.
      .replaceAll(
        "\\b((?:[A-Za-z_][\\w$]*\\.)+[A-Za-z_][\\w$]*\\$?)@[0-9a-fA-F]+(?![\\w.])",
        "$1@")
      // Session-keyed catalog tables (Formats.sessionTable) are named
      // `<prefix><md5-of-dir>_<identityHashCode(spark)>` — the trailing
      // decimal is per-boot (judge-found r8: the dedup_*_incremental /
      // sim_ivf_* / sim_ann_indexed / src_dpp_scan leaks). The 32-hex
      // dir digest anchors the match so ordinary `name_123` columns
      // stay untouched.
      .replaceAll("(_[0-9a-f]{32})_\\d+", "$1_")
      .replaceAll("exprId=\\d+", "exprId=")
      .replaceAll("subquery\\d+", "subquery")
      .replaceAll("cte\\d+", "cte")
      .replaceAll("file:[^\\s,\\]\\)]+", "<path>")
      .replaceAll("/[-\\w./]*(testdata|warehouse|tmp)[^\\s,\\]\\)]*", "<path>")
      // FileScan truncates each metadata VALUE at a fixed width, so a
      // LONG path list loses its closing ']' — and the cut lands
      // wherever the per-boot session-table name lengths put it (mid
      // path, after a separator), so path LENGTH leaked into the sha
      // (caught r10: first the per-pid stream sinks, then
      // src_bloom_prune's 2-path pruned list flipping across boots).
      // Canonical form is '[<path>]' — the single-path untruncated
      // spelling every committed sha already hashes — reached from
      // BOTH directions: an untruncated list (however many paths)
      // collapses, and a truncated tail (anchored on the next metadata
      // key, which always follows Location) is dropped and re-closed.
      // Untruncated list (1+ paths) → the canonical single token…
      .replaceAll("\\[<path>(?:, <path>)*\\]", "[<path>]")
      // …and a truncated list — complete paths, then possibly a cut
      // remnant, then the next metadata key — re-closes to the same
      // canonical form. The remnant is EITHER a partial path that the
      // path rules above already normalized (its anchor word
      // survived the cut) OR raw prefix text the cut beheaded before
      // its anchor word ('/root/repo/spark-wa…' — the src_bloom_prune
      // flap: per-boot session-name lengths move the cut point), so
      // the alternative swallows any comma-separated tail without
      // crossing the field boundary.
      .replaceAll("\\[<path>(?:, <path>)*(?:,\\s*[^,\\]]*)?, PartitionFilters",
        "[<path>], PartitionFilters")
      // Catch-all for the remaining truncation geometry (ADVICE r10):
      // if the cut lands inside the FIRST path before its anchor word
      // (file:/testdata/warehouse/tmp), no <path> token survives and
      // the rules above leave raw prefix text. Anchor on the Location
      // field itself: everything between its '[' and the next
      // metadata key (', Word: ') or end-of-line is path-list content
      // by construction, so it canonicalizes to the same [<path>]
      // spelling regardless of where the cut fell. A no-op on strings
      // the rules above already canonicalized.
      .replaceAll(
        "(Location: [\\w$.]+\\(\\d+ paths?\\))\\[(?:(?!, [A-Z]\\w*: )[^\\n])*\\]?",
        "$1[<path>]")
      // The same fixed-width cut hits DataFilters: Spark keeps 97
      // characters of a long value plus '...'
      // (spark.sql.maxMetadataStringLength = 100), and it cuts BEFORE
      // the '#<id>' strip above, so the digit count of the ids moves
      // the cut point across boots on unchanged code (ev_range_join:
      // 'isnotnull(uni...' vs 'isnotnull(unix_m...'). A cut value — one
      // ending in '...' at its field boundary; a whole list ends in ']'
      // — becomes one fixed token. Nothing is lost: the Filter node
      // above the scan prints the same predicates in full. Not so for
      // PartitionFilters (Spark drops partition-only predicates from
      // that Filter), so a cut PartitionFilters value keeps its text.
      // (Not covered: a value whose raw length sits at the width, cut
      // in one boot and whole in the next.)
      .replaceAll(
        "DataFilters: \\[(?:(?!, [A-Z]\\w*: )[^\\n])*?\\.\\.\\.(?=, [A-Z]\\w*: |\\n|$)",
        "DataFilters: [<cut>]")
      .replaceAll("Statistics\\([^)]*\\)", "<stats>")
      .replaceAll("\\[id=[^\\]]*\\]", "")
      // Multi-distinct aggregates: RewriteDistinctAggregates groups the
      // distinct children by ExpressionSet, whose iteration order hangs
      // off per-boot exprId hashes — so the `gid` index each group gets
      // (and with it the FILTER (gid# = N) bindings and the Expand row
      // order) permutes across boots on identical code (full-set
      // two-boot check, r9: qc_profile, stat_chi2, ev_user_features).
      // gid numbering carries no plan-shape information — normalize the
      // digit; the row order is canonicalized below.
      .replaceAll("gid# = \\d+", "gid# = _")
      .replaceAll("\\[gid=\\d+\\]", "[gid=_]")
    canonExpandRows(canonGidLists(norm))
  }

  /** Canonicalize every expression list CONTAINING the synthetic
    * `gid#` column (the multi-distinct rewrite's disambiguator): the
    * rewrite also emits its grouping keys in per-boot ExpressionSet
    * order, permuting `keys=[...]`, the intermediate `Sort [...]`,
    * `hashpartitioning(...)`, `functions=[...]`, and `output=[...]`
    * lists of the rewritten subtree across boots (two-boot check, r9:
    * qc_profile). gid# only ever appears in rewrite-generated lists —
    * user-facing sorts/groupings never contain it — so sorting the
    * top-level elements of exactly those lists erases the boot order
    * while leaving every other list's order (which IS plan shape)
    * untouched. hashpartitioning keeps its trailing partition count
    * in place. */
  private def canonGidLists(s: String): String = {
    val br = "\\[([^\\[\\]]*gid#[^\\[\\]]*)\\]".r
    val s1 = br.replaceAllIn(s, m =>
      java.util.regex.Matcher.quoteReplacement(
        "[" + splitTopLevel(m.group(1)).sorted.mkString(", ") + "]"))
    val token = "hashpartitioning("
    val sb = new StringBuilder
    var i = 0
    while (i < s1.length) {
      val idx = s1.indexOf(token, i)
      if (idx < 0) { sb.append(s1.substring(i)); i = s1.length }
      else {
        sb.append(s1.substring(i, idx + token.length))
        var depth = 1
        var j = idx + token.length
        while (j < s1.length && depth > 0) {
          val c = s1.charAt(j)
          if (c == '(') depth += 1 else if (c == ')') depth -= 1
          j += 1
        }
        val inner = s1.substring(idx + token.length, j - 1)
        if (inner.contains("gid#")) {
          val parts = splitTopLevel(inner)
          sb.append((parts.init.sorted :+ parts.last).mkString(", "))
        } else sb.append(inner)
        sb.append(")")
        i = j
      }
    }
    sb.result()
  }

  /** Canonicalize each Expand node's projection-row list (see
    * [[planNorm]]: multi-distinct rewrites emit the rows in per-boot
    * gid order, and each row EMBEDS its gid as a bare integer literal).
    * A plan node prints on one line as
    * `Expand [[r00, r01], [r10, r11]], [out...]` — rows hold scalar
    * expression text (no square brackets), so the `], [` splitter is
    * unambiguous. Top-level bare-integer elements are erased before
    * sorting: the gid (and the rollup/cube grouping-id bitmask, which
    * is a pure function of the row's null pattern) carry no plan-shape
    * information the remaining row content doesn't already pin. */
  private def canonExpandRows(s: String): String = {
    val re = "Expand \\[\\[(.*?)\\]\\], \\[".r
    re.replaceAllIn(s, m => {
      // Row ELEMENTS are sorted too: the rewrite permutes the Expand
      // output-column order along with its grouping keys (r9), and row
      // elements are positional against that output list — so each row
      // canonicalizes to its expression multiset.
      val rows = m.group(1).split("\\], \\[", -1).toSeq
        .map(row => splitTopLevel(row)
          .map(e => if (e.matches("-?\\d+")) "_" else e)
          .sorted.mkString(", "))
        .sorted
      java.util.regex.Matcher.quoteReplacement(
        "Expand [[" + rows.mkString("], [") + "]], [")
    })
  }

  /** Split an Expand row on `, ` at paren depth 0 only — elements like
    * `substring(h, 1, 16)` keep their inner argument commas. */
  private def splitTopLevel(s: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val sb = new StringBuilder
    var depth = 0
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '(') depth += 1
      else if (c == ')') depth -= 1
      if (c == ',' && depth == 0 &&
          i + 1 < s.length && s.charAt(i + 1) == ' ') {
        out += sb.result(); sb.clear(); i += 1
      } else sb += c
      i += 1
    }
    out += sb.result()
    out.toSeq
  }

  /** md5/12 of [[planNorm]] — the `plans` artifact fingerprint. */
  private[graft] def planSha(plan: String): String = sha12(planNorm(plan))

  /** md5/12 of an already-normalized plan text. */
  private[graft] def sha12(normText: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(normText.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)

  /** History file: one full-run bench line per row, appended by every
    * full (no-args) run. The committed seed carries the r5-r7 official
    * and builder full-suite lines — the driver's own BENCH_r*.json
    * wrappers truncate the line to a 2 KB tail, so this file is the
    * only complete per-query history the repo owns. */
  private[graft] val HistoryPath = "BENCH_HISTORY.jsonl"

  /** How many trailing matching-sf runs feed each query's median —
    * wide enough to absorb one stalled entry, short enough that a real
    * plan change re-baselines within a couple of rounds. */
  private val MedianWindow = 5

  /** Core-count window guard (VERDICT r12 #3b): history lines carried
    * no cpus field, so the driver's 8-core scaling boot joined the
    * 32-core official window and BENCH_OFFICIAL became a median over
    * mixed-core boots. Every line now records `"cpus":N` and every
    * history window filters on it: both median windows and the plan
    * window ([[historyPlans]]) — `GraftSession` sets the shuffle width
    * to the core count, so plan text, and with it every plan sha,
    * differs between core counts. A LEGACY (cpus-less, pre-r13) line
    * stays joinable — excluding it would blank the stall trigger and
    * the live-artifact consistency check until the first new-format
    * boot. In [[officialMedian]] the src hash bounds that hole: a
    * legacy line can never match an r13+ src hash, so post-r13
    * OFFICIAL windows hold only cpus-stamped, same-cpus boots.
    * [[trailingMedians]] has no src filter, so there a legacy line can
    * sit in a stamped core count's stall window until 5 newer stamped
    * boots of that sf push it out. */
  private def cpusMatches(line: String, cpus: Int): Boolean =
    lineCpus(line).forall(_ == cpus) // None: legacy pre-r13 line (see above)

  /** A history line's core count; None for a legacy (cpus-less) line. */
  private def lineCpus(line: String): Option[Int] =
    "\"cpus\":(\\d+)".r.findFirstMatchIn(line).flatMap(_.group(1).toIntOption)

  /** The lines of the history file at `path` whose sf is `sfDir`,
    * oldest → newest — the one reader behind every history window. A
    * missing or unreadable file reads as no lines, never as a throw. */
  private def historyLines(sfDir: String, path: String): List[String] = {
    val sfRe = "\"sf\":\"([^\"]*)\"".r
    val lines =
      try Files.readAllLines(Paths.get(path)).asScala.toList
      catch { case _: java.io.IOException => Nil }
    lines.filter(l => sfRe.findFirstMatchIn(l).exists(_.group(1) == sfDir))
  }

  /** Per-query medians over the trailing [[MedianWindow]] same-sf,
    * same-cpus runs in [[HistoryPath]] — the baseline the stall
    * trigger compares against. A missing/foreign/corrupt file degrades
    * to "no median" (no retry), never to a throw. */
  private[graft] def trailingMedians(sfDir: String, cpus: Int,
      path: String = HistoryPath): Map[String, Double] =
    windowMedians(historyLines(sfDir, path)
      .filter(cpusMatches(_, cpus))
      .takeRight(MedianWindow))._1

  /** Per-query medians over the `"queries"` maps of the window `lines`,
    * and per query its count of valid samples — the parse both median
    * windows share. Regex-parsed: the rows are this main's own
    * single-line format. A failed run (`-1`) is no sample; so is a
    * mangled token (torn concurrent append, hand edit — the pair
    * charset admits shapes a double parse rejects, e.g. '3.612.007'),
    * which must degrade, not kill the bench before a single query runs
    * (review finding, r8). A query seen only as failures has count 0
    * and no median. */
  private def windowMedians(lines: List[String])
      : (Map[String, Double], Map[String, Int]) = {
    val qRe = "\"queries\":\\{([^}]*)\\}".r
    val pairRe = "\"([^\"]+)\":(-?[0-9][0-9.eE+-]*)".r
    val samples = for (l <- lines; m <- qRe.findFirstMatchIn(l).toList;
         p <- pairRe.findAllMatchIn(m.group(1)))
      yield p.group(1) -> p.group(2).toDoubleOption.filter(_ >= 0)
    val valid = samples.groupMap(_._1)(_._2).map { case (q, ts) => q -> ts.flatten.sorted }
    val medians = valid.collect { case (q, s) if s.nonEmpty =>
      q -> (if (s.size % 2 == 1) s(s.size / 2)
        else (s(s.size / 2 - 1) + s(s.size / 2)) / 2)
    }
    (medians, valid.map { case (q, s) => q -> s.size })
  }

  /** Best-effort git HEAD commit (sha12) read straight from .git —
    * no subprocess (zero-egress container; also keeps Bench a pure
    * JVM main). Follows a worktree's `gitdir:` indirection (ADVICE
    * r11: in a worktree .git is a FILE, and degrading to "unknown"
    * there both failed the spec and pooled unrelated code states into
    * one official window) and a worktree gitdir's `commondir` for ref
    * resolution; resolves a symbolic HEAD through the loose ref file
    * or packed-refs; anything unexpected degrades to "unknown".
    * Recorded per line as provenance; the OFFICIAL-median window keys
    * on [[srcTreeHash]] (VERDICT r11 #3) so artifact-only commits
    * don't reset it. */
  private[graft] def gitHead(gitDir: String = ".git"): String =
    try {
      var p = Paths.get(gitDir)
      // Worktree / submodule checkout: .git is a file 'gitdir: <path>'.
      if (Files.isRegularFile(p)) {
        val ind = Files.readString(p).trim
        if (!ind.startsWith("gitdir:")) return "unknown"
        p = p.toAbsolutePath.getParent.resolve(ind.drop(7).trim).normalize()
      }
      // Worktree gitdirs keep HEAD locally but share refs/packed-refs
      // through the commondir pointer.
      val commonFile = p.resolve("commondir")
      val refBase =
        if (Files.isRegularFile(commonFile))
          p.resolve(Files.readString(commonFile).trim).normalize()
        else p
      val s = Files.readString(p.resolve("HEAD")).trim
      val sha =
        if (s.startsWith("ref: ")) {
          val ref = s.drop(5).trim
          val loose = refBase.resolve(ref)
          if (Files.isRegularFile(loose)) Files.readString(loose).trim
          else Files.readAllLines(refBase.resolve("packed-refs"))
            .asScala.find(_.endsWith(" " + ref))
            .map(_.takeWhile(_ != ' ')).getOrElse("")
        } else s
      if (sha.matches("[0-9a-f]{40}")) sha.take(12) else "unknown"
    } catch { case NonFatal(_) => "unknown" }

  /** md5/12 over the PLAN-RELEVANT source tree (src/main, sorted
    * relative paths + file bytes) — the official-median window key
    * (VERDICT r11 #3). The r11 round-close commit changed only
    * artifacts (PLANS_r11 + evidence) yet reset the same-HEAD window
    * to boots:1, degrading the median protocol to a single-boot draw;
    * keying on the source tree instead makes the window exactly
    * coextensive with "same executable plans": artifact/doc/test-only
    * commits keep the window, any src/main edit re-baselines it.
    * IO trouble degrades to "unknown" (window then falls back to
    * same-head matching for legacy lines and matches no src-keyed
    * line — no cross-state pooling). */
  private[graft] def srcTreeHash(root: String = "src/main"): String =
    try {
      val base = Paths.get(root)
      if (!Files.isDirectory(base)) return "unknown"
      val md = java.security.MessageDigest.getInstance("MD5")
      val files = Files.walk(base).iterator().asScala
        .filter(Files.isRegularFile(_))
        .map(f => base.relativize(f).toString -> f)
        .toSeq.sortBy(_._1)
      files.foreach { case (rel, f) =>
        md.update(rel.getBytes("UTF-8"))
        md.update(0.toByte)
        md.update(Files.readAllBytes(f))
        md.update(0.toByte)
      }
      md.digest().map("%02x".format(_)).mkString.take(12)
    } catch { case NonFatal(_) => "unknown" }

  /** OFFICIAL per-query numbers (VERDICT r10 #2): the r10 official
    * boot was a 1.2×-contention-inflated outlier adjudicated only by
    * judge reruns, so the official number is now the per-query MEDIAN
    * over the trailing window of SAME-SOURCE-TREE, same-sf full boots
    * in [[HistoryPath]] (≤ [[MedianWindow]]). Window membership
    * (VERDICT r11 #3): a line carrying a `src` field joins iff its
    * src-tree hash matches; a legacy (pre-r12, src-less) line joins
    * iff its head matches — legacy lines only ever share a head with
    * the current boot when the commit (and so the tree) is the same,
    * so the same-code guarantee holds across the format change.
    * Returns the per-query medians, each line's total (the spread
    * evidence), and per-query VALID-SAMPLE counts (ADVICE r11: a
    * query that failed in some window boots gets a median over fewer
    * boots, and one failing in all of them silently vanishes — the
    * counts make a shrunken basis detectable; a query seen only as
    * failures appears with count 0). Same degrade-don't-throw parsing
    * contract as [[windowMedians]]; an "unknown" key matches
    * nothing — mixing unknown-provenance boots into an official
    * window would defeat the same-code guarantee. Window membership
    * additionally requires a matching core count (see [[cpusMatches]]
    * — VERDICT r12 #3b: the driver's 8-core boot must not pool into
    * the 32-core official window). */
  private[graft] def officialMedian(sfDir: String, head: String,
      src: String, cpus: Int, path: String = HistoryPath)
      : (Map[String, Double], List[Double], Map[String, Int]) = {
    val headRe = "\"head\":\"([^\"]*)\"".r
    val srcRe = "\"src\":\"([^\"]*)\"".r
    val totRe = "\"value\":(-?[0-9][0-9.eE+-]*)".r
    val matching = historyLines(sfDir, path)
      .filter { l =>
        srcRe.findFirstMatchIn(l).map(_.group(1)) match {
          case Some(ls) => ls == src && src != "unknown"
          case None =>
            headRe.findFirstMatchIn(l).exists(_.group(1) == head) &&
              head != "unknown"
        }
      }
      .filter(cpusMatches(_, cpus))
      .takeRight(MedianWindow)
    val (medians, counts) = windowMedians(matching)
    val totals = matching.flatMap(l =>
      totRe.findFirstMatchIn(l).flatMap(m =>
        try Some(m.group(1).toDouble)
        catch { case _: NumberFormatException => None }))
    (medians, totals, counts)
  }

  /** The "plans" maps of every same-sf, same-cpus line in
    * [[HistoryPath]], oldest → newest — the cross-round sha-stability
    * source (r10, VERDICT r9 wrong #2: with the normalizer now fixed,
    * sha equality across rounds is meaningful again and is asserted as
    * a standing artifact check in BenchArtifactSpec) and the window
    * the variant capture in [[main]] checks against. Keyed on the core
    * count like the median windows (see [[cpusMatches]]): the shuffle
    * width is in the plan text, so boots of one source tree at 32 and
    * at 8 cores share almost no shas. Lines without a plans field
    * (pre-r9 rounds) are skipped; parse failures degrade to skip,
    * never to a throw — the trailingMedians contract. */
  private[graft] def historyPlans(sfDir: String, cpus: Int,
      path: String = HistoryPath): List[Map[String, String]] = {
    val pRe = "\"plans\":\\{([^}]*)\\}".r
    val pairRe = "\"([^\"]+)\":\"([0-9a-f]{12})\"".r
    historyLines(sfDir, path)
      .filter(cpusMatches(_, cpus))
      .flatMap(l => pRe.findFirstMatchIn(l).map(m =>
        pairRe.findAllMatchIn(m.group(1))
          .map(p => p.group(1) -> p.group(2)).toMap))
      .filter(_.nonEmpty)
  }

  /** The core count of the newest same-sf line that carries plans —
    * the window [[historyPlans]] compares that line against. -1 when
    * that line is legacy (cpus-less) or there is none: -1 matches no
    * cpus-stamped line, so that window holds legacy lines only. */
  private[graft] def newestPlansCpus(sfDir: String,
      path: String = HistoryPath): Int =
    historyLines(sfDir, path).filter(_.contains("\"plans\":{\""))
      .lastOption.flatMap(lineCpus).getOrElse(-1)

  /** Run first in every boot, untimed: they absorb session init,
    * codegen and parquet footer reads for each table family (fact scan,
    * text+regexp+explode, vector math), so per-query numbers attribute
    * work, not first-touch JIT. */
  private val WarmUp = Seq("q02_filter_project", "mr_wordcount", "sim_topk_cosine")

  /** Runs query `name` once through the `noop` sink after an untimed
    * teardown. Returns its seconds and normalized executedPlan text, or
    * the message of what stopped it. */
  private def materialize(spark: SparkSession, sfDir: String, name: String)
      : Either[String, (Double, String)] = {
    // Untimed cross-query state teardown (VERDICT r2 finding #1: the
    // driver's 52-query run showed ~3x aggregate inflation vs isolated
    // runs). Three layers, all deterministic rather than waiting on
    // the async ContextCleaner:
    //  1. unpersist every persistent RDD synchronously — frees the
    //     localCheckpoint blocks queries leave behind (components,
    //     minhash) instead of letting them squeeze unified execution
    //     memory for the rest of the suite;
    //  2. drop any cached relations (none expected — defensive);
    //  3. GC so the cleaner also reaps shuffle files and broadcast
    //     blocks whose owners just became unreachable.
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
    System.gc()
    val t0 = System.nanoTime()
    try {
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.write.format("noop").mode("overwrite").save()
      val t = (System.nanoTime() - t0) / 1e9
      // Fingerprint AFTER the timer stops: executedPlan access is
      // planning only (the iterative kernels' loops already ran at
      // construction above — nothing re-executes here).
      Right((t, planNorm(df.queryExecution.executedPlan.toString)))
    } catch {
      case e: Throwable =>
        Left(Option(e.getMessage).getOrElse(e.getClass.getName).take(300))
    }
  }

  /** The `--plans` mode: after the warm-up, runs each of `names` as a
    * timed run does and writes its [[planNorm]] text, the text whose
    * [[sha12]] a timed run records in its `plans` map, to
    * `outDir/<name>.plan`. A failed query's file holds `ERROR: ` and its
    * normalized message (raw exception text can embed per-boot tokens
    * such as temp paths). Two fresh JVMs on unchanged code must write
    * byte-identical directories; where they differ, the diff names the
    * leaking token class, which a sha mismatch alone does not. Writes
    * none of the history artifacts. */
  private[graft] def dumpPlans(spark: SparkSession, sfDir: String,
      names: Seq[String], outDir: String): Unit = {
    val dir = Paths.get(outDir)
    Files.createDirectories(dir)
    WarmUp.foreach(materialize(spark, sfDir, _))
    names.foreach { n =>
      val text = materialize(spark, sfDir, n).fold("ERROR: " + planNorm(_), _._2)
      Files.writeString(dir.resolve(n + ".plan"), text + "\n")
    }
  }

  /** Whether a full boot at `cpus` executor threads publishes
    * BENCH_OFFICIAL.json: only at the host's full core count. A
    * throttled scaling boot (r13's 8 cores on the 32-core host) would
    * otherwise replace the official number with its own. */
  private[graft] def writesOfficial(cpus: Int,
      cores: Int = Runtime.getRuntime.availableProcessors): Boolean =
    cpus >= cores

  /** `runMain graft.Bench [query...]` times the named queries (all of
    * them when none is named; only such a full run writes the history
    * artifacts). `runMain graft.Bench --plans <outDir> [query...]`
    * writes their plan texts instead ([[dumpPlans]]). Data comes from
    * `SPARK_GRAFT_SF_DIR`. */
  def main(args: Array[String]): Unit = {
    // Checked before any session starts: a missing path or an unknown
    // query name fails here.
    val (plansDir, asked) = args.toSeq match {
      case "--plans" +: rest =>
        require(rest.nonEmpty, "usage: Bench --plans <outDir> [query...]")
        (Some(rest.head), rest.tail)
      case rest => (None, rest)
    }
    val names = SparkEntry.selectQueries(asked)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.cpus
    // Shuffle-file removal is async by default (the ContextCleaner posts
    // a non-blocking delete when a shuffle dependency is GC'd), so a
    // 52-query run can accumulate dead shuffle state faster than the
    // cleaner drains it (VERDICT r2 finding #1: driver-run totals ~3x
    // the attributable cost). Blocking shuffle cleanup makes the
    // teardown in materialize() — unpersist + GC — synchronous end to
    // end: when a query's timer starts, the previous query's blocks,
    // broadcasts AND shuffle files are actually gone.
    val spark = GraftSession.local(cpus, "graft-bench",
      Map("spark.cleaner.referenceTracking.blocking.shuffle" -> "true"))
    val nFail = plansDir match {
      case Some(dir) => dumpPlans(spark, sfDir, names, dir); 0
      case None => timedRun(spark, sfDir, cpus, names, full = asked.isEmpty)
    }
    // Session-close cleanup: drop the session-keyed IVF index tables
    // (catalog entries + files) this run registered — the accumulation
    // guard ADVICE r4 asked for.
    graft.operators.SimilarityOps.dropIvfIndexes(spark)
    spark.stop()
    if (nFail > 0) sys.exit(1)
  }

  /** Times `names` after the warm-up and prints the run's JSON line; a
    * `full` run also writes the history artifacts. Returns the number
    * of failed queries. */
  private def timedRun(spark: SparkSession, sfDir: String, cpus: Int,
      names: Seq[String], full: Boolean): Int = {
    WarmUp.foreach(materialize(spark, sfDir, _))

    val medians = trailingMedians(sfDir, cpus)
    val results = names.map { n =>
      val run = materialize(spark, sfDir, n)
      val r = run.map(_._1)
      // Stall self-adjudication (VERDICT r7 #1): one in-boot re-run
      // when the measurement blows its trailing-round band.
      val retry = r match {
        case Right(t) if t >= StallFloorSec
            && medians.get(n).exists(m => t > StallFactor * m) =>
          Some(materialize(spark, sfDir, n).map(_._1))
        case _ => None
      }
      (n, r, run.toOption.map { case (_, norm) => (sha12(norm), norm) }, retry)
    }

    import SparkEntry.{jsonString => jstr}
    // Millisecond precision: sub-ms digits are timer noise and the
    // driver keeps only the TAIL of the build log — BENCH_r03's 3.5 KB
    // line lost its leading '{"metric":"total",...' to the cut, leaving
    // no machine-readable total (VERDICT r3 finding #5). Shorter line +
    // a file copy make the artifact truncation-proof.
    def fmt(sec: Double): String = (math.rint(sec * 1000) / 1000).toString
    val qs = results.map {
      case (k, Right(sec), _, _) => s"${jstr(k)}:${fmt(sec)}"
      case (k, Left(_), _, _)    => s"${jstr(k)}:-1"
    }.mkString("{", ",", "}")
    val errs = results.collect { case (k, Left(e), _, _) => s"${jstr(k)}:${jstr(e)}" }
      .mkString("{", ",", "}")
    val plans = results.collect { case (k, _, Some((sha, _)), _) => s"${jstr(k)}:${jstr(sha)}" }
      .mkString("{", ",", "}")
    // Variant self-capture (r11): a sha the trailing same-sf window has
    // never seen is either a plan regression or a context-dependent
    // replan — either way the DIAGNOSTIC is the normalized text, and
    // by the time anyone investigates, the boot that produced it is
    // gone (src_bloom_prune flapped between two recurring shas for two
    // rounds with only ONE variant's text ever captured, because
    // isolated `--plans` boots reproduce just one of them). Full runs
    // append every never-seen variant to PLAN_VARIANTS.jsonl so the
    // flip documents itself the moment it happens.
    if (full) {
      val window = historyPlans(sfDir, cpus).takeRight(MedianWindow)
      val seen: Map[String, Set[String]] = window.flatMap(_.toSeq)
        .groupBy(_._1).map { case (q, kv) => q -> kv.map(_._2).toSet }
      // Already-dumped (q, sha) variants don't re-dump (ADVICE r11):
      // a window-less query (brand-new, or first boots at a new sf)
      // IS novel — that first-seen text is exactly the diagnostic the
      // capture exists to preserve — but only once per variant.
      val dumped: Set[(String, String)] =
        try {
          val re = "\"q\":\"([^\"]+)\",\"sha\":\"([0-9a-f]{12})\"".r
          Files.readAllLines(Paths.get("PLAN_VARIANTS.jsonl"))
            .asScala.flatMap(l => re.findFirstMatchIn(l)
              .map(m => (m.group(1), m.group(2)))).toSet
        } catch { case _: java.io.IOException => Set.empty }
      val novel = results.collect {
        case (k, _, Some((sha, norm)), _)
            if !seen.get(k).exists(_.contains(sha)) &&
              !dumped((k, sha)) =>
          s"""{"q":${jstr(k)},"sha":${jstr(sha)},"norm":${jstr(norm)}}"""
      }
      if (novel.nonEmpty)
        Files.writeString(Paths.get("PLAN_VARIANTS.jsonl"),
          novel.mkString("", "\n", "\n"), CREATE, APPEND)
    }
    val retries = results.collect {
      case (k, Right(t), _, Some(rr)) =>
        val rv = rr.fold(_ => "-1", fmt)
        s"${jstr(k)}:{\"t\":${fmt(t)},\"retry\":$rv}"
    }.mkString("{", ",", "}")
    val nFail = results.count(_._2.isLeft)
    val total = results.collect { case (_, Right(s), _, _) => s }.sum
    val head = gitHead()
    val srcH = srcTreeHash()
    val line =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","cpus":$cpus,"queries":$qs,"failed":$nFail,"errors":$errs,"retries":$retries,"plans":$plans,"head":${jstr(head)},"src":${jstr(srcH)},"sf":${jstr(sfDir)}}"""
    // BENCH_LOCAL.json is the AUTHORITATIVE full-loop artifact (VERDICT
    // r4 #7) — a subset iteration run must not clobber it (an r6 `git
    // add -A` briefly committed a one-query file over the official
    // line before this guard existed).
    if (full) {
      Files.writeString(Paths.get("BENCH_LOCAL.json"), line + "\n")
      // Append to the rolling history so the NEXT run's stall trigger
      // has this boot in its trailing-median window.
      Files.writeString(Paths.get(HistoryPath), line + "\n", CREATE, APPEND)
    }
    println(line)
    if (full && writesOfficial(cpus)) {
      // OFFICIAL artifact (VERDICT r10 #2): per-query medians over the
      // same-HEAD, same-sf trailing boots INCLUDING the line just
      // appended. "value" is the sum of per-query medians — each
      // query's stall absorbs independently, which a median-of-totals
      // can't do — and boot_totals/spread record the raw boot-to-boot
      // variance the r10 adjudication had to reconstruct by hand.
      // BenchArtifactSpec recomputes this from the committed history
      // and fails the suite if the artifact isn't the median of its
      // own window. Printed as a SECOND compact line too: the driver
      // keeps only a ~2 KB tail of the build log, which the full
      // queries/plans maps overflow — the compact line fits, so the
      // round artifact regains a machine-readable official number.
      val (med, totals, counts) = officialMedian(sfDir, head, srcH, cpus)
      // ADVICE r11: an unresolvable src hash must not publish an
      // official artifact (the window would be untrustworthy).
      if (med.nonEmpty && srcH != "unknown") {
        val offTotal = med.values.sum
        val medQs = med.toSeq.sortBy(_._1)
          .map { case (k, v) => s"${jstr(k)}:${fmt(v)}" }
          .mkString("{", ",", "}")
        val spread =
          s"[${fmt(totals.min)},${fmt(totals.max)}]"
        val bootsJson = totals.map(fmt).mkString("[", ",", "]")
        // Per-query sample-basis transparency (ADVICE r11): queries
        // whose valid-sample count is below the window size — a boot
        // failed them (count < boots) or all boots did (count 0, the
        // silently-vanishing case: they have NO median row at all).
        val short = counts.filter(_._2 < totals.size).toSeq.sortBy(_._1)
          .map { case (k, c) => s"${jstr(k)}:$c" }
          .mkString("{", ",", "}")
        // The compact line is printed LAST and stays well under the
        // driver's ~2 KB log tail (VERDICT r12 #3a: the full per-query
        // total line is ~25 KB and has never survived the tail cut).
        // It carries the official number plus this boot's total and
        // POINTERS to the two file artifacts holding the per-query
        // maps the line itself cannot fit: BENCH_LOCAL.json (this
        // boot's full contract line, queries+plans) and
        // BENCH_OFFICIAL.json (per-query medians over the official
        // window).
        val compact =
          s"""{"metric":"official_median","value":${fmt(offTotal)},"unit":"sec","cpus":$cpus,"boots":${totals.size},"boot_total":${fmt(total)},"spread":$spread,"failed":$nFail,"n_short":${counts.count(_._2 < totals.size)},"queries_file":"BENCH_LOCAL.json","official_file":"BENCH_OFFICIAL.json","head":${jstr(head)},"src":${jstr(srcH)},"sf":${jstr(sfDir)}}"""
        val official =
          s"""{"metric":"official_median","value":${fmt(offTotal)},"unit":"sec","cpus":$cpus,"boots":${totals.size},"boot_totals":$bootsJson,"spread":$spread,"failed":$nFail,"short_basis":$short,"head":${jstr(head)},"src":${jstr(srcH)},"sf":${jstr(sfDir)},"queries":$medQs}"""
        Files.writeString(Paths.get("BENCH_OFFICIAL.json"), official + "\n")
        println(compact)
      }
    }
    nFail
  }
}
