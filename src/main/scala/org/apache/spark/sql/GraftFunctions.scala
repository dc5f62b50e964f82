package org.apache.spark.sql

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{AudioMeta, CosineSim, ImageMeta, JaroWinklerSim, MinhashBands, ShingleHashes, TarMeta, VideoMeta, WinnowFps}

/** Registers graft's native Catalyst expressions into a session's
  * function registry so they are usable inside SQL fragments and
  * higher-order-function lambdas (where the Column API can't reach).
  *
  * Lives in the org.apache.spark.sql package purely to cross the
  * `private[sql] sessionState` boundary — the sanctioned alternative
  * (SparkSessionExtensions) only covers sessions WE build, while this
  * also lets query builders self-register on sessions created by the
  * test driver or a spark-shell. Registration is idempotent.
  */
object GraftFunctions {
  /** Arity-checked builder: a wrong-arity SQL call gets the analysis
    * error a built-in would give, not an IndexOutOfBoundsException out
    * of the raw `children(i)` access. */
  private def checked(name: String, arity: Int)(
      build: Seq[Expression] => Expression): Seq[Expression] => Expression =
    children => {
      if (children.size != arity)
        throw new org.apache.spark.sql.AnalysisException(
          errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
          messageParameters = Map(
            "functionName" -> name, "expectedNum" -> arity.toString,
            "actualNum" -> children.size.toString, "docroot" -> ""))
      build(children)
    }

  /** Folds argument `pos` (1-based) of `fnName`, which must be an
    * analysis-time constant, into an Int. "Constant" means any
    * FOLDABLE integral expression — `CAST(50 AS BIGINT)`, `25 * 2` —
    * not only a bare IntegerType literal; anything else fails analysis
    * with an error naming the function and the argument's position. */
  private def foldIntArg(fnName: String, pos: Int, e: Expression): Int = {
    val folded: Option[Int] =
      if (!e.foldable) None
      // Foldable-but-Unevaluable expressions exist at analysis time
      // (current_date() before ComputeCurrentTime substitutes it) —
      // they must land on the clean AnalysisException below. ONLY
      // UnsupportedOperationException (Unevaluable's throw): a genuine
      // evaluation error (ANSI div-by-zero, overflowing cast) must
      // keep ITS message, not be rebranded as a type error.
      else (try e.eval(null)
      catch { case _: UnsupportedOperationException => null }) match {
        case i: java.lang.Integer => Some(i.intValue)
        case l: java.lang.Long if l.longValue.isValidInt => Some(l.intValue)
        case s: java.lang.Short => Some(s.intValue)
        case b: java.lang.Byte => Some(b.intValue)
        case _ => None
      }
    folded.getOrElse(throw new org.apache.spark.sql.AnalysisException(
      errorClass = "UNEXPECTED_INPUT_TYPE",
      messageParameters = Map(
        "paramIndex" -> pos.toString,
        "functionName" -> fnName,
        "requiredType" -> "foldable integral constant in Int range",
        "inputSql" -> e.sql,
        "inputType" -> e.dataType.sql)))
  }

  private val fns: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_cosine" -> checked("graft_cosine", 2)(c => CosineSim(c(0), c(1))),
    "graft_anchor_sort" -> checked("graft_anchor_sort", 2)(c =>
      graft.functions.AnchorSort(c(0), c(1))),
    "graft_pq_min_keys" -> checked("graft_pq_min_keys", 3)(c =>
      graft.functions.PqMinKeys(c(0), c(1),
        foldIntArg("graft_pq_min_keys", 3, c(2)))),
    "graft_pq_adc" -> checked("graft_pq_adc", 3)(c =>
      graft.functions.PqAdc(c(0), c(1), c(2))),
    "graft_cell_pairs" -> checked("graft_cell_pairs", 1)(c =>
      graft.functions.CellPairs(c(0))),
    "graft_shingle_hashes" -> checked("graft_shingle_hashes", 1)(c => ShingleHashes(c(0))),
    "graft_minhash_bands" -> checked("graft_minhash_bands", 1)(c => MinhashBands(c(0))),
    "graft_winnow_fps" -> checked("graft_winnow_fps", 1)(c => WinnowFps(c(0))),
    "graft_image_meta" -> checked("graft_image_meta", 1)(c => ImageMeta(c(0))),
    "graft_audio_meta" -> checked("graft_audio_meta", 1)(c => AudioMeta(c(0))),
    "graft_video_meta" -> checked("graft_video_meta", 1)(c => VideoMeta(c(0))),
    "graft_tar_meta" -> checked("graft_tar_meta", 1)(c => TarMeta(c(0))),
    "graft_tar_members" -> checked("graft_tar_members", 1)(c => graft.functions.TarMembers(c(0))),
    "graft_jaro_winkler" -> checked("graft_jaro_winkler", 2)(c => JaroWinklerSim(c(0), c(1))),
    "graft_bootstrap_weights" -> checked("graft_bootstrap_weights", 2)(c =>
      // The replicate count sizes the output array type, so it must be
      // an analysis-time constant.
      graft.functions.BootstrapWeights(c(0),
        foldIntArg("graft_bootstrap_weights", 2, c(1)))))

  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    fns.foreach { case (name, builder) =>
      val id = FunctionIdentifier(name)
      if (!reg.functionExists(id)) {
        reg.registerFunction(
          id,
          new ExpressionInfo(classOf[CosineSim].getCanonicalName, name),
          builder)
      }
    }
  }

  /** Same registrations through the public SparkSessionExtensions API
    * (used by graft.GraftExtensions for config-injected deployments). */
  def injectInto(ext: SparkSessionExtensions): Unit =
    fns.foreach { case (name, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(classOf[CosineSim].getCanonicalName, name),
        builder))
    }
}
