package graft.functions

import graft.api.syntax._
import org.apache.spark.sql.{DataFrame, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Add, Expression, ExpressionInfo, LambdaFunction, Literal, Multiply}
import org.apache.spark.sql.catalyst.expressions.{ArrayAggregate, ZipWith}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.functions.{col, count, lit, sum}
import org.apache.spark.sql.types.DoubleType

/** Catalyst optimizer rule: recognize the interpreted HOF dot-product
  * pattern `aggregate(zip_with(a, b, (x,y) -> x*y), 0D, (acc,x) ->
  * acc+x)` and replace it with the codegen'd [[DotProduct]]. Safe
  * because both fold left-to-right over the same doubles (bit-identical
  * results — asserted in NativeFunctionSpec).
  *
  * The match binds the lambda variables and requires the Multiply/Add
  * operands to be exactly those bound variables (in either order —
  * IEEE-754 `*` and `+` are commutative) and the finish lambda to be
  * the identity; anything else — `(x,y) -> x*x`, `(x,y) -> x*2`, a
  * non-identity finish — is left untouched. */
object DotProductRewrite extends Rule[LogicalPlan] {

  /** operands {l, r} are exactly the bound variables {x, y}, either order */
  private def exactlyTheVars(
      l: Expression, r: Expression, x: Expression, y: Expression): Boolean =
    (l.semanticEquals(x) && r.semanticEquals(y)) ||
      (l.semanticEquals(y) && r.semanticEquals(x))

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case ArrayAggregate(
            ZipWith(a, b, LambdaFunction(Multiply(ml, mr, _), Seq(x, y), _)),
            Literal(zero, DoubleType),
            LambdaFunction(Add(al, ar, _), Seq(acc, el), _),
            LambdaFunction(finBody, Seq(finArg), _))
          if zero == 0.0 &&
            exactlyTheVars(ml, mr, x, y) &&
            exactlyTheVars(al, ar, acc, el) &&
            finBody.semanticEquals(finArg) =>
        DotProduct(a, b)
    }
}

/** Session extension entry point — enables the SQL function
  * `dot_native(a, b)`, the automatic HOF→native rewrite, the planner
  * strategy for the custom as-of operator
  * ([[graft.plans.AsofJoinNode]] → [[graft.plans.AsofJoinExec]]) and
  * the SQL table functions over the graft operators:
  *
  * {{{
  * SparkSession.builder()
  *   .withExtensions(new GraftExtensions)          // programmatic
  *   // or .config("spark.sql.extensions", "graft.functions.GraftExtensions")
  * }}}
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("dot_native"),
      new ExpressionInfo(classOf[DotProduct].getName, "dot_native"),
      (args: Seq[Expression]) => DotProduct(args(0), args(1))))
    ext.injectFunction((
      new FunctionIdentifier("cosine_native"),
      new ExpressionInfo(classOf[CosineSim].getName, "cosine_native"),
      (args: Seq[Expression]) => CosineSim(args(0), args(1))))
    ext.injectFunction((
      new FunctionIdentifier("nfkc_casefold"),
      new ExpressionInfo(classOf[NfkcCasefold].getName, "nfkc_casefold"),
      (args: Seq[Expression]) => NfkcCasefold(args(0))))
    ext.injectFunction((
      new FunctionIdentifier("sha16_bits"),
      new ExpressionInfo(classOf[Sha16Bits].getName, "sha16_bits"),
      (args: Seq[Expression]) => Sha16Bits(args(0))))
    ext.injectFunction((
      new FunctionIdentifier("pii_scan"),
      new ExpressionInfo(classOf[PiiScan].getName, "pii_scan"),
      (args: Seq[Expression]) => PiiScan(args(0))))
    ext.injectFunction((
      new FunctionIdentifier("wav_profile"),
      new ExpressionInfo(classOf[WavProfile].getName, "wav_profile"),
      (args: Seq[Expression]) => WavProfile(args(0))))
    ext.injectFunction((
      new FunctionIdentifier("unicode_normalize"),
      new ExpressionInfo(classOf[UnicodeNormalize].getName, "unicode_normalize"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "unicode_normalize(s, 'NFC'|'NFD'|'NFKC'|'NFKD')")
        // form must arrive as a literal: it is not a child of the
        // expression (the analyzer never resolves it), so a column
        // reference here would surface as an UnresolvedException
        // instead of this message
        require(args(1).isInstanceOf[Literal],
          "unicode_normalize's form must be a string literal")
        UnicodeNormalize(args(0), args(1))
      }))
    ext.injectOptimizerRule(_ => DotProductRewrite)
    ext.injectOptimizerRule(_ => CosineRewrite)
    ext.injectOptimizerRule(_ => graft.plans.AsofRangePushdown)
    ext.injectPlannerStrategy(_ => graft.plans.AsofJoinStrategy)
    ext.injectResolutionRule(_ => graft.plans.ResolveAsofJoin)
    // SQL surface for the custom operator:
    //   SELECT * FROM asof_join('probe_view', 'build_view', 'ts',
    //                           'by1,by2', 'payload1,payload2'
    //                           [, tolerance_micros
    //                           [, direction            -- backward|forward|nearest
    //                           [, allow_exact_matches]]])
    // tolerance_micros < 0 means "no tolerance" (SQL has no named
    // optional args, so the positional slot needs an explicit skip
    // value). The relations start unresolved; ResolveAsofJoin fills the
    // output attrs once the analyzer resolves them.
    ext.injectTableFunction((
      new FunctionIdentifier("asof_join"),
      new ExpressionInfo(classOf[graft.plans.AsofJoinNode].getName, "asof_join"),
      (args: Seq[Expression]) => {
        require(args.length >= 5 && args.length <= 8,
          "asof_join(probe, build, on, by_csv, payload_csv" +
            "[, tolerance_micros[, direction[, allow_exact_matches]]])")
        def str(e: Expression): String = e.eval() match {
          case s: org.apache.spark.unsafe.types.UTF8String => s.toString
          case other => String.valueOf(other)
        }
        val by = str(args(3)).split(",").map(_.trim).filter(_.nonEmpty).toSeq
        val payload = str(args(4)).split(",").map(_.trim).filter(_.nonEmpty).toSeq
        require(by.nonEmpty, "asof_join requires a non-empty by key list")
        val tol = args.lift(5).map(e => e.eval().asInstanceOf[Number].longValue())
          .filter(_ >= 0L)
        val dir = args.lift(6).map(str).getOrElse("backward")
        val allowExact = args.lift(7).forall(e => e.eval() match {
          case b: java.lang.Boolean => b.booleanValue()
          case other => String.valueOf(other).toBoolean
        })
        graft.plans.AsofJoinNode(
          org.apache.spark.sql.catalyst.analysis.UnresolvedRelation(Seq(str(args(0)))),
          org.apache.spark.sql.catalyst.analysis.UnresolvedRelation(Seq(str(args(1)))),
          str(args(2)), by, payload, tol, Nil, dir, allowExact)
      }))
    // SQL surface for the operator families. Each TVF resolves its view
    // to a DataFrame, calls the graft operator named beside it and
    // returns that frame's analyzed plan, so the SQL tier and the
    // DataFrame API run one implementation (TvfSpec asserts plan
    // parity).
    //
    //   resample('view', 'ts_col', 'unit', 'value_col'[, 'origin'])
    //     -> (bucket timestamp_ntz, n bigint, sum_<value> double)
    //   sessionize('view', 'ts_col', 'order_col', 'by_col', gap_micros)
    //     -> all view columns + session_id bigint
    //   simhash_pairs('view', 'id_col', 'text_col', bits, max_dist[, max_df])
    //     -> (a, b, hamming bigint), a < b
    //   substring_pairs('view', 'id_col', 'text_col', k, max_df)
    //     -> (a, b, n_shared_spans bigint), a < b
    //   token_budget_sample('view', 'by_col', 'id_col', 'text_col', budget)
    //     -> (by, id, n_tok bigint, cum_tok bigint)
    //   latest_by('view', 'key1,key2', 'version_col', 'value1,value2')
    //     -> keys ++ (last_<version>, last_<value>…, n_versions)
    //   ols_fit('view', 'by_col', 'x1_col', 'x2_col', 'y_col')
    //     -> (by, n bigint, b0, b1, b2, r2)
    tvf(ext, "resample", "resample(view, ts_col, unit, value_col[, origin])",
        4 to 5) { args =>
      val Seq(view, ts, unit, value) = args.take(4).map(TvfSql.str)
      val aggs = Seq(count(lit(1)).as("n"),
        sum(col(value).cast("decimal(18,2)")).cast("double").as(s"sum_$value"))
      val df = table(view)
      args.lift(4).map(TvfSql.str) match {
        case Some(origin) =>
          df.resampleOrigin(unit,
            java.time.LocalDateTime.parse(origin.replace(' ', 'T')), ts, "bucket")(aggs: _*)
        case None => df.resample(unit, ts, "bucket")(aggs: _*)
      }
    }
    tvf(ext, "sessionize", "sessionize(view, ts_col, order_col, by_col, gap_micros)",
        5 to 5) { args =>
      val Seq(view, ts, ord, by) = args.take(4).map(TvfSql.str)
      val gap = TvfSql.long(args(4))
      require(gap > 0, s"gap_micros must be positive, got $gap")
      table(view).sessionize(gap, ts, ord, Seq(by))
    }
    tvf(ext, "simhash_pairs",
        "simhash_pairs(view, id_col, text_col, bits, max_dist[, max_df])", 5 to 6) { args =>
      val Seq(view, id, text) = args.take(3).map(TvfSql.str)
      graft.text.NearDup.simhashPairs(table(view), id, text,
        bits = TvfSql.long(args(3)).toInt, maxDist = TvfSql.long(args(4)).toInt,
        maxDf = args.lift(5).fold(Int.MaxValue)(e => TvfSql.long(e).toInt))
    }
    tvf(ext, "substring_pairs", "substring_pairs(view, id_col, text_col, k, max_df)",
        5 to 5) { args =>
      val Seq(view, id, text) = args.take(3).map(TvfSql.str)
      graft.ops.CurationOps.substringDupsOf(table(view), id, text,
        k = TvfSql.long(args(3)).toInt, maxDf = TvfSql.long(args(4)).toInt)
    }
    tvf(ext, "token_budget_sample",
        "token_budget_sample(view, by_col, id_col, text_col, budget)", 5 to 5) { args =>
      val Seq(view, by, id, text) = args.take(4).map(TvfSql.str)
      val budget = TvfSql.long(args(4))
      require(budget > 0, s"budget must be positive, got $budget")
      graft.ops.CurationOps.tokenBudgetSampleOf(table(view), by, id, text, budget)
    }
    tvf(ext, "latest_by", "latest_by(view, key_csv, version_col, value_csv)",
        4 to 4) { args =>
      val Seq(view, keyCsv, version, valueCsv) = args.map(TvfSql.str)
      val keys = TvfSql.csv(keyCsv)
      require(keys.nonEmpty, "latest_by requires a non-empty key list")
      graft.store.TsdbStore.latestByKey(table(view), keys, version, TvfSql.csv(valueCsv))
    }
    tvf(ext, "ols_fit", "ols_fit(view, by_col, x1_col, x2_col, y_col)", 5 to 5) { args =>
      val Seq(view, by, x1, x2, y) = args.map(TvfSql.str)
      graft.ops.Aggs.olsNormalEqOf(table(view), by, x1, x2, y)
    }
  }

  private def table(view: String): DataFrame = SparkSession.active.table(view)

  /** Register a table function whose builder checks the argument count
    * and returns the analyzed plan of the DataFrame `build` makes. */
  private def tvf(ext: SparkSessionExtensions, name: String, usage: String,
                  arity: Range)(build: Seq[Expression] => DataFrame): Unit =
    ext.injectTableFunction((
      new FunctionIdentifier(name),
      new ExpressionInfo(classOf[GraftExtensions].getName, name),
      (args: Seq[Expression]) => {
        require(arity.contains(args.length), usage)
        build(args).queryExecution.analyzed
      }))
}

/** Literal extraction for table-function arguments. */
private object TvfSql {
  def str(e: Expression): String = e.eval() match {
    case s: org.apache.spark.unsafe.types.UTF8String => s.toString
    case other => String.valueOf(other)
  }

  def long(e: Expression): Long = e.eval().asInstanceOf[Number].longValue()

  /** Comma-separated name list, blanks dropped. */
  def csv(s: String): Seq[String] = s.split(",").map(_.trim).filter(_.nonEmpty).toSeq
}
