package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute, Cast, ExplodeBase, Expression, ExpressionInfo, GreaterThan, IsNotNull, Literal, PredicateHelper, Size}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, ApproximatePercentile, Count, HyperLogLogPlusPlus, Percentile}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Generate, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{DoubleType, IntegerType}

import graft.functions.{CountMinSketchAgg, DotProductFloat, HashedShingles, HashedTokens, LshBands, MinHashSignature, RepetitionStats, SimHash32}

/**
 * The 100 TB switch for exact distincts (SURVEY.md §7.4): an optimizer rule
 * that rewrites `count(DISTINCT x)` to the HyperLogLog++ sketch when
 * `spark.graft.approxDistinct.enabled` is set. Exact distinct is a shuffle
 * bomb at scale (`RewriteDistinctAggregates` expands every row); HLL keeps
 * the aggregation partial/mergeable with fixed-size state. Parity mode
 * (flag off, the default) leaves plans untouched.
 *
 * Multi-argument `count(DISTINCT a, b)` and distinct aggregates under
 * filters are left alone — only the single-column case has identical
 * grouping semantics under the sketch.
 */
case class ApproxDistinctRewrite() extends Rule[LogicalPlan] {

  val EnabledKey = "spark.graft.approxDistinct.enabled"
  val RsdKey = "spark.graft.approxDistinct.rsd"

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!conf.getConfString(EnabledKey, "false").toBoolean) return plan
    val rsd = conf.getConfString(RsdKey, "0.05").toDouble
    plan.transform {
      case agg: Aggregate =>
        agg.transformExpressions {
          case ae @ AggregateExpression(Count(Seq(child)), mode, true, None, resultId) =>
            AggregateExpression(
              HyperLogLogPlusPlus(child, rsd), mode, isDistinct = false,
              filter = None, resultId = resultId)
        }
    }
  }
}

/**
 * The 100 TB switch for exact percentiles, sibling of
 * [[ApproxDistinctRewrite]]: `percentile(x, p)` materializes and sorts
 * every group's values (OpenHashMap per group — unbounded state); the
 * t-digest sketch behind `approx_percentile` is fixed-size and mergeable.
 * Enabled with `spark.graft.approxPercentile.enabled`; rank error is
 * 1/accuracy (`spark.graft.approxPercentile.accuracy`, default Spark's
 * 10000).
 *
 * The child is cast to DOUBLE so the rewritten aggregate keeps the exact
 * operator's result type (Percentile returns double; ApproximatePercentile
 * returns the child type) — an optimizer rule must never change a resolved
 * plan's schema. Weighted (`frequency != 1`) and `percentile_disc`
 * (`reverse`) forms are left alone.
 */
case class ApproxPercentileRewrite() extends Rule[LogicalPlan] {

  val EnabledKey = "spark.graft.approxPercentile.enabled"
  val AccuracyKey = "spark.graft.approxPercentile.accuracy"

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!conf.getConfString(EnabledKey, "false").toBoolean) return plan
    val accuracy = conf.getConfString(AccuracyKey,
      ApproximatePercentile.DEFAULT_PERCENTILE_ACCURACY.toString).toInt
    plan.transform {
      case agg: Aggregate =>
        agg.transformExpressions {
          case AggregateExpression(p: Percentile, mode, false, None, resultId)
              if !p.reverse && (p.frequencyExpression match {
                case Literal(v, _) => v == 1 || v == 1L
                case _ => false
              }) =>
            AggregateExpression(
              ApproximatePercentile(Cast(p.child, DoubleType),
                p.percentageExpression, Literal(accuracy), 0, 0),
              mode, isDistinct = false, filter = None, resultId = resultId)
        }
    }
  }
}

/**
 * Strips the duplicate-work filter `InferFiltersFromGenerate` synthesizes
 * under a non-outer explode: `size(e) > 0 AND isnotnull(e)` where `e` is
 * the generator input. When `e` is an expensive derived expression (the
 * tokenize map floor: `whitespacetokens(text)`, hashed shingles, …),
 * predicate pushdown substitutes the FULL expression into the filter, so
 * every text-grain explode evaluates the tokenize TWICE per row — filter
 * then project (codegen CSE dedups only within one operator). Measured at
 * sf10 (PLANS.md round-9 §3): stripping halves the explode path (2.04 →
 * 1.01 s over 27M tokens).
 *
 * Semantics-preserving by construction: `Generate(outer=false)` already
 * emits nothing for null or empty generator input, so these two conjuncts
 * — and ONLY when they sit immediately under that Generate (modulo the
 * projection defining the exploded column) — filter rows the Generate
 * drops anyway. The one case where the inferred filter has real value,
 * pushdown past a lower join, is exactly the case this rule does not
 * match (the filter is no longer adjacent to its Generate). Gated to
 * non-attribute generator inputs: for a plain column the filter costs a
 * null/size check, not a re-tokenize, and stripping a user-written
 * filter on a stored array column is not this rule's business.
 */
case class StripRedundantGenerateFilter() extends Rule[LogicalPlan] with PredicateHelper {

  private def isRedundant(p: Expression, gen: Expression): Boolean = p match {
    case GreaterThan(Size(e, _), Literal(0, _)) => e.semanticEquals(gen)
    case IsNotNull(e) => e.semanticEquals(gen)
    case _ => false
  }

  private def strip(cond: Expression, gen: Expression, child: LogicalPlan): Option[LogicalPlan] = {
    if (gen.isInstanceOf[Attribute] || gen.foldable) return None
    val (dropped, kept) = splitConjunctivePredicates(cond).partition(isRedundant(_, gen))
    if (dropped.isEmpty) None
    else Some(kept.reduceOption(And).map(Filter(_, child)).getOrElse(child))
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case g @ Generate(ge: ExplodeBase, _, false, _, _,
        p @ Project(projList, Filter(cond, child))) =>
      // the exploded column is usually an alias one project below; the
      // filter (post-pushdown) references the alias's DEFINING expression
      val gen = ge.child match {
        case a: Attribute => projList.collectFirst {
          case al: Alias if al.toAttribute.semanticEquals(a) => al.child
        }.getOrElse(a)
        case e => e
      }
      strip(cond, gen, child)
        .map(nc => g.copy(child = p.copy(child = nc))).getOrElse(g)
    case g @ Generate(ge: ExplodeBase, _, false, _, _, Filter(cond, child)) =>
      strip(cond, ge.child, child).map(nc => g.copy(child = nc)).getOrElse(g)
  }
}

/**
 * Session extensions: install via
 * `spark.sql.extensions=graft.plans.GraftExtensions` (or
 * `.withExtensions(new GraftExtensions)`) — registers the custom sketch
 * expressions as SQL functions permanently and injects the approx-distinct
 * rewrite rule.
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, clazz: Class[_]): ExpressionInfo =
    new ExpressionInfo(clazz.getCanonicalName, name)

  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => ApproxDistinctRewrite())
    e.injectOptimizerRule(_ => ApproxPercentileRewrite())
    e.injectOptimizerRule(_ => StripRedundantGenerateFilter())
    e.injectPlannerStrategy(_ => AsOfJoinStrategy)
    e.injectFunction((FunctionIdentifier("graft_dot"),
      info("graft_dot", classOf[DotProductFloat]),
      (exprs: Seq[Expression]) => DotProductFloat(exprs.head, exprs(1))))
    e.injectFunction((FunctionIdentifier("graft_simhash32"),
      info("graft_simhash32", classOf[SimHash32]),
      (exprs: Seq[Expression]) => SimHash32(exprs.head)))
    e.injectFunction((FunctionIdentifier("graft_minhash"),
      info("graft_minhash", classOf[MinHashSignature]),
      (exprs: Seq[Expression]) => MinHashSignature(exprs.head)))
    e.injectFunction((FunctionIdentifier("graft_token_hash"),
      info("graft_token_hash", classOf[HashedTokens]),
      (exprs: Seq[Expression]) => HashedTokens(exprs.head)))
    e.injectFunction((FunctionIdentifier("graft_rep_stats"),
      info("graft_rep_stats", classOf[RepetitionStats]),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(toks, Literal(n, IntegerType)) => RepetitionStats(toks, n.asInstanceOf[Int])
        case other => throw new IllegalArgumentException(
          s"graft_rep_stats(tokens, <int literal>) — got $other")
      }))
    e.injectFunction((FunctionIdentifier("graft_shingle_hash"),
      info("graft_shingle_hash", classOf[HashedShingles]),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(toks, Literal(n, IntegerType)) => HashedShingles(toks, n.asInstanceOf[Int])
        case other => throw new IllegalArgumentException(
          s"graft_shingle_hash(tokens, <int literal>) — got $other")
      }))
    e.injectFunction((FunctionIdentifier("graft_cms"),
      info("graft_cms", classOf[CountMinSketchAgg]),
      (exprs: Seq[Expression]) => CountMinSketchAgg.fromExprs(exprs)))
    e.injectFunction((FunctionIdentifier("graft_lsh_bands"),
      info("graft_lsh_bands", classOf[LshBands]),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(emb, Literal(dim: Int, IntegerType), Literal(nb: Int, IntegerType),
            Literal(ppb: Int, IntegerType)) => LshBands(emb, dim, nb, ppb)
        case other => throw new IllegalArgumentException(
          s"graft_lsh_bands(embedding, <dim>, <bands>, <planes/band> literals) — got $other")
      }))
    e.injectFunction((FunctionIdentifier("graft_zorder"),
      info("graft_zorder", classOf[graft.functions.ZOrder2]),
      (exprs: Seq[Expression]) => graft.functions.ZOrder2(exprs.head, exprs(1))))
  }
}
