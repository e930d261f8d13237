package graft.plans

import graft.functions.{DotProduct, JaroWinkler, MinHashSig, PolyHash, ShingleHashes, SimHash, SortedInterCount, TokenCounts}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ArrayType, DoubleType}

/** Catalyst optimizer rule: recognize the pure-builtin dot-product
  * pattern
  * {{{aggregate(zip_with(a, b, (x, y) -> x * y), 0D, (acc, v) -> acc + v)}}}
  * and replace it with the native codegen'd [[DotProduct]] expression.
  *
  * This is the optimizer-level counterpart of calling `graft_dot`
  * explicitly: user code written against stock Spark HOFs gets the tight
  * primitive loop (measured ~12× on the sf0.1 embedding near-dup query)
  * without changing a line. The match is deliberately narrow — double
  * element types, literal 0.0 seed, bare multiply/add lambdas, identity
  * finish — and [[DotProduct]] reproduces the HOF's null semantics
  * exactly (null on whole-array null, on length mismatch — zip_with pads
  * the shorter side with null, poisoning the fold — and on any null
  * element), so the rewrite is value-identical on every input, including
  * malformed ones. The rule is installed globally via
  * `spark.sql.extensions`, so this totality matters: any user query
  * matching the pattern must not change results.
  * `NativeFunctionsSpec` asserts bit-equality and the edge cases.
  */
object RewriteHofDotProduct extends Rule[LogicalPlan] {
  private def isDoubleArray(e: Expression): Boolean = e.dataType match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case ArrayAggregate(
            ZipWith(a, b,
              LambdaFunction(Multiply(x1: NamedLambdaVariable, y1: NamedLambdaVariable, _),
                Seq(x2: NamedLambdaVariable, y2: NamedLambdaVariable), _)),
            DoubleLiteral(0.0),
            LambdaFunction(Add(acc1: NamedLambdaVariable, v1: NamedLambdaVariable, _),
              Seq(acc2: NamedLambdaVariable, v2: NamedLambdaVariable), _),
            LambdaFunction(fin: NamedLambdaVariable, Seq(fin2: NamedLambdaVariable), _))
          if isDoubleArray(a) && isDoubleArray(b) &&
            x1.exprId == x2.exprId && y1.exprId == y2.exprId &&
            acc1.exprId == acc2.exprId && v1.exprId == v2.exprId &&
            fin.exprId == fin2.exprId =>
        DotProduct(a, b)
    }
}

/** Extension installer: `spark.sql.extensions=graft.plans.GraftExtensions`
  * (set by [[graft.Conf.configure]] and the test session) registers the
  * graft native functions and the HOF-rewrite rule on every session
  * built from that config. [[GraftExtensions.functions]] is the only
  * name → expression map; code reaches the functions through the typed
  * constructors in [[graft.functions.GraftFunctions]], SQL strings by
  * name. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { case (name, cls, build) =>
      ext.injectFunction((
        FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build))
    }
    ext.injectOptimizerRule(_ => RewriteHofDotProduct)
  }
}

object GraftExtensions {
  // the token-window hash family takes its small-int parameters as
  // foldable literals, resolved at analysis into case-class params
  private def lit(e: Expression): Int = e.eval().asInstanceOf[Number].intValue()

  /** (SQL name, expression class, builder) for each native function. */
  val functions: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("graft_dot", classOf[DotProduct], e => DotProduct(e(0), e(1))),
    ("graft_polyhash", classOf[PolyHash], e => PolyHash(e(0))),
    ("graft_shingle_hashes", classOf[ShingleHashes],
      e => ShingleHashes(e(0), lit(e(1)), lit(e(2)) != 0)),
    ("graft_minhash", classOf[MinHashSig], e => MinHashSig(e(0), lit(e(1)))),
    ("graft_simhash", classOf[SimHash], e => SimHash(e(0))),
    ("graft_jaro_winkler", classOf[JaroWinkler], e => JaroWinkler(e(0), e(1))),
    ("graft_inter_count", classOf[SortedInterCount], e => SortedInterCount(e(0), e(1))),
    ("graft_token_counts", classOf[TokenCounts], e => TokenCounts(e(0))))
}
