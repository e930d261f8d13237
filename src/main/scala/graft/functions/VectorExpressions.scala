package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** `graft_dot(a, b)` — dot product of two numeric array columns as a
  * native codegen'd Catalyst expression.
  *
  * Why a custom Expression (SURVEY.md §7.5 / builder brief preference
  * order): the built-in way to dot two vectors is
  * `aggregate(zip_with(a, b, (x, y) -> x * y), 0D, (acc, x) -> acc + x)`,
  * which materializes an intermediate array and evaluates two lambda
  * closures per element — measured ~20× slower than this loop on the
  * sf0.1 embedding near-dup query (28s → s, 2M pairs × 64 dims). This
  * expression participates in whole-stage codegen as a tight primitive
  * `for` loop over `ArrayData` with no allocation and no boxing.
  *
  * Float inputs are widened to double BEFORE multiplying — the exact
  * semantics of the portable SQL form `x::DOUBLE * y::DOUBLE` the DuckDB
  * oracle uses, so results stay bit-identical cross-engine. Accumulation
  * is in index order (left fold), again matching the oracle.
  *
  * Null semantics match the HOF form exactly (so the
  * [[graft.plans.RewriteHofDotProduct]] optimizer rule is value-identical
  * on EVERY input, not just well-formed ones): null if either array is
  * null, null if the lengths differ (zip_with pads the shorter side with
  * null, poisoning the fold), and null if any element is null. The
  * per-element null check is only emitted when the input type's
  * containsNull says it can fire — non-null-element arrays keep the bare
  * tight loop.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = true

  private def elemType(e: Expression): Option[DataType] = e.dataType match {
    case ArrayType(t @ (FloatType | DoubleType), _) => Some(t)
    case _ => None
  }

  private def mayHaveNullElems(e: Expression): Boolean = e.dataType match {
    case ArrayType(_, cn) => cn
    case _ => true
  }

  override def checkInputDataTypes(): TypeCheckResult =
    (elemType(left), elemType(right)) match {
      case (Some(_), Some(_)) => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"graft_dot requires two array<float>/array<double> columns, " +
          s"got ${left.dataType.sql} and ${right.dataType.sql}")
    }

  @inline private def get(a: ArrayData, t: DataType, i: Int): Double =
    t match {
      case FloatType => a.getFloat(i).toDouble
      case _ => a.getDouble(i)
    }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    if (a.numElements() != b.numElements()) return null
    val (ta, tb) = (elemType(left).get, elemType(right).get)
    val n = a.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += get(a, ta, i) * get(b, tb, i)
      i += 1
    }
    acc
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    def getter(t: DataType, arr: String, i: String): String = t match {
      case FloatType => s"(double) $arr.getFloat($i)"
      case _ => s"$arr.getDouble($i)"
    }
    val (ta, tb) = (elemType(left).get, elemType(right).get)
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      // element-null guard compiled in only when the input type admits
      // null elements — clean arrays keep the branch-free loop body
      val checks = Seq(
        if (mayHaveNullElems(left)) Some(s"$a.isNullAt($i)") else None,
        if (mayHaveNullElems(right)) Some(s"$b.isNullAt($i)") else None).flatten
      val nullGuard =
        if (checks.isEmpty) ""
        else s"if (${checks.mkString(" || ")}) { ${ev.isNull} = true; break; }"
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  final int $n = $a.numElements();
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $nullGuard
         |    $acc += ${getter(ta, a, i)} * ${getter(tb, b, i)};
         |  }
         |  if (!${ev.isNull}) {
         |    ${ev.value} = $acc;
         |  }
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** `graft_polyhash(s)` — base-31 polynomial rolling hash over a string's
  * code points, mod [[graft.ops.Hashing.P]], as a native codegen'd
  * expression.
  *
  * Replaces the portable-but-slow HOF form
  * `aggregate(transform(split(s, ''), ch -> ascii(ch)), 0L, ...)`, which
  * allocates a per-character string array and evaluates two closures per
  * character. Semantics are identical per code point (`ascii` returns
  * the first code point of its argument; `split(s, '')` yields one char
  * per element — for BMP text the two iterate the same sequence, and the
  * corpus is ASCII). The DuckDB oracle keeps the explicit
  * `reduce`/`list_transform` form — cross-engine equality is exact
  * because both are integer arithmetic.
  */
case class PolyHash(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_polyhash requires a string column, got ${t.sql}")
  }

  override def nullSafeEval(input: Any): Any =
    PolyHash.hash(input.toString)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.PolyHash.hash($c.toString())")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object PolyHash {
  /** Callable from generated code. */
  def hash(s: String): Long = {
    var acc = 0L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      acc = (acc * 31 + cp) % 1000000007L
      i += Character.charCount(cp)
    }
    acc
  }
}

/** `graft_jaro_winkler(a, b)` — textbook Jaro-Winkler similarity as a
  * native codegen'd expression: Jaro match window `⌊max/2⌋−1`,
  * greedy left-to-right matching, half-transposition count, Winkler
  * prefix boost (scale 0.1, prefix cap 4) applied only above the 0.7
  * boost threshold. Exactly the variant DuckDB's
  * `jaro_winkler_similarity` implements (fuzz-verified at q6 over 30k
  * random pairs), so the oracle can call DuckDB's built-in directly;
  * emitted scores are q6-quantized by callers before comparison.
  *
  * Why native: the blocked ER verify (er04) evaluates this in the
  * inner loop of a within-block self-join — a Scala UDF would box two
  * strings per candidate and fall out of whole-stage codegen; this
  * stays a primitive static call inside the generated join loop, same
  * pattern as [[DotProduct]]. Char-based (UTF-16): identical to
  * codepoint semantics on BMP text. */
case class JaroWinkler(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, StringType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_jaro_winkler requires two string columns, got ${l.sql}, ${r.sql}")
    }

  override def nullSafeEval(l: Any, r: Any): Any =
    Jaro.jw(l.toString, r.toString)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.Jaro.jw($a.toString(), $b.toString())")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object Jaro {
  /** Callable from generated code. */
  def jw(s1: String, s2: String): Double = {
    val la = s1.length
    val lb = s2.length
    if (la == 0 || lb == 0) return 0.0
    val w = math.max(math.max(la, lb) / 2 - 1, 0)
    val m1 = new Array[Boolean](la)
    val m2 = new Array[Boolean](lb)
    var m = 0
    var i = 0
    while (i < la) {
      val lo = math.max(0, i - w)
      val hi = math.min(lb - 1, i + w)
      var j = lo
      var hit = false
      while (j <= hi && !hit) {
        if (!m2(j) && s1.charAt(i) == s2.charAt(j)) {
          m1(i) = true; m2(j) = true; m += 1; hit = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    var t = 0
    var k = 0
    i = 0
    while (i < la) {
      if (m1(i)) {
        while (!m2(k)) k += 1
        if (s1.charAt(i) != s2.charAt(k)) t += 1
        k += 1
      }
      i += 1
    }
    t /= 2
    val j0 = (m.toDouble / la + m.toDouble / lb + (m - t).toDouble / m) / 3.0
    if (j0 > 0.7) {
      var l = 0
      val n = math.min(math.min(la, lb), 4)
      while (l < n && s1.charAt(l) == s2.charAt(l)) l += 1
      j0 + l * 0.1 * (1 - j0)
    } else j0
  }
}
