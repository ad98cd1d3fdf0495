package graft.plans

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, BloomFilterMightContain, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions (SURVEY.md §7.2 "optional niceties"):
  * implemented as `BinaryExpression`s whose codegen is a single static
  * call, so they stay inside WholeStageCodegen — the preferred extension
  * order from the brief: built-ins > native Expression > UDF.
  */
object GraftKernels {
  private val hexDigits = "0123456789abcdef".toCharArray

  /** Deterministic UUIDv5-style id (same layout as
    * graft.functions.CleanFunctions.uuid5: md5 hex re-shaped 8-4-4-4-12
    * with version '5' / variant '8' nibbles). */
  def uuid5(ns: UTF8String, key: UTF8String): UTF8String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update(ns.getBytes)
    md.update(':'.toByte)
    md.update(key.getBytes)
    val d = md.digest()
    val hex = new Array[Char](32)
    var i = 0
    while (i < 16) {
      hex(2 * i) = hexDigits((d(i) >> 4) & 0xf)
      hex(2 * i + 1) = hexDigits(d(i) & 0xf)
      i += 1
    }
    val sb = new java.lang.StringBuilder(36)
    sb.append(hex, 0, 8).append('-').append(hex, 8, 4).append("-5")
      .append(hex, 13, 3).append("-8").append(hex, 17, 3).append('-')
      .append(hex, 20, 12)
    UTF8String.fromString(sb.toString)
  }

  /** Double-precision dot product over two float arrays, index order. */
  def dotF64(a: org.apache.spark.sql.catalyst.util.ArrayData,
             b: org.apache.spark.sql.catalyst.util.ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += a.getFloat(i).toDouble * b.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  /** Count of token-array elements equal to any of `words` (tiny constant
    * list, linear probe). Semantics of `size(filter(toks, x -> x IN
    * (words)))`: null elements never match; duplicates all count. */
  def stopHits(toks: org.apache.spark.sql.catalyst.util.ArrayData,
               words: Array[UTF8String]): Int = {
    var hits = 0
    var i = 0
    val n = toks.numElements()
    while (i < n) {
      if (!toks.isNullAt(i)) {
        val t = toks.getUTF8String(i)
        var j = 0
        while (j < words.length) {
          if (words(j).equals(t)) { hits += 1; j = words.length }
          else j += 1
        }
      }
      i += 1
    }
    hits
  }
}

/** SQL `uuid5(namespace, key)` — deterministic surrogate keys, replacing
  * the reference's gen_random_uuid() (All-Tasks-of-SQL.sql:97, 330). */
case class Uuid5Expr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "uuid5"

  override protected def nullSafeEval(ns: Any, key: Any): Any =
    GraftKernels.uuid5(ns.asInstanceOf[UTF8String], key.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.plans.GraftKernels.uuid5($a, $b)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Uuid5Expr =
    copy(left = l, right = r)
}

/** SQL `dot_f64(array<float>, array<float>)` — hot-path dot product that
  * fuses into WholeStageCodegen (vs. the interpreted higher-order
  * aggregate/zip_with form used where oracle exactness requires decimals). */
case class DotF64Expr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_f64"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    GraftKernels.dotF64(
      a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.plans.GraftKernels.dotF64($a, $b)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotF64Expr =
    copy(left = l, right = r)
}

/** SQL `stop_hits(array<string>, array('w1', ...))` — the stopword-count
  * kernel behind language ID / quality scoring (q43/q44/q75/q170).
  * Replaces `size(filter(toks, x -> x IN (...)))`: Spark's higher-order
  * functions are CodegenFallback (interpreted lambda per element), which
  * made the per-document scoring loop the dominant cost of the corpus
  * curation pipeline at scale — this is a single static call inside
  * WholeStageCodegen. The word list is a constructor constant (literal at
  * every call site), referenced once from generated code, not rebuilt per
  * row. */
case class StopHitsExpr(child: Expression, words: Seq[String])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "stop_hits"

  @transient private lazy val wordArr: Array[UTF8String] =
    words.map(UTF8String.fromString).toArray

  override protected def nullSafeEval(toks: Any): Any =
    GraftKernels.stopHits(
      toks.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], wordArr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("stopWords", wordArr,
      "org.apache.spark.unsafe.types.UTF8String[]")
    defineCodeGen(ctx, ev, a => s"graft.plans.GraftKernels.stopHits($a, $ref)")
  }

  override protected def withNewChildInternal(newChild: Expression): StopHitsExpr =
    copy(child = newChild)
}

/** Registration as a `SparkSessionExtensions` injector.
  * [[graft.core.GraftSession]] installs it on every session it builds, and
  * `newSession()`/`cloneSession()` inherit the injected functions, so each
  * function is registered exactly once per session.
  *
  * Besides the graft kernels this exposes Spark's own (non-public-API)
  * bloom-filter pair — the exact expressions AQE's runtime row-level
  * filtering injects — so operators can build an explicit semi-join
  * bloom prune where the optimizer can't see the opportunity:
  * `bloom_agg(xxhash64(k), estItems)` → binary sketch;
  * `bloom_might_contain(sketch, xxhash64(k))` → boolean prune. */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    ext.injectFunction(GraftExtensions.uuid5Fn)
    ext.injectFunction(GraftExtensions.dotF64Fn)
    ext.injectFunction(GraftExtensions.stopHitsFn)
    ext.injectFunction(GraftExtensions.bloomAggFn)
    ext.injectFunction(GraftExtensions.bloomMightContainFn)
  }
}

object GraftExtensions {
  private val uuid5Fn = (
    FunctionIdentifier("uuid5"),
    new ExpressionInfo(classOf[Uuid5Expr].getName, "uuid5"),
    (children: Seq[Expression]) => Uuid5Expr(children(0), children(1)))
  private val dotF64Fn = (
    FunctionIdentifier("dot_f64"),
    new ExpressionInfo(classOf[DotF64Expr].getName, "dot_f64"),
    (children: Seq[Expression]) => DotF64Expr(children(0), children(1)))

  /** The word list must be a literal array — it is folded once at plan
    * time into the expression's constant word table. */
  private def mkStopHits(children: Seq[Expression]): StopHitsExpr = {
    require(children.length == 2,
      "stop_hits(tokens, array('w1', ...)) takes exactly two arguments")
    require(children(1).foldable,
      "stop_hits: the word list must be a literal array('w1', 'w2', ...)")
    def requireStringArray(e: Expression, what: String): Unit = e.dataType match {
      case org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.StringType, _) => ()
      case other => throw new IllegalArgumentException(
        s"stop_hits: $what must be ARRAY<STRING>, got ${other.sql}")
    }
    requireStringArray(children(0), "the token column")
    requireStringArray(children(1), "the word list")
    val arr = children(1).eval(null)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    require(arr != null, "stop_hits: the word list must not be NULL")
    val words = (0 until arr.numElements()).map { i =>
      require(!arr.isNullAt(i),
        "stop_hits: the word list must not contain NULL elements")
      arr.getUTF8String(i).toString
    }
    StopHitsExpr(children(0), words)
  }
  private val stopHitsFn = (
    FunctionIdentifier("stop_hits"),
    new ExpressionInfo(classOf[StopHitsExpr].getName, "stop_hits"),
    (children: Seq[Expression]) => mkStopHits(children))

  private val bloomAggFn = (
    FunctionIdentifier("bloom_agg"),
    new ExpressionInfo(classOf[BloomFilterAggregate].getName, "bloom_agg"),
    (children: Seq[Expression]) => new BloomFilterAggregate(children(0), children(1)))
  private val bloomMightContainFn = (
    FunctionIdentifier("bloom_might_contain"),
    new ExpressionInfo(classOf[BloomFilterMightContain].getName, "bloom_might_contain"),
    (children: Seq[Expression]) => new BloomFilterMightContain(children(0), children(1)))
}
