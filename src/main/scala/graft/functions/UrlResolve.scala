package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.ops.UrlOps

/** Native Catalyst expression for RFC-3986 url resolution — the codegen
  * upgrade of the UrlOps UDF (SURVEY.md §4.3: the one operator that
  * genuinely needs custom code). `doGenCode` emits a direct static call,
  * so the expression participates in whole-stage codegen with the
  * reference null semantics: null rel → null; null/absent base → rel
  * unchanged (cc2dataset/main.py:107-110).
  */
case class UrlResolve(left: Expression, right: Expression,
    baseFallback: Boolean = false)
    extends BinaryExpression {

  override def dataType: DataType = StringType
  override def nullable: Boolean =
    if (baseFallback) left.nullable && right.nullable
    else right.nullable

  private def helperName: String =
    if (baseFallback) "resolveBase" else "resolve"

  /** Null semantics differ by variant: the link form keeps the rel
    * (null rel → null, null base → rel); the base form keeps the PAGE
    * (null head-base → page url, matching UrlOps.resolveBase) — so SQL
    * callers of url_resolve_base need no isNull guard of their own.
    */
  override def eval(input: InternalRow): Any = {
    val rel = right.eval(input)
    // the link form short-circuits on null rel WITHOUT touching left —
    // matching its generated code, where l.code only runs in the
    // non-null branch (a throwing base expression must behave the same
    // interpreted and compiled)
    if (rel == null && !baseFallback) return null
    val base = left.eval(input)
    if (rel == null) return base
    if (base == null) return rel
    val b = base.asInstanceOf[UTF8String]
    val r = rel.asInstanceOf[UTF8String]
    if (baseFallback) UrlResolve.resolveBase(b, r) else UrlResolve.resolve(b, r)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val l = left.genCode(ctx)
    val r = right.genCode(ctx)
    val helper = "graft.functions.UrlResolve"
    if (baseFallback) {
      ev.copy(code =
        code"""
          ${r.code}
          ${l.code}
          boolean ${ev.isNull} = ${r.isNull} && ${l.isNull};
          UTF8String ${ev.value} = null;
          if (${r.isNull}) {
            if (!${l.isNull}) { ${ev.value} = ${l.value}; }
          } else if (${l.isNull}) {
            ${ev.value} = ${r.value};
          } else {
            ${ev.value} = $helper.resolveBase(${l.value}, ${r.value});
          }""")
    } else {
      ev.copy(code =
        code"""
          ${r.code}
          boolean ${ev.isNull} = ${r.isNull};
          UTF8String ${ev.value} = null;
          if (!${ev.isNull}) {
            ${l.code}
            if (${l.isNull}) {
              ${ev.value} = ${r.value};
            } else {
              ${ev.value} = $helper.$helperName(${l.value}, ${r.value});
            }
          }""")
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object UrlResolve {
  /** Static entry points shared by interpreted eval and generated code. */
  def resolve(base: UTF8String, rel: UTF8String): UTF8String =
    UTF8String.fromString(UrlOps.resolveUrl(base.toString, rel.toString))

  def resolveBase(base: UTF8String, rel: UTF8String): UTF8String =
    UTF8String.fromString(UrlOps.resolveBase(base.toString, rel.toString))
}

/** graft's native SQL functions: one (name, builder) table, read both by
  * [[register]] (sessions built by `SessionBuilder`, and the lazy calls
  * library code makes on sessions it did not build) and by
  * `graft.GraftExtensions` (`spark.sql.extensions`). Registration is
  * idempotent: already-registered sessions are left untouched
  * (re-registering is harmless but warns noisily on every call).
  */
object GraftFunctions {
  val UrlResolveName = "url_resolve"
  val UrlResolveBaseName = "url_resolve_base"
  val H32Name = "graft_h32"
  val NGramsName = "graft_ngrams"
  val BloomAggName = "graft_bloom_agg"
  val BloomMightContainName = "graft_bloom_might_contain"
  val NfcName = "nfc_normalize"
  val QDotName = "graft_qdot"
  val QNorm2Name = "graft_qnorm2"
  val QD2Name = "graft_qd2"
  val BucketIdName = "graft_bucket_id"

  /** Every graft function, by name. */
  val Table: Seq[(String, Seq[Expression] => Expression)] = Seq(
    (UrlResolveName, exprs => UrlResolve(exprs(0), exprs(1))),
    (UrlResolveBaseName,
      exprs => UrlResolve(exprs(0), exprs(1), baseFallback = true)),
    (H32Name, exprs => H32(exprs.head)),
    (NGramsName, { exprs =>
      val n = exprs(1) match {
        case org.apache.spark.sql.catalyst.expressions.Literal(v, _) =>
          v.toString.toInt
        case other => throw new IllegalArgumentException(
          s"$NGramsName n must be a literal, got $other")
      }
      WordNGrams(exprs(0), n)
    }),
    // Catalyst's own bloom-filter pair (the expressions behind
    // InjectRuntimeFilter), surfaced for explicit use: build a filter
    // over a key column with bloom_agg, probe it with might_contain.
    // Both are internal-but-public classes; the analyzer wraps the
    // aggregate, codegen handles the probe.
    (BloomAggName, {
      case Seq(c) =>
        new org.apache.spark.sql.catalyst.expressions.aggregate
          .BloomFilterAggregate(c)
      case Seq(c, n) =>
        new org.apache.spark.sql.catalyst.expressions.aggregate
          .BloomFilterAggregate(c, n)
      case exprs =>
        new org.apache.spark.sql.catalyst.expressions.aggregate
          .BloomFilterAggregate(exprs(0), exprs(1), exprs(2))
    }),
    (BloomMightContainName, exprs =>
      org.apache.spark.sql.catalyst.expressions
        .BloomFilterMightContain(exprs(0), exprs(1))),
    // same name as the DuckDB builtin it mirrors
    (NfcName, exprs => NfcNormalize(exprs.head)),
    // fused quantized-vector arithmetic (see QVec scaladoc)
    (QDotName, exprs => QDot(exprs(0), exprs(1))),
    (QNorm2Name, exprs => QNorm2(exprs.head)),
    (QD2Name, exprs => QD2(exprs(0), exprs(1))),
    // the bucket id a bucketed write computes, as the write computes it
    // (`HashPartitioning.partitionIdExpression`): a sort on it satisfies
    // the writer's required ordering, so the writer adds no sort of its own
    (BucketIdName, { exprs =>
      val n = exprs(1) match {
        case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
        case other => throw new IllegalArgumentException(
          s"$BucketIdName bucket count must be an int literal, got $other")
      }
      org.apache.spark.sql.catalyst.plans.physical
        .HashPartitioning(Seq(exprs(0)), n).partitionIdExpression
    }))

  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    Table.foreach { case (name, builder) =>
      if (!registry.functionExists(
          org.apache.spark.sql.catalyst.FunctionIdentifier(name)))
        registry.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }
}
