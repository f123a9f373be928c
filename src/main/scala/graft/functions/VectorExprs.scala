package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Codegen'd dot product over two `ARRAY<DOUBLE>` columns.
  *
  * The built-in route — `aggregate(zip_with(a, b, (x, y) => x * y), ...)` —
  * evaluates the lambda per element through interpreted
  * `HigherOrderFunction` machinery and allocates an intermediate array per
  * row; at 100 TB the similarity operators spend all their time there. This
  * expression compiles to a tight primitive loop inside whole-stage codegen
  * (SURVEY.md §4, deferred-optimization (b), now needed by the bench).
  *
  * Summation is strict left-to-right, matching both the higher-order
  * fallback and DuckDB's `list_reduce` fold — results are bit-identical, so
  * the DuckDB oracles hold unchanged.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_product"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val xs = a.asInstanceOf[ArrayData].toDoubleArray()
    val ys = b.asInstanceOf[ArrayData].toDoubleArray()
    val n = math.min(xs.length, ys.length)
    var s = 0.0
    var i = 0
    while (i < n) { s += xs(i) * ys(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val xs = ctx.freshName("xs")
      val ys = ctx.freshName("ys")
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
         |double[] $xs = $a.toDoubleArray();
         |double[] $ys = $b.toDoubleArray();
         |int $n = Math.min($xs.length, $ys.length);
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) { $s += $xs[$i] * $ys[$i]; }
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotProduct =
    copy(left = l, right = r)
}

/** 56-bit md5-derived hash, computed directly from the digest's first 7
  * bytes — numerically identical to
  * `conv(substr(md5(x),1,14),16,10)::BIGINT` (14 hex chars == 7 bytes, MSB
  * first) but with no hex-string materialization and no string→long parse.
  * This is the hash under every dedup/fingerprint operator; at 100 TB it
  * runs per token, so it must stay a few ns. Matches the DuckDB oracle
  * rendering `CAST('0x'||substr(md5(x),1,14) AS BIGINT)` bit-for-bit.
  */
case class Md5Long56(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def prettyName: String = "md5long56"

  // NB deliberately no per-instance ThreadLocal here: expression instances
  // are copied per task, and instance-scoped ThreadLocals leave stale
  // entries in long-lived executor threads' maps — profiled as an
  // every-get linear scan (ThreadLocalMap.getEntryAfterMiss) that
  // eventually stalls unrelated queries. The digest lives in the
  // companion's single static ThreadLocal instead.
  protected override def nullSafeEval(v: Any): Any =
    Md5Long56.hashUtf8(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.Md5Long56.hashUtf8($c);")

  override protected def withNewChildInternal(c: Expression): Md5Long56 = copy(child = c)
}

object Md5Long56 {
  private val local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** First 14 hex chars of the digest as an unsigned 56-bit value. */
  def first56Bits(d: Array[Byte]): Long = {
    var v = 0L
    var i = 0
    while (i < 7) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    v
  }

  private def hashBytes(b: Array[Byte]): Long = {
    val md = local.get()
    md.reset()
    first56Bits(md.digest(b))
  }

  /** Entry point referenced from generated code. */
  def hashUtf8(s: org.apache.spark.unsafe.types.UTF8String): Long = hashBytes(s.getBytes)

  /** The same hash of a host-side string (its UTF-8 bytes), for row-wise
    * code that must match the column function bit-for-bit. */
  def hashString(s: String): Long =
    hashBytes(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
}

object VectorExprs {
  import org.apache.spark.sql.graft.ColumnBridge

  def md5long56(c: Column): Column =
    ColumnBridge.column(Md5Long56(ColumnBridge.expression(c)))

  /** `dot_product(a, b)` as a Column (inputs: ARRAY<DOUBLE>). */
  def dot_product(a: Column, b: Column): Column =
    ColumnBridge.column(DotProduct(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** L2 norm via the codegen'd dot product. */
  def l2_norm(v: Column): Column =
    org.apache.spark.sql.functions.sqrt(dot_product(v, v))
}
