package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSql
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Codegen'd float-vector kernels for the similarity operators.
  *
  * The `aggregate`/`zip_with` formulations they replace run INTERPRETED
  * per element (Spark evaluates higher-order-function lambdas through
  * the interpreter — the same trap that cost the minhash pipeline 3-5×),
  * which puts tens of millions of interpreted multiply-adds on the
  * cosine hot path. These expressions compile to a tight Java loop while
  * preserving the EXACT arithmetic of the originals — a sequential left
  * fold with every float promoted to double before multiplying, i.e.
  * `acc = 0.0; acc += (double)a[i] * (double)b[i]` in index order — so
  * results stay bit-identical to the DuckDB oracle's `list_reduce`
  * (IEEE-754 addition order unchanged).
  *
  * Null semantics mirror zip_with/aggregate: any null element nulls the
  * whole result; arrays of different lengths fold over the shorter
  * prefix after a null check on the longer side's excess would have
  * produced null in zip_with — our vectors are fixed-length, and the
  * length mismatch case returns null to stay conservative.
  */
case class DotF32(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) return null
    val n = x.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      s"""
         |int n$a = $a.numElements();
         |if (n$a != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double acc$a = 0.0;
         |  for (int i$a = 0; i$a < n$a; i$a++) {
         |    if ($a.isNullAt(i$a) || $b.isNullAt(i$a)) { ${ev.isNull} = true; break; }
         |    acc$a += ((double) $a.getFloat(i$a)) * ((double) $b.getFloat(i$a));
         |  }
         |  if (!${ev.isNull}) ${ev.value} = acc$a;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotF32 =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "dot_f32"
}

/** Sequential sum of squares: ((0 + x1*x1) + x2*x2) + ... — the codegen
  * twin of `aggregate(c, 0.0, (acc, x) => acc + x.cast(double) * x)`. */
case class SumSqF32(child: Expression) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override protected def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i)) return null
      val v = x.getFloat(i).toDouble
      acc += v * v
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      s"""
         |int n$a = $a.numElements();
         |double acc$a = 0.0;
         |for (int i$a = 0; i$a < n$a; i$a++) {
         |  if ($a.isNullAt(i$a)) { ${ev.isNull} = true; break; }
         |  double v$a = (double) $a.getFloat(i$a);
         |  acc$a += v$a * v$a;
         |}
         |if (!${ev.isNull}) ${ev.value} = acc$a;
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): SumSqF32 = copy(c)
  override def prettyName: String = "sum_sq_f32"
}

/** max |x| over a float vector — the per-vector scale for symmetric int8
  * quantization. Max is order-insensitive over exact doubles, so there
  * is no fold-order subtlety here; codegen'd for the same interpreted-HOF
  * reason as the kernels above. */
case class AbsMaxF32(child: Expression) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override protected def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i)) return null
      val v = math.abs(x.getFloat(i).toDouble)
      if (v > acc) acc = v
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      s"""
         |int n$a = $a.numElements();
         |double acc$a = 0.0;
         |for (int i$a = 0; i$a < n$a; i$a++) {
         |  if ($a.isNullAt(i$a)) { ${ev.isNull} = true; break; }
         |  double v$a = Math.abs((double) $a.getFloat(i$a));
         |  if (v$a > acc$a) acc$a = v$a;
         |}
         |if (!${ev.isNull}) ${ev.value} = acc$a;
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): AbsMaxF32 = copy(c)
  override def prettyName: String = "abs_max_f32"
}

/** Element-wise float difference a − b, staying in FLOAT — the residual
  * kernel for IVF-PQ. Each element is one IEEE float subtraction in both
  * engines (DuckDB: FLOAT - FLOAT), so residual arrays are bit-identical
  * cross-engine and the double-fold kernels above run on them unchanged.
  * Length mismatch → null, like DotF32. */
case class SubF32(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.FloatType, containsNull = false)
  override def nullable: Boolean = true

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) return null
    val n = x.numElements()
    val out = new Array[Float](n)
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      out(i) = x.getFloat(i) - y.getFloat(i)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      s"""
         |int n$a = $a.numElements();
         |if (n$a != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  float[] out$a = new float[n$a];
         |  for (int i$a = 0; i$a < n$a; i$a++) {
         |    if ($a.isNullAt(i$a) || $b.isNullAt(i$a)) { ${ev.isNull} = true; break; }
         |    out$a[i$a] = $a.getFloat(i$a) - $b.getFloat(i$a);
         |  }
         |  if (!${ev.isNull}) ${ev.value} =
         |    new org.apache.spark.sql.catalyst.util.GenericArrayData(out$a);
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SubF32 =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "sub_f32"
}

object VectorOps {
  def dot(a: Column, b: Column): Column =
    GraftSql.column(DotF32(GraftSql.expression(a), GraftSql.expression(b)))
  def sumSq(c: Column): Column =
    GraftSql.column(SumSqF32(GraftSql.expression(c)))
  def absMax(c: Column): Column =
    GraftSql.column(AbsMaxF32(GraftSql.expression(c)))
  def sub(a: Column, b: Column): Column =
    GraftSql.column(SubF32(GraftSql.expression(a), GraftSql.expression(b)))
  /** cosine similarity, dot(a, b) / (sqrt(sumSq(a)) * sqrt(sumSq(b))) —
    * this operand order is the one the DuckDB oracles mirror */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (org.apache.spark.sql.functions.sqrt(sumSq(a)) *
      org.apache.spark.sql.functions.sqrt(sumSq(b)))
}
