package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression,
  ImplicitCastInputTypes, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftinternal.Columns
import org.apache.spark.sql.types._

/** Native Catalyst expressions for the DSP operators' per-row array kernels
  * (resample, notch, wavelet, z-score, Welch PSD, CAR blocks, band mean).
  *
  * Each expression carries its kernel closure, as `ScalaUDF` does, but
  * crosses the Catalyst boundary with primitive arrays: inputs are read with
  * `ArrayData.toDoubleArray()` (a bulk copy out of `UnsafeArrayData` and
  * `ColumnarArray`) and results are emitted with
  * `UnsafeArrayData.fromPrimitiveArray`. A Scala UDF over `Array[Double]`
  * instead deserializes its argument through `MapObjects`, boxing one
  * `Double` per sample, and boxes its result again into `GenericArrayData`
  * (NOTES.md "Known sharp edges"). Generated code hands the kernel the
  * column's `ArrayData` directly.
  *
  * Null semantics follow the UDFs they replace: a null argument gives a
  * null result; a null array element or struct key fails loudly instead of
  * reading as 0.
  */
object ArrayKernels {

  /** array<double> -> array<double>. */
  def map(name: String, values: Column)(kernel: Array[Double] => Array[Double]): Column =
    Columns.of(ArrayKernel(Columns.expression(values), name, kernel, KernelResult.Doubles))

  /** array<double> -> array<array<double>>. */
  def split(name: String, values: Column)(kernel: Array[Double] => Array[Array[Double]]): Column =
    Columns.of(ArrayKernel(Columns.expression(values), name, kernel, KernelResult.Blocks))

  /** (array<double>, double) -> array<double>. */
  def mapWithRate(name: String, values: Column, rate: Column)(
      kernel: (Array[Double], Double) => Array[Double]): Column =
    Columns.of(RateArrayKernel(Columns.expression(values), Columns.expression(rate), name,
      kernel, KernelResult.Doubles))

  /** (array<double>, double) -> array<struct<band: int, re: array<double>,
    * im: array<double>>>, band b being element b of the kernel's result. */
  def bandsWithRate(name: String, values: Column, rate: Column)(
      kernel: (Array[Double], Double) => Array[(Array[Double], Array[Double])]): Column =
    Columns.of(RateArrayKernel(Columns.expression(values), Columns.expression(rate), name,
      kernel, KernelResult.Bands))

  /** array<struct<int, array<double>>> -> array<struct<key: int,
    * values: array<double>>>. */
  def keyedMap(name: String, keyed: Column)(
      kernel: Array[(Int, Array[Double])] => Array[(Int, Array[Double])]): Column =
    Columns.of(KeyedArraysKernel(Columns.expression(keyed), name, kernel, KernelResult.Keyed))

  /** array<struct<int, array<double>>> -> array<double>. */
  def keyedReduce(name: String, keyed: Column)(
      kernel: Array[(Int, Array[Double])] => Array[Double]): Column =
    Columns.of(KeyedArraysKernel(Columns.expression(keyed), name, kernel, KernelResult.Doubles))

  private[functions] def doubles(a: ArrayData, mayHoldNull: Boolean, name: String): Array[Double] = {
    if (mayHoldNull) {
      var i = 0
      while (i < a.numElements()) {
        if (a.isNullAt(i)) throw new IllegalArgumentException(
          s"$name: null array element at index $i")
        i += 1
      }
    }
    a.toDoubleArray()
  }
}

/** A kernel result's column type and its conversion to Catalyst data. */
final class KernelResult[T] private (val dataType: DataType, val toCatalyst: T => ArrayData)
  extends Serializable

object KernelResult {
  private val doubleArray = ArrayType(DoubleType, containsNull = false)
  private def prim(a: Array[Double]): ArrayData = UnsafeArrayData.fromPrimitiveArray(a)

  val Doubles = new KernelResult[Array[Double]](doubleArray, prim)

  val Blocks = new KernelResult[Array[Array[Double]]](
    ArrayType(doubleArray, containsNull = false),
    blocks => new GenericArrayData(blocks.map(b => prim(b): Any)))

  val Bands = new KernelResult[Array[(Array[Double], Array[Double])]](
    ArrayType(StructType(Seq(
      StructField("band", IntegerType, nullable = false),
      StructField("re", doubleArray, nullable = false),
      StructField("im", doubleArray, nullable = false))), containsNull = false),
    bands => new GenericArrayData(Array.tabulate[Any](bands.length) { b =>
      InternalRow(b, prim(bands(b)._1), prim(bands(b)._2))
    }))

  val Keyed = new KernelResult[Array[(Int, Array[Double])]](
    ArrayType(StructType(Seq(
      StructField("key", IntegerType, nullable = false),
      StructField("values", doubleArray, nullable = false))), containsNull = false),
    keyed => new GenericArrayData(keyed.map { case (k, v) => InternalRow(k, prim(v)): Any }))
}

/** Shared surface of the kernel expressions: the kernel's name in plans,
  * its result type, and null-intolerance (a null argument gives null). */
trait KernelExpression extends Expression {
  def name: String
  override def prettyName: String = name
  override def nullIntolerant: Boolean = true
  override def toString: String = s"$name(${children.mkString(", ")})"
}

/** array<double> -> T. */
case class ArrayKernel[T](child: Expression, name: String, kernel: Array[Double] => T,
                          result: KernelResult[T])
  extends UnaryExpression with KernelExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[DataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = result.dataType

  private lazy val mayHoldNull = child.dataType.asInstanceOf[ArrayType].containsNull

  def run(values: ArrayData): ArrayData =
    result.toCatalyst(kernel(ArrayKernels.doubles(values, mayHoldNull, name)))

  override protected def nullSafeEval(values: Any): Any = run(values.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("kernel", this)
    nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $self.run($v);")
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** (array<double>, double) -> T: the per-row sample rate rides along. */
case class RateArrayKernel[T](left: Expression, right: Expression, name: String,
                              kernel: (Array[Double], Double) => T, result: KernelResult[T])
  extends BinaryExpression with KernelExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[DataType] = Seq(ArrayType(DoubleType), DoubleType)
  override def dataType: DataType = result.dataType

  private lazy val mayHoldNull = left.dataType.asInstanceOf[ArrayType].containsNull

  def run(values: ArrayData, rate: Double): ArrayData =
    result.toCatalyst(kernel(ArrayKernels.doubles(values, mayHoldNull, name), rate))

  override protected def nullSafeEval(values: Any, rate: Any): Any =
    run(values.asInstanceOf[ArrayData], rate.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("kernel", this)
    nullSafeCodeGen(ctx, ev, (v, r) => s"${ev.value} = $self.run($v, $r);")
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** array<struct<int, array<double>>> -> T: a group of keyed arrays, as
  * `collect_list(struct(key, values))` builds it (channel blocks for CAR,
  * band traces for the band mean), in collection order. */
case class KeyedArraysKernel[T](child: Expression, name: String,
                                kernel: Array[(Int, Array[Double])] => T, result: KernelResult[T])
  extends UnaryExpression with KernelExpression {

  override def dataType: DataType = result.dataType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StructType(Array(
        StructField(_, IntegerType, _, _), StructField(_, ArrayType(DoubleType, _), _, _))), _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$name expects array<struct<int, array<double>>>, got ${other.simpleString}")
  }

  private lazy val mayHoldNull = child.dataType match {
    case ArrayType(StructType(fields), _) => fields(1).dataType.asInstanceOf[ArrayType].containsNull
    case _ => true
  }

  def run(keyed: ArrayData): ArrayData = {
    val n = keyed.numElements()
    val in = new Array[(Int, Array[Double])](n)
    var i = 0
    while (i < n) {
      val r = keyed.getStruct(i, 2)
      if (r == null || r.isNullAt(0) || r.isNullAt(1)) throw new IllegalArgumentException(
        s"$name: null key or array in group element $i")
      in(i) = (r.getInt(0), ArrayKernels.doubles(r.getArray(1), mayHoldNull, name))
      i += 1
    }
    result.toCatalyst(kernel(in))
  }

  override protected def nullSafeEval(keyed: Any): Any = run(keyed.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("kernel", this)
    nullSafeCodeGen(ctx, ev, k => s"${ev.value} = $self.run($k);")
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}
