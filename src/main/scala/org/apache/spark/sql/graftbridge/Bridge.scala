package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, FloatType}

/** Access bridge for `private[sql]` surfaces that third-party expression
  * libraries need (the same pattern public Spark extensions use): wrapping a
  * Catalyst Expression into a user-facing Column, and typing
  * `ExpectsInputTypes.inputTypes` whose signature mentions the
  * `private[sql]` AbstractDataType. Also drains the `private[spark]`
  * listener bus for the harness's profile collector.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Block until every posted listener event is delivered (at most 10 s). */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(10000)
}

/** Input-type contract `(array<float>, array<float>)` for binary vector
  * expressions.
  */
trait FloatArrayBinaryInputs extends ExpectsInputTypes { self: Expression =>
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(FloatType), ArrayType(FloatType))
}

/** Input-type contract `(array<float>)` for unary vector expressions. */
trait FloatArrayUnaryInput extends ExpectsInputTypes { self: Expression =>
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType))
}

/** Input-type contract `(array<string>, array<string>)` for binary
  * token-set expressions.
  */
trait StringArrayBinaryInputs extends ExpectsInputTypes { self: Expression =>
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(org.apache.spark.sql.types.StringType),
      ArrayType(org.apache.spark.sql.types.StringType))
}

/** Input-type contract `(array<tinyint>, array<tinyint>)` for binary
  * quantized-vector expressions.
  */
trait ByteArrayBinaryInputs extends ExpectsInputTypes { self: Expression =>
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(org.apache.spark.sql.types.ByteType),
      ArrayType(org.apache.spark.sql.types.ByteType))
}

/** Input-type contract `(bigint, bigint)` with implicit casts — narrower
  * integer children are widened at analysis time.
  */
trait LongBinaryInputs
    extends org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {
  self: Expression =>
  override def inputTypes: Seq[AbstractDataType] =
    Seq(org.apache.spark.sql.types.LongType, org.apache.spark.sql.types.LongType)
}

/** Input-type contract `(double)` with implicit casts — int/decimal/float
  * children are cast at analysis time instead of ClassCastException mid-job.
  */
trait DoubleUnaryInput
    extends org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {
  self: Expression =>
  override def inputTypes: Seq[AbstractDataType] =
    Seq(org.apache.spark.sql.types.DoubleType)
}

/** Input-type contract `(array<bigint>, array<struct<code int, cent
  * array<bigint>>>)` for the PQ nearest-centroid argmin expression.
  */
trait PqArgminInputs extends ExpectsInputTypes { self: Expression =>
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(org.apache.spark.sql.types.LongType),
      ArrayType(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("code",
          org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("cent",
          ArrayType(org.apache.spark.sql.types.LongType))))))
}
