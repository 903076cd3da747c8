package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.catalyst.expressions.ExpectsInputTypes
import org.apache.spark.sql.types.{AbstractDataType, DataType, TypeCollection}

/** Spark's [[ExpectsInputTypes]] check over public `DataType`s: every
  * argument must have one of [[argTypes]] (nullability ignored, no implicit
  * cast). `AbstractDataType` and `TypeCollection` are `private[sql]` in
  * Spark 4, hence this shim beside [[ColumnBridge]]. */
trait KernelInputTypes extends ExpectsInputTypes {
  protected def argTypes: Seq[DataType]

  final override def inputTypes: Seq[AbstractDataType] = {
    val accepted: AbstractDataType =
      if (argTypes.size == 1) argTypes.head else TypeCollection(argTypes: _*)
    children.map(_ => accepted)
  }
}
