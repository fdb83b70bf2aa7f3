package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Expected input types of an expression that is one static method
  * call, read off the method's parameter classes, so analysis inserts
  * the same implicit casts it would for a built-in function. Lives
  * here because `AbstractDataType` and `AnyDataType` are `private[sql]`. */
trait MethodInputTypes extends ImplicitCastInputTypes {

  /** The called method's parameter classes, one per child. */
  def parameterTypes: Seq[Class[_]]

  override def inputTypes: Seq[AbstractDataType] = parameterTypes.map {
    case c if c == classOf[Double] => DoubleType
    case c if c == classOf[Int] => IntegerType
    case c if c == classOf[Long] => LongType
    case c if c == classOf[Boolean] => BooleanType
    case c if c == classOf[Array[Byte]] => BinaryType
    case c if c == classOf[UTF8String] => StringType
    case c if c == classOf[ArrayData] => ArrayType
    case _ => AnyDataType // a struct row: geometry kernels read it positionally
  }
}
