package graft

package object sql {
  /** Children of an st_* expression, in call order. */
  type Args = Seq[org.apache.spark.sql.catalyst.expressions.Expression]
}
