package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Expression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

/** Order-independent reduction of a query over ALL of its output
  * columns, and the check that the reduction kept the spatial work.
  *
  * `count()` lets Catalyst prune every projected column, and with it
  * every graft expression that only feeds them. Hashing all columns
  * keeps them live. Each row hash is masked to 32 bits before the sum,
  * so the sum of up to 2^31 rows cannot overflow in ANSI mode. */
object Checks {

  final val Mask = 0xFFFFFFFFL
  final val HashSeed = 42L // Spark's xxhash64 seed

  /** (row count, Σ xxhash64(all columns) & Mask) as one row. */
  def reduce(df: DataFrame): DataFrame =
    df.agg(count(lit(1)).as("rows"),
      coalesce(sum(xxhash64(df.columns.map(c => col(s"`$c`")): _*).bitwiseAND(lit(Mask))), lit(0L))
        .as("checksum"))

  def collect(reduced: DataFrame): (Long, Long) = {
    val r = reduced.collect().head
    (r.getLong(0), r.getLong(1))
  }

  /** The checksum term of one (long, int) row, as Spark's xxhash64 computes it. */
  def rowHash(a: Long, b: Int): Long =
    XXH64.hashInt(b, XXH64.hashLong(a, HashSeed)) & Mask
  def rowHash(a: Long, b: Int, c: Int): Long =
    XXH64.hashInt(c, XXH64.hashInt(b, XXH64.hashLong(a, HashSeed))) & Mask
  def rowHash(a: Long, b: Long): Long =
    XXH64.hashLong(b, XXH64.hashLong(a, HashSeed)) & Mask

  /** The final physical plan, with adaptive wrappers opened. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  private def exprs(df: DataFrame): Seq[Expression] =
    nodes(df.queryExecution.executedPlan).flatMap(_.expressions.flatMap(_.collect { case e => e }))

  /** Class names of the graft expressions in the executed plan, with multiplicity. */
  def graftExprs(df: DataFrame): Map[String, Int] =
    exprs(df).map(_.getClass.getName).filter(_.startsWith("graft."))
      .groupBy(identity).map { case (k, v) => k -> v.size }

  /** Graft expressions the un-reduced plan has and the reduced plan lost. */
  def lostExprs(unreduced: DataFrame, reduced: DataFrame): Seq[String] = {
    val kept = graftExprs(reduced)
    graftExprs(unreduced).keys.filterNot(kept.contains).toSeq.sorted
  }

  /** Expressions in the executed plan that cannot generate code. */
  def fallbackExprs(df: DataFrame): Int = exprs(df).count(_.isInstanceOf[CodegenFallback])
}

/** Minimal JSON writing; the benchmark emits only flat objects. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(d: Double): String = if (d.isNaN || d.isInfinite) "0" else d.toString

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
