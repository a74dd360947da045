package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, row_number}

/** The one per-group top-k: keep each group's first `k` rows in a total
  * order and number them 1..n.
  *
  * The shape is `row_number() OVER (PARTITION BY by ORDER BY order)`, cast
  * to long, then `rank <= k`. Spark's `UnwrapCastInBinaryComparison` turns
  * the filter on the cast back into `row_number() <= k`, the predicate
  * `InferWindowGroupLimit` needs, so the plan runs a per-partition
  * `WindowGroupLimit` before the shuffle and never sorts a whole group.
  *
  * `order` must be total within a group (end it with a unique id column):
  * `row_number` over tied keys is nondeterministic, and the DuckDB oracles
  * rank the same way.
  */
object TopK {

  /** `df` plus a long column `rank` in 1..k, keeping rows with `rank <= k`. */
  def perGroup(df: DataFrame, by: String, order: Seq[Column], k: Int,
      rank: String): DataFrame = {
    require(k > 0, s"TopK.perGroup: k=$k — a top-k keeps at least one row per group")
    df.withColumn(rank,
        row_number().over(Window.partitionBy(by).orderBy(order: _*)).cast("long"))
      .filter(col(rank) <= k)
  }
}
