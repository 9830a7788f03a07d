package graft.sql

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** The global-`orderBy` formulation of a grouped SELECT's key order that
  * [[SqlEngine]] replaced with one post-aggregate task, kept as a parity
  * reference: `unlimited` is the statement's result without its LIMIT,
  * ordered here by a range-partitioned sort on the key output columns
  * and then limited, as the engine did before. */
object SqlReference {
  def keyOrdered(unlimited: DataFrame, keyOutputNames: Seq[String],
      limit: Option[Int]): DataFrame = {
    val ordered = unlimited.orderBy(keyOutputNames.map(col): _*)
    limit.map(ordered.limit).getOrElse(ordered)
  }
}
