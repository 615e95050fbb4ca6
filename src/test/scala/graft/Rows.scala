package graft

import org.apache.spark.sql.DataFrame

/** Result comparison shared by the specs that run one query two ways. */
object Rows {

  /** The rows of `df` as sorted strings: equal for equal row multisets,
    * whatever the partitioning or row order.
    */
  def canon(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq
}
