package graft.core

import org.apache.spark.sql.Dataset

/** The one bounded driver gather. The reference runs in one process, so its
  * driver-side forms (`unique`, the compress payload, the pickle and npz
  * writers, the BPE and TF-IDF vocabularies) hold everything; here each such
  * gather is one `limit(ceiling + 1).collect()`, whose extra witness row
  * proves the overflow without a separate count that would re-run the
  * upstream plan. Each ceiling is a named constant beside its call site.
  */
private[graft] object DriverGather {

  /** The rows of `df`, or an `IllegalStateException(refusal)` when it holds
    * more than `ceiling` rows. `refusal` should name the ceiling and the
    * distributed way around it.
    */
  def atMost[T](df: Dataset[T], ceiling: Int)(refusal: => String): Array[T] =
    upTo(df, ceiling).getOrElse(throw new IllegalStateException(refusal))

  /** The rows of `df`, or `None` when it holds more than `ceiling` rows —
    * for choosing a driver-side path, not for refusing.
    */
  def upTo[T](df: Dataset[T], ceiling: Int): Option[Array[T]] = {
    require(ceiling >= 0 && ceiling < Int.MaxValue, s"driver gather ceiling $ceiling out of range")
    val rows = df.limit(ceiling + 1).collect()
    if (rows.length > ceiling) None else Some(rows)
  }
}
