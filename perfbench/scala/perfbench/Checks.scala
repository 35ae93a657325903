package perfbench

import org.apache.spark.sql.{DataFrame, Row}

/** Output checks. Each returns None when the output is right, else the
  * reason it is wrong; a wrong output counts as a failed op. */
object Checks {

  /** A result as a map from row identity to value: the non-double
    * fields of a row (and the double column's name) form the key, each
    * double field is a value. Duplicate rows stay distinct through an
    * occurrence suffix, so a multiset compares as a multiset. */
  def flatten(rows: Seq[Row]): Map[String, Double] = {
    val seen = scala.collection.mutable.Map.empty[String, Int]
      .withDefaultValue(0)
    rows.flatMap { r =>
      val fields = r.schema.fieldNames.toSeq.zipWithIndex
      val (dbl, rest) = fields.partition { case (_, i) =>
        r.get(i).isInstanceOf[Double] }
      val base = rest.map { case (n, i) => s"$n=${r.get(i)}" }.mkString("|")
      val k = { seen(base) += 1; s"$base#${seen(base)}" }
      if (dbl.isEmpty) Seq(k -> 0.0)
      else dbl.map { case (n, i) => s"$k.$n" -> r.getDouble(i) }
    }.toMap
  }

  def collect(df: DataFrame): Map[String, Double] =
    flatten(df.collect().toSeq)

  /** Same keys, and every value within `tol` (absolute). */
  def sameValues(what: String, got: Map[String, Double],
      want: Map[String, Double], tol: Double): Option[String] = {
    val onlyGot = got.keySet -- want.keySet
    val onlyWant = want.keySet -- got.keySet
    if (onlyGot.nonEmpty || onlyWant.nonEmpty)
      Some(s"$what: ${onlyGot.size} rows only in output " +
        s"(e.g. ${onlyGot.take(2).mkString(", ")}), ${onlyWant.size} " +
        s"only in reference (e.g. ${onlyWant.take(2).mkString(", ")})")
    else {
      val bad = want.collect { case (k, w)
        if !(math.abs(got(k) - w) <= tol) => (k, got(k), w) }
      if (bad.isEmpty) None
      else Some(s"$what: ${bad.size} values differ by more than $tol " +
        s"(e.g. ${bad.take(2).mkString(", ")})")
    }
  }

  /** Exactly the same elements. */
  def sameSet[T](what: String, got: Set[T], want: Set[T]): Option[String] =
    if (got == want) None
    else Some(s"$what: ${(got -- want).size} extra (e.g. " +
      s"${(got -- want).take(2).mkString(", ")}), ${(want -- got).size} " +
      s"missing (e.g. ${(want -- got).take(2).mkString(", ")})")
}
