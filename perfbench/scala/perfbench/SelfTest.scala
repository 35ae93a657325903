package perfbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.types._

/** The output checks must reject wrong outputs: each case perturbs a
  * correct rank or cluster output and expects a failure reason, and
  * expects none for the unperturbed output. Exits 1 on any miss.
  *
  * Usage: perfbench.SelfTest */
object SelfTest {
  private val ClusterSchema = StructType(Seq(
    StructField("id", LongType), StructField("comp", LongType)))
  private val ScoreSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("dup_frac", DoubleType),
    StructField("keep", BooleanType)))

  private def rows(s: StructType, vs: Seq[Seq[Any]]): Seq[Row] =
    vs.map(v => new GenericRowWithSchema(v.toArray, s))

  def main(args: Array[String]): Unit = {
    val ranks = (0L until 50L).map(k => k -> (0.2 + k * 0.01)).toMap
    val strRanks = ranks.map { case (k, v) => k.toString -> v }
    val clusters = rows(ClusterSchema,
      (0L until 20L).map(i => Seq(i, i - i % 4)))
    val scores = rows(ScoreSchema,
      (0L until 20L).map(i => Seq(i, i / 40.0, i % 3 != 0)))
    val edges = Set((1L, 2L, 2L), (1L, 3L, 2L), (2L, 3L, 1L))

    val cases: Seq[(String, Boolean, Option[String])] = Seq(
      ("ranks equal replay", true,
        Checks.sameValues("r", strRanks, strRanks, 1e-9)),
      ("one rank off by 1e-6", false, Checks.sameValues("r",
        strRanks.updated("7", strRanks("7") + 1e-6), strRanks, 1e-9)),
      ("one rank missing", false,
        Checks.sameValues("r", strRanks - "7", strRanks, 1e-9)),
      ("rank NaN", false, Checks.sameValues("r",
        strRanks.updated("7", Double.NaN), strRanks, 1e-9)),
      ("clusters equal", true, Checks.sameValues("c",
        Checks.flatten(clusters), Checks.flatten(clusters), 1e-9)),
      ("one cluster label moved", false, Checks.sameValues("c",
        Checks.flatten(clusters.updated(5, rows(ClusterSchema,
          Seq(Seq(5L, 0L))).head)), Checks.flatten(clusters), 1e-9)),
      ("one clustered doc duplicated", false, Checks.sameValues("c",
        Checks.flatten(clusters :+ clusters(5)), Checks.flatten(clusters),
        1e-9)),
      ("dup score off", false, Checks.sameValues("s",
        Checks.flatten(scores.updated(4, rows(ScoreSchema,
          Seq(Seq(4L, 0.5, true))).head)), Checks.flatten(scores), 1e-9)),
      ("keep flag flipped", false, Checks.sameValues("s",
        Checks.flatten(scores.updated(4, rows(ScoreSchema,
          Seq(Seq(4L, 0.1, false))).head)), Checks.flatten(scores), 1e-9)),
      ("edge store equal", true, Checks.sameSet("e", edges, edges)),
      ("edge degree wrong", false, Checks.sameSet("e",
        edges - ((2L, 3L, 1L)) + ((2L, 3L, 2L)), edges)))

    val misses = cases.filter { case (_, ok, r) => r.isEmpty != ok }
    cases.foreach { case (name, ok, r) =>
      println(f"${if (r.isEmpty == ok) "ok  " else "MISS"} $name%-32s " +
        s"${r.getOrElse("accepted")}")
    }
    if (misses.nonEmpty) sys.exit(1)
  }
}
