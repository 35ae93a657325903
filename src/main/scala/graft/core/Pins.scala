package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graft.GraftSqlShim
import org.apache.spark.sql.graft.GraftSqlShim.Pinned

/** One release scope for pinned leaves ([[GraftSqlShim.pin]]): every
  * leaf pinned through it is released when the block passed to
  * [[Pins.scope]] ends — normally or by an exception — so a
  * continuation that throws mid-way leaves no cached blocks behind
  * for the ContextCleaner to find.
  *
  * Pin through the scope the intermediates a block derives its result
  * from: a released leaf CANNOT be recomputed (lineage is truncated),
  * so the scope must enclose every materialization that reads them. A
  * leaf that outlives the block (a returned state table) is pinned
  * with [[GraftSqlShim.pin]] directly and keeps its own release. A
  * scoped leaf may also be released early through its `release` —
  * releases are idempotent. */
final class Pins private {
  private val releases = scala.collection.mutable.ListBuffer.empty[() => Unit]

  /** [[GraftSqlShim.pin]], released at the end of the scope. */
  def pin(df: DataFrame, sets: Seq[String] = Nil,
      sums: Seq[String] = Nil): Pinned = {
    val p = GraftSqlShim.pin(df, sets, sums)
    releases.synchronized(releases += p.release)
    p
  }

  /** The pinned leaf alone. */
  def apply(df: DataFrame): DataFrame = pin(df).leaf
}

object Pins {
  /** Run `f` with a fresh scope; release its leaves when `f` ends. */
  def scope[T](f: Pins => T): T = {
    val pins = new Pins
    try f(pins)
    finally pins.releases.synchronized(pins.releases.foreach(_.apply()))
  }
}
