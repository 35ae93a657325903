package graft.core

import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Row-level twin of a One2One [[IncrementalJob]] instantiation's
  * DataFrame functions, for the in-task path ([[InTaskLoop]]). It must
  * follow the DataFrame functions' arithmetic in the same operation
  * order, so both paths compute the same values. Rows are positional:
  *
  *  - static rows: `(sk, staticCols…)`;
  *  - out rows: the store's out columns without `_b`, key first;
  *  - kvs rows: the store's kvs columns without `_b`, `(k2, sk, …)`.
  */
trait RowKernel extends Serializable {
  /** The static columns the mapper reads, after the source key. */
  def staticCols: Seq[String]

  /** `mapContribs` for one frontier source that has both static rows
    * and an out row: its fresh kvs rows. */
  def contribs(static: Seq[Row], out: Row): Seq[Row]

  /** `reduce` for one affected key over its whole bag (maybe empty).
    * Sums must run in an order fixed by the bag's content, so reruns
    * are bit-identical. */
  def reduce(k2: Any, bag: Iterable[Row]): Row

  /** The F30 distance between a key's old and new out rows. */
  def distance(old: Row, neu: Row): Double
}

/** The in-task body of a store-mode One2One continuation: every round
  * of [[IncrementalJob]]'s loop and its exit-invariant kvs refresh,
  * run over the whole gathered state inside ONE task, with the same
  * semantics as the distributed loop:
  *
  *  - a frontier source maps only when it has static rows AND an out
  *    row (the inner join); one with static rows but no out row (new to
  *    the graph) becomes affected itself, so the reduce gives it a value;
  *  - affected = fresh keys ∪ keys of the frontier's old contributions
  *    ∪ those new sources; each is re-reduced over its merged bag;
  *  - θ > 0 keeps the affected keys whose value moved ≥ θ and that HAD
  *    an old value (the old⋈new inner join); θ = 0 keeps them all;
  *  - the exit refresh maps the final frontier and, under θ > 0, every
  *    round's new sources;
  *  - one frontier size per executed round, the 0 included;
  *  - touched buckets per table: the rounds' affected keys on both,
  *    the exit refresh's keys on kvs only.
  *
  * The output is one row stream in [[wideSchema]]: per table, one row
  * per touched bucket carrying the bucket's full replacement rows as
  * column arrays (a bucket the delta emptied still gets its row, so it
  * reaches the commit's touched set), and one meta row with the round
  * count and frontier sizes. Packing a bucket into one row keeps the
  * cached leaf near the raw data size; [[IncrementalJob]] explodes it
  * back into table rows for the commit. */
private[core] object InTaskLoop {
  val KvsIn = 0
  val OutIn = 1
  val StaticIn = 2
  val FrontierIn = 3

  val KvsBucket = 0
  val OutBucket = 1
  val Meta = 2

  /** `_t`, `_kb` (a kvs bucket row's bucket), `_ob` (an out bucket
    * row's bucket), the kvs columns as arrays `_k_<name>`, the out
    * columns as arrays `_o_<name>`, and the meta columns `_iters`,
    * `_fs`. */
  def wideSchema(kvs: Seq[StructField], out: Seq[StructField]): StructType = {
    def arrays(prefix: String, fs: Seq[StructField]) = fs.map(f =>
      StructField(s"$prefix${f.name}", ArrayType(f.dataType, containsNull = true)))
    StructType(Seq(StructField("_t", IntegerType), StructField("_kb", IntegerType),
      StructField("_ob", IntegerType)) ++ arrays("_k_", kvs) ++
      arrays("_o_", out) ++ Seq(StructField("_iters", IntegerType),
        StructField("_fs", ArrayType(LongType, containsNull = false))))
  }

  /** The gathered state, held in the task's heap: kvs as k2 → sk →
    * rows plus the sk → k2 index the merge deletes by, out by key,
    * static rows by source key, and the initial frontier. */
  final class Gathered {
    val kvs = mutable.HashMap.empty[Any, mutable.HashMap[Any, List[Row]]]
    val bySk = mutable.HashMap.empty[Any, mutable.HashSet[Any]]
    val out = mutable.HashMap.empty[Any, Row]
    val static = mutable.HashMap.empty[Any, List[Row]]
    val frontier = mutable.HashSet.empty[Any]
    def addKvs(r: Row): Unit = {
      val (k2, sk) = (r.get(0), r.get(1))
      kvs.getOrElseUpdate(k2, mutable.HashMap.empty)
        .updateWith(sk)(rs => Some(r :: rs.getOrElse(Nil)))
      bySk.getOrElseUpdate(sk, mutable.HashSet.empty) += k2
    }
  }

  /** Builds the [[Gathered]] state from the tagged input rows. */
  def load(input: Iterator[(Int, Row)]): Gathered = {
    val g = new Gathered
    input.foreach {
      case (KvsIn, r) => g.addKvs(r)
      case (OutIn, r) => g.out(r.get(0)) = r
      case (StaticIn, r) => g.static(r.get(0)) = r :: g.static.getOrElse(r.get(0), Nil)
      case (_, r) => g.frontier += r.get(0)
    }
    g
  }

  def run(g: Gathered, kernel: RowKernel,
      bucket: Any => Int, theta: Double, maxIterations: Int,
      nKvs: Int, nOut: Int): Iterator[Row] = {
    import g.{kvs, bySk, out, static, addKvs}
    var frontier: collection.Set[Any] = g.frontier
    def fresh(f: collection.Set[Any]): Seq[Row] = f.toSeq.flatMap(s =>
      (static.get(s), out.get(s)) match {
        case (Some(st), Some(o)) => kernel.contribs(st, o)
        case _ => Nil
      })
    // the MRBGraph merge: drop every stored row of a frontier source,
    // insert the fresh ones; returns the k2 keys that lost or gained
    def merge(f: collection.Set[Any], rows: Seq[Row]): mutable.HashSet[Any] = {
      val keys = mutable.HashSet.empty[Any]
      f.foreach(s => bySk.remove(s).foreach(_.foreach { k2 =>
        keys += k2
        kvs.get(k2).foreach { m => m.remove(s); if (m.isEmpty) kvs.remove(k2) }
      }))
      rows.foreach { r => keys += r.get(0); addKvs(r) }
      keys
    }
    val touchedKvs = mutable.HashSet.empty[Int]
    val touchedOut = mutable.HashSet.empty[Int]
    val fSizes = mutable.ArrayBuffer.empty[Long]
    // θ > 0: the new sources, which never join a frontier
    val newSourcesSeen = mutable.HashSet.empty[Any]
    var i = 0
    while (i < maxIterations && frontier.nonEmpty) {
      i += 1
      val newSources = frontier.filter(s => static.contains(s) && !out.contains(s))
      if (theta > 0.0) newSourcesSeen ++= newSources
      val affected = merge(frontier, fresh(frontier)) ++= newSources
      val next = mutable.HashSet.empty[Any]
      affected.foreach { k =>
        val b = bucket(k)
        touchedKvs += b
        touchedOut += b
        val neu = kernel.reduce(k,
          kvs.get(k).map(_.values.flatten).getOrElse(Nil))
        val old = out.put(k, neu)
        if (theta <= 0.0 || old.exists(o => kernel.distance(o, neu) >= theta))
          next += k
      }
      frontier = next
      fSizes += frontier.size.toLong
    }
    // exit invariant: re-derive the final frontier's contributions from
    // the final out (kvs only — out is final)
    val exit = frontier ++ newSourcesSeen
    if (exit.nonEmpty)
      merge(exit, fresh(exit)).foreach(k => touchedKvs += bucket(k))

    val width = 3 + nKvs + nOut + 2
    def wide(t: Int)(fill: Array[Any] => Unit): Row = {
      val a = new Array[Any](width)
      a(0) = t
      fill(a)
      Row.fromSeq(a.toSeq)
    }
    // one row per touched bucket: column j of its rows as one array
    def buckets(t: Int, bCol: Int, touched: mutable.HashSet[Int],
        byKey: Iterator[(Any, Iterable[Row])], n: Int, first: Int): Iterator[Row] = {
      val byBucket = touched.iterator.map(_ -> mutable.ArrayBuffer.empty[Row]).toMap
      byKey.foreach { case (k, rs) => byBucket.get(bucket(k)).foreach(_ ++= rs) }
      byBucket.iterator.map { case (b, rs) => wide(t) { a =>
        a(bCol) = b
        for (j <- 0 until n) a(first + j) = rs.map(_.get(j)).toSeq
      }}
    }
    val kvsRows = buckets(KvsBucket, 1, touchedKvs,
      kvs.iterator.map { case (k, m) => (k, m.values.flatten) }, nKvs, 3)
    val outRows = buckets(OutBucket, 2, touchedOut,
      out.iterator.map { case (k, r) => (k, Seq(r)) }, nOut, 3 + nKvs)
    val meta = wide(Meta) { a => a(width - 2) = i; a(width - 1) = fSizes.toSeq }
    kvsRows ++ outRows ++ Iterator.single(meta)
  }
}
