package perfbench

import scala.collection.mutable

/** Seeded input generators. Everything is a pure function of
  * (seed, index), so one seed always gives the same graph, documents
  * and delta chain, and the expected final state is known on the
  * driver without asking the engine. */
object Gen {

  /** SplitMix64 finalizer. */
  def mix(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }
  def hash(xs: Long*): Long = xs.foldLeft(0x5851F42D4C957F2DL)((h, x) => mix(h ^ x))
  def unit(xs: Long*): Double = (hash(xs: _*) >>> 11) * (1.0 / (1L << 53))
  def below(n: Long, xs: Long*): Long = java.lang.Math.floorMod(hash(xs: _*), n)

  /** Out-degree of the "pg" kind of `graft.util.Generators.graphTyped`:
    * ceil(lognormal(-1, 2.3)), capped at n/2. */
  def pgDegree(seed: Long, src: Long, n: Int): Int = {
    val u1 = math.max(unit(seed, src, 1), 1e-12); val u2 = unit(seed, src, 2)
    val z = math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * u2)
    math.min(math.ceil(math.exp(-1.0 + 2.3 * z)), n / 2.0).toInt.max(1)
  }

  /** Lognormal-degree directed graph on nodes 0 until n with exactly
    * `edges` edges, as src -> distinct dsts (no self-loops). The "pg"
    * degree draws are scaled to the edge budget (largest remainders
    * round up), so every seed gives a graph of the same size: an
    * unscaled heavy-tailed draw varies by tens of percent with its few
    * largest hubs. */
  def graph(seed: Long, n: Int, edges: Int): mutable.Map[Long, Set[Long]] = {
    val raw = (0 until n).map(s => pgDegree(seed, s, n).toDouble)
    val f = edges / raw.sum
    val deg = raw.map(r => math.min(n / 2, math.max(1, (r * f).toInt))).toArray
    val short = edges - deg.sum
    val order = if (short >= 0) (0 until n).sortBy(s => -(raw(s) * f % 1))
      else (0 until n).sortBy(s => -deg(s))
    order.take(math.abs(short)).foreach(s => deg(s) += math.signum(short))
    val g = mutable.Map.empty[Long, Set[Long]]
    for (s <- 0 until n)
      g(s.toLong) = Iterator.from(1).map(k => below(n, seed, s, k, 3))
        .filter(_ != s).distinct.take(deg(s)).toSet
    g
  }

  /** genDocs' 30 words plus synthetic ones: with 30 words alone, random
    * documents form SimHash near-dup chains whose length, and so the
    * connected-components round count, varies with the seed. */
  private val Vocab = Array("spark", "line", "column", "order", "small",
    "sort", "fast", "value", "scan", "hash", "slow", "group", "batch",
    "query", "agg", "table", "key", "stream", "window", "join", "part",
    "filter", "merge", "big", "the", "a", "data", "customer", "vector",
    "grid") ++ (0 until 226).map(i => s"w$i")

  /** Document `id` with the dedup structure of `ScaleBench.genDocs`:
    * every id%10==9 doc is a near-dup of id-1 (first token differs),
    * every id%100==50 doc is an exact dup of id-7; 24 to 79 tokens. */
  def doc(seed: Long, id: Long): String = {
    val gid = if (id % 10 == 9) id - 1 else if (id % 100 == 50) id - 7 else id
    val ntok = 24 + below(56, seed, gid, 7).toInt
    (0 until ntok).map { j =>
      val w = if (j == 0 && id % 10 == 9) below(Vocab.length, seed, id, 13)
        else below(Vocab.length, seed, gid, j, 11)
      Vocab(w.toInt)
    }.mkString(" ")
  }
}
