package perfbench

import java.util.SplittableRandom

/** Seeded input generators. Every value is a pure function of the seed (and, for the
  * event table, of the event id), so the same seed always yields the same inputs and
  * the Spark-side table and the driver-side model agree without sharing state.
  */
object Gen {

  /** Size of the generated event table: that of the sf0.1 test data. */
  val Events: Int = 100000
  val Users: Int = 1500

  /** SplitMix64 finalizer: a bijective 64-bit mix. */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** The user of event `e`: a seeded uniform pick. */
  def userOf(seed: Long, e: Long): Long = java.lang.Math.floorMod(mix(mix(seed) ^ e), Users.toLong)

  // The arithmetic of `graft.testgraph.TestGraph.edgeLog`, restated for the model.
  def graphOf(e: Long): Int = (1 + e % 3).toInt
  def destinationOf(e: Long): Long = 1 + (e * 7919) % 97
  def updatedAtOf(e: Long): Int = (1000000 + (e * 31) % 500).toInt
  def stateOf(e: Long): Int = {
    val b = (e * 13) % 10
    if (b < 7) 0 else if (b == 7) 1 else if (b == 8) 2 else 3
  }

  /** Largest destination id the edge log produces. */
  val MaxDestination: Int = 97

  /** Zipf(s) over ranks 0 until n, sampled by inverse CDF. */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x; acc / total }
    }
    def sample(rnd: SplittableRandom): Int = {
      val u = rnd.nextDouble()
      var lo = 0
      var hi = n - 1
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (cdf(mid) < u) lo = mid + 1 else hi = mid
      }
      lo
    }
  }

  /** Zipf-skewed draws (s = 0.99) over `(graph, source)` vertices: a seeded permutation
    * decides which vertices are hot, so different seeds stress different vertices.
    */
  final class VertexPicker(seed: Long, users: Int) {
    private val n = 3 * users
    private val zipf = new Zipf(n, 0.99)
    private val perm: Array[Int] = {
      val a = Array.range(0, n)
      val rnd = new SplittableRandom(mix(seed ^ 0x5EEDL))
      var i = n - 1
      while (i > 0) {
        val j = rnd.nextInt(i + 1)
        val t = a(i); a(i) = a(j); a(j) = t
        i -= 1
      }
      a
    }
    /** (graphId, sourceId) */
    def pick(rnd: SplittableRandom): (Int, Long) = {
      val v = perm(zipf.sample(rnd))
      (1 + v / users, (v % users).toLong)
    }
  }
}
