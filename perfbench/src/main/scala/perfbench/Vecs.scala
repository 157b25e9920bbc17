package perfbench

import graft.functions.FloatBits
import graft.index.Metric

/** Seeded vector data: a 64-centre Gaussian mixture, clustered like real
  * embeddings. Inner-product data is normalised to unit length. */
final class Mixture(d: Int, seed: Long, unitNorm: Boolean, centres: Int = 64) {
  private val rnd = new java.util.Random(seed)
  private val mu = Array.fill(centres, d)((rnd.nextGaussian() * 1.0).toFloat)

  /** `n` new points; successive calls continue the same seeded stream. */
  def draw(n: Int): Array[Array[Float]] = Array.fill(n) {
    val c = mu(rnd.nextInt(centres))
    val v = Array.tabulate(d)(j => (c(j) + 0.35 * rnd.nextGaussian()).toFloat)
    if (unitNorm) {
      var s = 0.0
      v.foreach(x => s += x.toDouble * x)
      val inv = (1.0 / math.sqrt(s)).toFloat
      var j = 0
      while (j < d) { v(j) *= inv; j += 1 }
    }
    v
  }
}

/** Exact kNN written independently of the program: the same fp64
  * left-to-right distance loop, the (dist, id) total order, sentinel
  * padding when k exceeds the collection, and f16 storage modelled by
  * rounding each stored element through `FloatBits`. */
object BruteForce {
  def f16Round(v: Array[Float]): Array[Float] =
    v.map(x => FloatBits.halfBitsToFloat(FloatBits.floatToHalfBits(x)))

  def score(x: Array[Float], q: Array[Float], ip: Boolean): Double = {
    var acc = 0.0
    var j = 0
    val n = math.min(x.length, q.length)
    if (ip) while (j < n) { acc += x(j).toDouble * q(j).toDouble; j += 1 }
    else while (j < n) { val t = x(j).toDouble - q(j).toDouble; acc += t * t; j += 1 }
    acc
  }

  /** Best-first (label, dist) of length k over the first `n` stored vectors. */
  def search(stored: IndexedSeq[Array[Float]], n: Int, q: Array[Float], k: Int,
             metric: Metric): Array[(Long, Double)] = {
    val ip = metric == Metric.InnerProduct
    // (better) ⇔ smaller dist for L2, larger for IP; ties → smaller id
    def better(da: Double, la: Long, db: Double, lb: Long): Boolean = {
      val c = if (ip) java.lang.Double.compare(db, da) else java.lang.Double.compare(da, db)
      c < 0 || (c == 0 && la < lb)
    }
    val kk = math.min(k, n)
    val ds = new Array[Double](kk)
    val ls = new Array[Long](kk)
    var size = 0
    var i = 0
    while (i < n) {
      val s = score(stored(i), q, ip)
      val id = i.toLong
      if (size < kk || better(s, id, ds(size - 1), ls(size - 1))) {
        var p = if (size < kk) size else kk - 1
        while (p > 0 && better(s, id, ds(p - 1), ls(p - 1))) {
          ds(p) = ds(p - 1); ls(p) = ls(p - 1); p -= 1
        }
        ds(p) = s; ls(p) = id
        if (size < kk) size += 1
      }
      i += 1
    }
    val out = Array.tabulate(size)(j => (ls(j), ds(j)))
    out ++ Array.fill(k - size)((-1L, metric.sentinel))
  }

  /** Labels must match exactly; distances match after the float cast the
    * batch API applies (`asFloat`) or exactly (point search). */
  def agrees(got: Array[(Long, Double)], want: Array[(Long, Double)], asFloat: Boolean): Boolean =
    got.length == want.length && got.indices.forall { i =>
      got(i)._1 == want(i)._1 && {
        if (asFloat) got(i)._2.toFloat == want(i)._2.toFloat ||
          (got(i)._2.isInfinite && want(i)._2.isInfinite)
        else got(i)._2 == want(i)._2
      }
    }
}
