package perfbench

/** Plain-Scala Keller fuzzy kNN, the reference the benchmark checks the
  * library's predictions against. It shares no code with the library:
  *  - distance: sqrt of Σ (x−y)² folded in element order (the library's
  *    fused L2 and DuckDB's list_sum fold the same way, so distances are
  *    bit-identical);
  *  - neighbours ordered by (distance, id), the lowest id winning ties;
  *  - stage 1 (train, self excluded): u_j = 0.49·n_j/k, plus 0.51 for the
  *    row's own class;
  *  - stage 2: w = 1/max(d, 1e-12)², u_j(q) = Σ u_j(x)·w / Σ w, predicted =
  *    the highest u, the lowest class on a tie.
  */
final class RefFknn(trainX: Array[Array[Double]], trainY: Array[Int], k: Int, nClasses: Int) {
  private val DistEps = 1e-12

  def dist(a: Array[Double], b: Array[Double]): Double = {
    var acc = 0.0
    var i = 0
    while (i < a.length) { val d = a(i) - b(i); acc = acc + d * d; i += 1 }
    math.sqrt(acc)
  }

  /** The k nearest train rows of `q` as (distance, index), excluding `self`. */
  def nearest(q: Array[Double], self: Int = -1): Array[(Double, Int)] = {
    val dists = new Array[Double](k)
    val ids = new Array[Int](k)
    var n = 0
    var t = 0
    while (t < trainX.length) {
      if (t != self) {
        val d = dist(q, trainX(t))
        // train index order equals vec_id order, so (d, t) is (dist, id)
        if (n < k || d < dists(n - 1)) {
          var pos = if (n < k) n else k - 1
          while (pos > 0 && dists(pos - 1) > d) {
            if (pos < k) { dists(pos) = dists(pos - 1); ids(pos) = ids(pos - 1) }
            pos -= 1
          }
          dists(pos) = d; ids(pos) = t
          if (n < k) n += 1
        }
      }
      t += 1
    }
    Array.tabulate(n)(i => (dists(i), ids(i)))
  }

  private val memo = scala.collection.mutable.Map.empty[Int, Array[Double]]

  /** Stage-1 membership degrees of train row `t`. */
  def membership(t: Int): Array[Double] = memo.getOrElseUpdate(t, {
    val counts = new Array[Int](nClasses)
    nearest(trainX(t), self = t).foreach { case (_, i) => counts(trainY(i)) += 1 }
    Array.tabulate(nClasses)(j => 0.49 * counts(j) / k + (if (j == trainY(t)) 0.51 else 0.0))
  })

  /** Class scores of query `q`. */
  def scores(q: Array[Double]): Array[Double] = {
    val nn = nearest(q)
    val ws = nn.map { case (d, _) => val g = math.max(d, DistEps); 1.0 / (g * g) }
    val wsum = ws.sum
    Array.tabulate(nClasses)(j => nn.indices.map(i => membership(nn(i)._2)(j) * ws(i)).sum / wsum)
  }

  /** (predicted class, margin to the runner-up). A margin below 1e-9 marks a
    * near-tie, where summation order alone may decide the argmax.
    */
  def predict(q: Array[Double]): (Int, Double) = {
    val s = scores(q)
    val best = s.indices.maxBy(j => (s(j), -j))
    val second = s.indices.filter(_ != best).map(s).maxOption.getOrElse(Double.NegativeInfinity)
    (best, s(best) - second)
  }
}
