package perfbench

import graft.kernel.{BinaryClaSPSegmentation, ClaSP, KSubsequenceNeighbours, WindowSize}

/** Single-thread replay of a fixed sample of the rollup's kernel inputs
  * through the public kernel entry points, timed per phase. The phases
  * follow `BinaryClaSPSegmentation.fit` with its defaults: SuSS window size,
  * the first ensemble's k-NN table, its score profiles (cross-validation
  * labels + ROC AUC), its significance tests, and then the whole
  * segmentation as the rollup calls it. */
object KernelReplay {
  private val K = 3
  private val ExclRadius = 5
  private val NEstimators = 10
  private val RandomState = 2357L
  private val Distance = "znormed_euclidean_distance"

  final class Totals {
    var sussS, knnS, profileS, validationS, segmentationS = 0.0
    var series, points, knnRows, splitsScored = 0L
  }

  /** Sample of `crawl_rollup`'s window for `seed`: three short and two
    * medium urls and one interior chunk of the mega url (the first and last
    * are partial), all drawn from the seed. */
  def sample(seed: Long, urls: Int): Seq[Array[Double]] = {
    val lo = Crawl.window(seed, urls)._1
    val rng = new java.util.Random(seed)
    def pick(cls: Long => Boolean, n: Int): Seq[Long] =
      Iterator.continually(lo + rng.nextInt(urls)).filter(cls).distinct.take(n).toSeq
    val short = pick(i => i % 100 < 90, 3)
    val medium = pick(i => i % 100 >= 90 && i % 100 < 99, 2)
    val mega = pick(i => i % 100 == 99, 1)
    val chunks = mega.flatMap(Crawl.kernelSeries)
    val interior = if (chunks.length > 2) chunks.slice(1, chunks.length - 1) else chunks
    short.flatMap(Crawl.kernelSeries) ++ medium.flatMap(Crawl.kernelSeries) :+ interior(rng.nextInt(interior.length))
  }

  private def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
  }

  /** One replay of every series; the same guards as the rollup skip
    * too-short and constant series. */
  def run(series: Seq[Array[Double]]): Totals = {
    val t = new Totals
    for (ts <- series if ts.length >= 60 && ts.max > ts.min) {
      t.series += 1
      t.points += ts.length
      val (w, sussS) = time(math.max(3, WindowSize.suss(ts) / 2))
      t.sussS += sussS
      val minSeg = w * ExclRadius
      if (ts.length >= 2 * minSeg) {
        val tcs = ClaSP.temporalConstraints(ts.length, NEstimators, minSeg, RandomState)
        val (knn, knnS) = time(new KSubsequenceNeighbours(w, K, Distance).fit(Array(ts), tcs))
        t.knnS += knnS
        t.knnRows += knn.nOffsets
        for ((lb, ub) <- tcs) {
          val sub = Array(java.util.Arrays.copyOfRange(ts, lb, ub))
          val (model, profileS) = time(ClaSP.fit(sub, w, K, Distance, "roc_auc", ExclRadius, knn.constrain(lb, ub)))
          t.profileS += profileS
          t.splitsScored += model.profile.count(v => !v.isInfinite && !v.isNaN)
          t.validationS += time(model.split("significance_test", 1e-15))._2
        }
      }
      t.segmentationS += time(new BinaryClaSPSegmentation().fitPredict(ts))._2
    }
    t
  }
}
