package org.apache.spark.mllib.clustering

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.mllib.linalg.{Vector, Vectors}
import org.apache.spark.util.Utils
import org.apache.spark.util.random.{BernoulliSampler, SamplingUtils, XORShiftRandom}

/** Spark's euclidean k-means (k-means|| initialisation, then Lloyd
  * iterations) run on the driver over points it already holds.
  *
  * `ml.clustering.KMeans.fit` over a dataset in ONE partition runs
  * every one of its ~19 jobs as a single task over that partition, in
  * the partition's row order. This object does the same arithmetic in
  * the same order without the jobs: it mirrors the control flow of
  * `mllib.clustering.KMeans.initKMeansParallel` (with its
  * `RDD.takeSample`/`PartitionwiseSampledRDD` draw) and
  * `runAlgorithmWithWeight` for partition index 0, and calls Spark's
  * own pieces for every step that computes something: the euclidean
  * `DistanceMeasure` (`pointCost`, `findClosest` with
  * `computeStatistics`, `updateClusterSum`, `centroid`,
  * `isCenterConverged`), `VectorWithNorm`, `LocalKMeans.kMeansPlusPlus`,
  * `XORShiftRandom`, `BernoulliSampler`,
  * `SamplingUtils.computeFractionForSampleSize` and
  * `Utils.randomizeInPlace`. Those are `private[mllib]`/`private[spark]`,
  * hence this package.
  *
  * On a dense features column the ML fit's default solver (`auto`)
  * runs the Lloyd step in its blocked form, which computes point-center
  * distances with a matrix product instead of `findClosest`. Both forms
  * pick the first nearest center, add each point to its center's sum
  * in row order and scale the sum by `1 / weight`, so they agree
  * unless a point sits on a rounding-level tie between two centers.
  * `GraftKMeansSpec` pins the returned centers bit for bit against the
  * default ML fit. Spark computes the center statistics in a job once
  * k²·dim ≥ 10⁶; here they are always computed locally, per center
  * pair as Spark does. */
object GraftKMeans {

  /** Fits `k` euclidean centers to `points` (all weight 1), with the
    * seed, `initSteps` k-means|| rounds, `maxIter` Lloyd iterations and
    * convergence tolerance `tol` of the ML estimator. A NaN or ±Inf
    * value is rejected, as the ML fit's `checkNonNanVectors` does. */
  def fit(points: Array[Vector], k: Int, maxIter: Int, initSteps: Int,
      seed: Long, tol: Double): KMeansModel = {
    val data = points.map { v =>
      require(v.toArray.forall(x => !x.isNaN && !x.isInfinite),
        s"Vector values MUST NOT be NaN or Infinity, but got $v")
      new VectorWithNorm(v)
    }
    val measure = new EuclideanDistanceMeasure
    lloyd(data, initKMeansParallel(data, measure, k, initSteps, seed),
      measure, maxIter, tol)
  }

  /** `KMeans.initKMeansParallel` over one partition: each step's costs,
    * their `RDD.sum` (a fold from 0.0), and the Bernoulli pick seeded
    * with `seed ^ (step << 16) ^ partitionIndex`. */
  private def initKMeansParallel(data: Array[VectorWithNorm],
      measure: DistanceMeasure, k: Int, initSteps: Int,
      seed: Long): Array[VectorWithNorm] = {
    val stepSeed = new XORShiftRandom(seed).nextInt()
    val sample = takeOne(data, stepSeed)
    require(sample.nonEmpty, "No samples available from the training points")
    val centers = ArrayBuffer[VectorWithNorm]()
    var newCenters = Array(sample.head.toDense)
    centers ++= newCenters
    var costs = Array.fill(data.length)(Double.PositiveInfinity)
    var step = 0
    while (step < initSteps) {
      costs = Array.tabulate(data.length) { i =>
        math.min(measure.pointCost(newCenters, data(i)), costs(i))
      }
      val sumCosts = costs.fold(0.0)(_ + _)
      val rand = new XORShiftRandom(stepSeed ^ (step << 16) ^ 0)
      newCenters = data.iterator.zip(costs.iterator)
        .filter { case (_, c) => rand.nextDouble() < 2.0 * c * k / sumCosts }
        .map(_._1.toDense).toArray
      centers ++= newCenters
      step += 1
    }
    val distinctCenters = centers.map(_.vector).distinct.map(new VectorWithNorm(_)).toArray
    if (distinctCenters.length <= k) distinctCenters
    else {
      val counts = new Array[Long](distinctCenters.length)
      data.foreach(p => counts(measure.findClosest(distinctCenters, p)._1) += 1)
      LocalKMeans.kMeansPlusPlus(0, distinctCenters, counts.map(_.toDouble), k, 30)
    }
  }

  /** `RDD.takeSample(withReplacement = false, 1, seed)` over one
    * partition: the Bernoulli sampler's seed is the first `nextLong` of
    * `java.util.Random(sampleSeed)`, as `PartitionwiseSampledRDD`
    * derives partition 0's. */
  private def takeOne(data: Array[VectorWithNorm], seed: Int): Array[VectorWithNorm] =
    if (data.isEmpty) Array.empty
    else {
      val rand = new java.util.Random(seed.toLong)
      if (data.length == 1) Utils.randomizeInPlace(data.clone(), rand)
      else {
        val fraction = SamplingUtils.computeFractionForSampleSize(1, data.length, false)
        def draw(): Array[VectorWithNorm] = {
          val sampler = new BernoulliSampler[VectorWithNorm](fraction)
          sampler.setSeed(new java.util.Random(rand.nextInt().toLong).nextLong())
          sampler.sample(data.iterator).toArray
        }
        var samples = draw()
        while (samples.isEmpty) samples = draw()
        Utils.randomizeInPlace(samples, rand).take(1)
      }
    }

  /** `KMeans.runAlgorithmWithWeight`'s Lloyd loop over one partition:
    * points are assigned and summed in row order; a center whose
    * cluster is empty keeps its place and value. */
  private[clustering] def lloyd(data: Array[VectorWithNorm], init: Array[VectorWithNorm],
      measure: DistanceMeasure, maxIter: Int, tol: Double): KMeansModel = {
    val centers = init.clone()
    val dims = centers.head.vector.size
    val withStats = DistanceMeasure.shouldComputeStatistics(centers.length)
    var converged = false
    var cost = 0.0
    var iteration = 0
    while (iteration < maxIter && !converged) {
      val stats = if (withStats) Some(measure.computeStatistics(centers)) else None
      val sums = Array.fill(centers.length)(Vectors.zeros(dims))
      val weightSums = new Array[Double](centers.length)
      cost = 0.0
      data.foreach { point =>
        val (best, c) = measure.findClosest(centers, stats, point)
        cost += c * point.weight
        measure.updateClusterSum(point, sums(best))
        weightSums(best) += point.weight
      }
      converged = true
      centers.indices.filter(weightSums(_) > 0).foreach { j =>
        val newCenter = measure.centroid(sums(j), weightSums(j))
        if (converged && !measure.isCenterConverged(centers(j), newCenter, tol))
          converged = false
        centers(j) = newCenter
      }
      iteration += 1
    }
    new KMeansModel(centers.map(_.vector), DistanceMeasure.EUCLIDEAN, cost, iteration)
  }
}
