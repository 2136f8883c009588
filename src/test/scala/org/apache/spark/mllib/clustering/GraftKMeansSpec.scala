package org.apache.spark.mllib.clustering

import org.apache.spark.ml.clustering.{KMeans => MLKMeans}
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.ml.linalg.{Vector => MLVector}
import org.apache.spark.mllib.linalg.{Vector, Vectors}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** [[GraftKMeans.fit]] returns the model Spark's ML estimator fits on
  * the same one-partition input, as a29 builds it: the same number of
  * centers, each bit-identical. */
class GraftKMeansSpec extends graft.SparkSpec {
  import spark.implicits._

  /** a29's training sample: rows in the hash order of vec_id, one
    * partition (a TakeOrderedAndProject output). */
  private def sample(dir: String): DataFrame =
    graft.Tables.embeddings(spark, dir).select("vec_id", "embedding")
      .withColumn("features", array_to_vector(col("embedding")))
      .orderBy(xxhash64(col("vec_id"))).limit(65536)

  private def points(df: DataFrame): Array[Vector] =
    df.select("features").collect().map(r => Vectors.fromML(r.getAs[MLVector](0)))

  /** `pts` as a features frame in one partition, in the given order. */
  private def frame(pts: Seq[Vector]): DataFrame =
    pts.map(v => Tuple1(v.asML)).toDF("features").coalesce(1)

  private def mlCenters(df: DataFrame, k: Int, seed: Long,
      solver: String = "auto"): Array[MLVector] =
    new MLKMeans().setK(k).setSeed(seed).setMaxIter(10).setFeaturesCol("features")
      .setSolver(solver).fit(df).clusterCenters

  private def fit(pts: Array[Vector], k: Int, seed: Long): KMeansModel =
    GraftKMeans.fit(pts, k, maxIter = 10, initSteps = 2, seed = seed, tol = 1e-4)

  private def assertSame(expected: Array[MLVector], got: KMeansModel, what: String): Unit = {
    assert(got.clusterCenters.length == expected.length, s"$what: number of centers")
    expected.zip(got.clusterCenters).zipWithIndex.foreach { case ((e, g), i) =>
      assert(java.util.Arrays.equals(e.toArray, g.toArray), s"$what: center $i")
    }
  }

  test("fit equals the ML fit of a29's sample: sf0.001/sf0.01 × seeds 42/1/7 × k 8/16/32") {
    for (dir <- Seq(sfDir, "/root/testdata/sf0.01")) {
      val df = sample(dir)
      val pts = points(df)
      assert(df.rdd.getNumPartitions == 1)
      for (seed <- Seq(42L, 1L, 7L); k <- Seq(8, 16, 32))
        assertSame(mlCenters(df, k, seed), fit(pts, k, seed), s"$dir seed $seed k $k")
    }
  }

  test("fit equals the ML fit on full-precision doubles, whose sums depend on their order") {
    // On a29's float32 embeddings, summing in another order gave the
    // same centers, so those cases cannot show the order; the sums of
    // these points depend on it (asserted below)
    val rnd = new scala.util.Random(17)
    val means = Array.fill(6)(Array.fill(12)(rnd.nextGaussian() * 4))
    val pts = Array.fill(3000) {
      val m = means(rnd.nextInt(means.length))
      Vectors.dense(m.map(_ + rnd.nextGaussian()))
    }
    def sum(xs: Iterator[Vector]) = xs.map(_(0)).foldLeft(0.0)(_ + _)
    assert(sum(pts.iterator) != sum(pts.reverseIterator), "the sums must be order-sensitive")
    val df = frame(pts.toSeq)
    for (seed <- Seq(42L, 7L); k <- Seq(8, 16))
      assertSame(mlCenters(df, k, seed), fit(pts, k, seed), s"doubles seed $seed k $k")
  }

  test("fit equals the ML fit on one point, and on fewer distinct points than k") {
    // On a single point the default solver's blocked Lloyd step fails
    // on Spark 4.1.2 (ArrayIndexOutOfBoundsException), so that case
    // compares with solver "row": the Lloyd loop GraftKMeans mirrors.
    val one = Seq(Vectors.dense(0.5, -1.0, 2.0))
    assertSame(mlCenters(frame(one), 16, 42L, "row"), fit(one.toArray, 16, 42L), "one point")
    // 5 points, k = 16: k-means|| keeps every distinct candidate
    val five = Seq(Vectors.dense(0.0, 0.0), Vectors.dense(1.0, 0.5),
      Vectors.dense(-2.0, 3.0), Vectors.dense(4.0, -1.0), Vectors.dense(0.25, 7.0))
    val model = fit(five.toArray, 16, 42L)
    assert(model.clusterCenters.length == 5)
    assertSame(mlCenters(frame(five), 16, 42L), model, "5 points, k 16")
  }

  test("fit equals the ML fit on duplicated points") {
    // three distinct points, ten copies each: distinct centers collapse
    val copies = (0 until 10).flatMap(_ => Seq(Vectors.dense(1.0, 2.0),
      Vectors.dense(-3.0, 0.5), Vectors.dense(4.0, 4.0)))
    val collapsed = fit(copies.toArray, 4, 7L)
    assert(collapsed.clusterCenters.length == 3)
    assertSame(mlCenters(frame(copies), 4, 7L), collapsed, "3 × 10 copies")
    // a29's sample with its first 200 rows repeated at the end
    val pts = points(sample(sfDir))
    val dup = pts ++ pts.take(200)
    for (seed <- Seq(42L, 1L))
      assertSame(mlCenters(frame(dup.toSeq), 16, seed), fit(dup, 16, seed), s"duplicated rows, seed $seed")
  }

  test("a cluster that empties during Lloyd keeps its center, as in Spark's Lloyd loop") {
    // The ML estimator takes no initial model, so this case runs the
    // Lloyd loop from fixed centers against mllib's KMeans.run with an
    // initial model: the loop ML's row solver runs. Iteration 1 gives
    // the clusters {1.9, 3.9, 3.9}, {4, 6}, {6.8, 7} and centers
    // 3.2333.., 5, 6.9; in iteration 2 their neighbours take 4 and 6,
    // so the middle cluster is empty and its center stays at 5.
    val data = Seq(1.9, 3.9, 3.9, 4.0, 6.0, 6.8, 7.0).map(x => Vectors.dense(x))
    val init = Array(1.9, 6.0, 7.0).map(x => Vectors.dense(x))
    val expected = new KMeans().setK(3).setMaxIterations(10).setEpsilon(1e-4)
      .setInitialModel(new KMeansModel(init))
      .run(spark.sparkContext.parallelize(data, 1))
    val got = GraftKMeans.lloyd(data.map(new VectorWithNorm(_)).toArray,
      init.map(new VectorWithNorm(_)), new EuclideanDistanceMeasure, 10, 1e-4)
    assertSame(expected.clusterCenters.map(_.asML), got, "emptied cluster")
    assert(got.clusterCenters(1) == Vectors.dense(5.0))
    assert(!data.exists(got.predict(_) == 1), "the middle cluster must be empty")
  }

  test("a NaN or infinite value is rejected") {
    for (bad <- Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)) {
      val pts = Array(Vectors.dense(1.0, 2.0), Vectors.dense(0.0, bad))
      val e = intercept[IllegalArgumentException](fit(pts, 2, 42L))
      assert(e.getMessage.contains("MUST NOT be NaN or Infinity"))
    }
  }
}
