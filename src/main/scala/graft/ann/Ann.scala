package graft.ann

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{Entry, Par, Tables}

/** Approximate-nearest-neighbor search over the `embeddings` table
  * (`embedding: array<float>`, 64-dim).
  *
  * a27 is the exact brute-force baseline; a28 is the
  * random-hyperplane LSH scale path. Cosine is computed with
  * higher-order functions (`zip_with` + `aggregate`) — codegen'd,
  * no UDF — and vector norms are projected once per vector before
  * any join.
  *
  * Scale design (100 TB corpus):
  * - Queries are broadcast; the corpus is never shuffled for the
  *   score computation.
  * - Top-k uses a typed bounded-buffer Aggregator: partial
  *   aggregation keeps ≤ k rows per (query, map task) before the
  *   exchange — the full query×corpus score set never crosses the
  *   network.
  * - LSH (a28) prunes the scored set itself: sign-bucket equi-join
  *   means each query only scores its bucket-mates.
  */
object Ann {

  private val K = 5
  private val NQ = 8 // vec_id < 8 are the query vectors

  private def withNorm(df: DataFrame): DataFrame =
    graft.functions.VectorExprs.withNorm(df)

  private def cosine: Column = graft.functions.VectorExprs.cosine(
    col("q_embedding"), col("embedding"), col("q_norm"), col("norm"))

  /** Bounded top-k buffer for the typed aggregator. Ordering:
    * higher (rounded) cosine first, then smaller neighbor id. */
  case class TopKBuf(items: Seq[(Double, Long)])

  private class TopKAgg(k: Int)
      extends org.apache.spark.sql.expressions.Aggregator[
        (Long, Long, Double), TopKBuf, TopKBuf] {
    private def prune(xs: Seq[(Double, Long)]): Seq[(Double, Long)] =
      xs.sortBy(t => (-t._1, t._2)).take(k)
    private def worseThanKth(b: TopKBuf, c: Double, id: Long): Boolean = {
      val (kc, kid) = b.items.last
      c < kc || (c == kc && id > kid)
    }
    override def zero: TopKBuf = TopKBuf(Nil)
    override def reduce(b: TopKBuf, r: (Long, Long, Double)): TopKBuf =
      // O(1) fast path: a full buffer rejects anything not beating
      // the kth element — the overwhelmingly common case on the hot
      // query×corpus stream — without re-sorting
      if (b.items.length >= k && worseThanKth(b, r._3, r._2)) b
      else TopKBuf(prune(b.items :+ ((r._3, r._2))))
    override def merge(a: TopKBuf, b: TopKBuf): TopKBuf =
      TopKBuf(prune(a.items ++ b.items))
    override def finish(b: TopKBuf): TopKBuf = TopKBuf(prune(b.items))
    override def bufferEncoder: org.apache.spark.sql.Encoder[TopKBuf] =
      org.apache.spark.sql.Encoders.product[TopKBuf]
    override def outputEncoder: org.apache.spark.sql.Encoder[TopKBuf] =
      org.apache.spark.sql.Encoders.product[TopKBuf]
  }

  /** The shared (query_id, neighbor_id, cosine) → ranked top-k tail
    * of a27/a30: bounded-buffer partial aggregation (≤ k rows per
    * query and map task cross the network), then rank expansion. One
    * definition so the exact baseline and the quantized path can
    * never diverge on tie-break or output contract. */
  private[graft] def rankedTopK(s: SparkSession,
      scored: org.apache.spark.sql.Dataset[(Long, Long, Double)],
      k: Int = K, scoreCol: String = "cosine"): DataFrame = {
    import s.implicits._
    scored.groupByKey(_._1)
      .agg(new TopKAgg(k).toColumn.name("topk"))
      .flatMap { case (q, buf) =>
        buf.items.zipWithIndex.map { case ((c, id), i) => (q, i + 1, id, c) }
      }
      .toDF("query_id", "rank", "neighbor_id", scoreCol)
      .orderBy("query_id", "rank")
  }

  /** a27: brute-force cosine top-k.
    * Exact baseline: score all query×corpus pairs, keep top-k per
    * query with a typed bounded-buffer Aggregator — partial
    * aggregation prunes to ≤ k rows per (query, map task) BEFORE
    * the exchange, so the full query×corpus score set never
    * crosses the network (a window-based rank would shuffle every
    * scored row first). */
  def a27AnnBrute(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val corpus = withNorm(Tables.embeddings(s, dir).select("vec_id", "embedding"))
    val queries = corpus.filter(col("vec_id") < NQ).select(
      col("vec_id").as("query_id"),
      col("embedding").as("q_embedding"),
      col("norm").as("q_norm"))
    val scored = corpus.join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(cosine, 4).as("cosine"))
      .as[(Long, Long, Double)]
    rankedTopK(s, scored)
  }

  /** Deterministic random hyperplanes (shared module): 8 planes ×
    * 64 dims inlined as literal arrays so the bucket computation is
    * a pure projection. The SAME decimal strings are emitted into
    * both the Spark and DuckDB dialects, so both parse to
    * bit-identical doubles. */
  private def planeDuck(i: Int): String =
    graft.functions.Hyperplanes.planeDuck(i)

  /** Sign-bucket id: bit i = (embedding · plane_i) > 0. */
  private def bucketExpr(embCol: String): Column =
    graft.functions.Hyperplanes.signBucketExpr(embCol, 8)

  /** a28: LSH-bucketed ANN — 8 random hyperplanes → 256 sign
    * buckets; each query scores only its bucket-mates, then exact
    * top-k within the candidate set. Approximate by construction
    * (recall < 1 vs a27); the spec measures bucket recall. */
  def a28AnnLsh(s: SparkSession, dir: String): DataFrame = {
    val corpus = withNorm(Tables.embeddings(s, dir).select("vec_id", "embedding"))
      .withColumn("bucket", bucketExpr("embedding"))
    val queries = corpus.filter(col("vec_id") < NQ).select(
      col("vec_id").as("query_id"),
      col("embedding").as("q_embedding"),
      col("norm").as("q_norm"),
      col("bucket").as("q_bucket"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    corpus.join(broadcast(queries),
        col("bucket") === col("q_bucket") && col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(cosine, 4).as("cosine"))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= K)
      .select("query_id", "rank", "neighbor_id", "cosine")
      .orderBy("query_id", "rank")
  }

  /** Shared DuckDB prelude: per-vector double norm + the 8-plane
    * sign bucket (same literal plane values as the Spark side). */
  private val duckCorpus: String = {
    val bucketTerms = (0 until 8).map { i =>
      s"""(CASE WHEN list_sum(list_transform(list_zip(${planeDuck(i)}, embedding),
         |   p -> p[1] * CAST(p[2] AS DOUBLE))) > 0 THEN ${1 << i} ELSE 0 END)""".stripMargin
    }.mkString(" + ")
    // norm > 0 mirrors VectorExprs.withNorm's degenerate-vector
    // policy — without it a zero/empty vector yields inf/NaN rows
    // on the oracle side only
    s"""SELECT * FROM (
       | SELECT vec_id, embedding,
       |  sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x))) AS norm,
       |  $bucketTerms AS bucket
       | FROM embeddings) WHERE norm > 0""".stripMargin
  }

  private val duckCosine: String =
    """ROUND(list_sum(list_transform(list_zip(q.embedding, c.embedding),
      |  p -> CAST(p[1] AS DOUBLE) * p[2])) / (q.norm * c.norm), 4)""".stripMargin

  val a27Sql: String =
    s"""WITH e AS ($duckCorpus)
       |SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, cosine FROM (
       | SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |  $duckCosine AS cosine,
       |  row_number() OVER (PARTITION BY q.vec_id
       |    ORDER BY $duckCosine DESC, c.vec_id) AS rank
       | FROM e q JOIN e c ON q.vec_id < $NQ AND c.vec_id <> q.vec_id)
       |WHERE rank <= $K ORDER BY query_id, rank""".stripMargin

  val a28Sql: String =
    s"""WITH e AS ($duckCorpus)
       |SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, cosine FROM (
       | SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |  $duckCosine AS cosine,
       |  row_number() OVER (PARTITION BY q.vec_id
       |    ORDER BY $duckCosine DESC, c.vec_id) AS rank
       | FROM e q JOIN e c ON q.vec_id < $NQ AND c.bucket = q.bucket
       |   AND c.vec_id <> q.vec_id)
       |WHERE rank <= $K ORDER BY query_id, rank""".stripMargin

  /** a29: IVF (inverted-file) ANN — a KMeans coarse quantizer
    * partitions the corpus into nlist cells; each query probes its
    * nprobe nearest cells and scores only those members. The
    * standard billion-scale ANN layout: the corpus is physically
    * clustered by cell (at 100 TB: partitioned parquet by cell id,
    * so a query reads nprobe/nlist of the data), centroids are tiny
    * driver-side state, and candidate scoring reuses the exact
    * cosine path. The quantizer is trained on every call (Spark's
    * k-means with seed 42, fitted on the driver); the model depends
    * only on vec_id values, not on partitioning. Recall vs a27 is
    * pinned by AnnSpec. */
  def a29AnnIvf(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.ml.functions.array_to_vector
    import org.apache.spark.ml.linalg.{Vector => MLVector}
    import org.apache.spark.mllib.clustering.GraftKMeans
    import org.apache.spark.mllib.linalg.Vectors
    val nlist = 16
    val corpus = withNorm(Tables.embeddings(s, dir).select("vec_id", "embedding"))
      .withColumn("features", array_to_vector(col("embedding")))
    // the quantizer trains on a bounded deterministic sample, never
    // the full corpus: a 16-centroid coarse quantizer needs thousands
    // of representative points, and a full KMeans fit at 100 TB would
    // be an iterative ML pass over everything. The hash-order top-k
    // (TakeOrderedAndProject: per-partition top-k, no full sort) is a
    // uniform pseudorandom pick that depends only on vec_id values —
    // NOT on partition layout or parallelism, unlike sample()+limit.
    val trainSample = corpus.orderBy(xxhash64(col("vec_id"))).limit(65536)
    // The fit runs on the driver over the collected sample (one job).
    // Spark's ML fit of this sample submits ~19 jobs, each ONE task
    // over the sample's single partition in this same hash order;
    // GraftKMeans does that arithmetic with Spark's own k-means code
    // in the same order with the same seeds, so the model is the same
    // bit for bit (GraftKMeansSpec) without a job per step. The limit
    // bounds what the driver holds: 65,536 × dim doubles, 32 MiB at
    // dim 64.
    val points = trainSample.select("features").collect()
      .map(r => Vectors.fromML(r.getAs[MLVector](0)))
    val model = GraftKMeans.fit(points, k = nlist, maxIter = 10,
      initSteps = 2, seed = 42L, tol = 1e-4)
    // the call ml.KMeansModel.transform makes for each row
    val cellOf = udf((v: MLVector) => model.predict(Vectors.fromML(v)))
    val assigned = corpus.select(col("vec_id"), col("embedding"), col("norm"),
      cellOf(col("features")).as("cell"))
    // route each query to its Nprobe nearest centroids (centroids are
    // driver-side model state — nlist × dim doubles, not data)
    val centroids = model.clusterCenters.map(_.toArray)
    def nearestCells(v: Array[Double]): Seq[Int] =
      centroids.zipWithIndex.map { case (c, i) =>
        var d = 0.0; var j = 0
        while (j < v.length) { val t = v(j) - c(j); d += t * t; j += 1 }
        (d, i)
      }.sortBy(_._1).take(Nprobe).map(_._2).toSeq
    import s.implicits._
    val queryRows = corpus.filter(col("vec_id") < NQ)
      .select(col("vec_id"), col("embedding"), col("norm"))
      .as[(Long, Array[Float], Double)].collect().sortBy(_._1)
    val queriesDf = queryRows.map { case (id, emb, norm) =>
      (id, emb, norm, nearestCells(emb.map(_.toDouble)))
    }.toSeq.toDF("query_id", "q_embedding", "q_norm", "probe_cells")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    assigned.join(broadcast(queriesDf),
        array_contains(col("probe_cells"), col("cell")) &&
          col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(cosine, 4).as("cosine"))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= K)
      .select("query_id", "rank", "neighbor_id", "cosine")
      .orderBy("query_id", "rank")
  }

  /** a29b: oracle-checked IVF — identical routing/scoring semantics
    * to a29, but the 16 coarse centroids are FIXED LITERAL arrays
    * (the Hyperplanes idiom: the same decimal strings are emitted
    * into both dialects, so both parse to bit-identical doubles)
    * instead of a trained KMeans model. Cell assignment (argmin of
    * exact squared-L2 to each centroid), nprobe-cell query routing,
    * and candidate scoring are all DuckDB-expressible, so the WHOLE
    * IVF pipeline is hash-checked cross-engine — which a trained
    * quantizer can never be (KMeans isn't replayable in SQL).
    *
    * Seeded-Gaussian literals make this a random-Voronoi coarse
    * quantizer: training moves centroids (recall), never the
    * routing/scoring SEMANTICS this entry pins. At 100 TB the
    * centroids are exactly this shape of executor-side constant —
    * nlist × dim doubles from a29's bounded-sample fit, shipped as
    * literals/broadcast — so a29b is the scale path's semantics pin,
    * as d23b pins d23. */
  private[graft] val centroidStrs: Seq[Seq[String]] = {
    val rng = new scala.util.Random(1234)
    Seq.fill(16, 64)(rng.nextGaussian())
      .map(_.map(v => String.format(java.util.Locale.ROOT, "%.17g", Double.box(v))))
  }

  /** Per-vector squared-L2 distances to the 16 literal centroids, as
    * array<double> — subtract/square/sequential-sum in the same
    * order both engines evaluate, so the argmin is bit-reproducible. */
  private[graft] def centroidDistsExpr(embCol: String): Column = {
    val cents = centroidStrs
      .map(_.map(_ + "D").mkString("array(", ",", ")"))
      .mkString("array(", ",", ")")
    expr(
      s"""transform($cents, c ->
         |  aggregate(zip_with(c, $embCol,
         |      (p, x) -> (p - CAST(x AS DOUBLE)) * (p - CAST(x AS DOUBLE))),
         |    0D, (s, v) -> s + v))""".stripMargin)
  }

  /** The cells an IVF query probes (a29, a29b, a33 and the persisted
    * index family). */
  private val Nprobe = 4

  /** A vector's cell: the argmin of its `dl` column
    * ([[centroidDistsExpr]]) via first-position-of-min, so ties
    * (bit-equal distances) break to the lowest cell id in BOTH
    * engines. */
  private[graft] def nearestCellExpr: Column =
    expr("CAST(array_position(dl, array_min(dl)) - 1 AS INT)")

  /** A query's [[Nprobe]] nearest cells over `dl`: sort (distance,
    * cell) structs — lexicographic struct order = distance asc, ties
    * by cell id — and take the first Nprobe indices. The query's own
    * cell is by construction the first. */
  private def probeCellsExpr: Column =
    expr(s"""transform(slice(array_sort(
            |  zip_with(dl, sequence(0, 15), (d, i) -> struct(d, i))), 1, $Nprobe),
            |  s -> s.i)""".stripMargin)

  def a29bAnnIvfOracle(s: SparkSession, dir: String): DataFrame = {
    val corpus = ivfRoutedCorpus(s, dir)
    ivfScore(corpus, ivfProbeQueries(corpus))
  }

  /** DuckDB oracle for a29b: identical literal centroids, identical
    * squared-L2 / argmin / nprobe routing (row_number over
    * (distance, cell) replays the struct sort), identical cosine
    * scoring and tie-break. */
  val a29bSql: String = ivfRecomputeSql("TRUE")

  /** The a29b recompute, parameterized by a corpus predicate — ONE
    * SQL body for a29b/a36/a37 (predicate TRUE) and a38 (the delete
    * slice removed), so "what a probe should return" has a single
    * definition across the whole persisted-index family. The
    * predicate filters the corpus BEFORE routing; cell assignment
    * is per-vector against literal centroids, so filtering commutes
    * with it, and query membership (vec_id < NQ) is evaluated on
    * the filtered corpus — a deleted query vector stops querying. */
  /** The corpus-routing prefix of [[ivfRecomputeSql]] (norms, literal-
    * centroid distance lists, argmin cell), exposed so a47's curve
    * oracle replays the SAME cell assignment the probe family pins. */
  private def ivfCellsCte(where: String): String = {
    val centsDuck = centroidStrs.map(_.mkString("[", ",", "]")).mkString("[", ",", "]")
    s"""e AS (
       | SELECT * FROM (
       |  SELECT vec_id, embedding,
       |   sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x))) AS norm,
       |   list_transform($centsDuck,
       |     c -> list_sum(list_transform(list_zip(c, embedding),
       |            p -> (p[1] - CAST(p[2] AS DOUBLE)) * (p[1] - CAST(p[2] AS DOUBLE))))) AS dl
       |  FROM embeddings WHERE $where) WHERE norm > 0),
       |cells AS (
       | SELECT vec_id, embedding, norm, dl,
       |  CAST(list_indexof(dl, list_min(dl)) - 1 AS INT) AS cell FROM e)""".stripMargin
  }

  private def ivfRecomputeSql(where: String): String = {
    s"""WITH ${ivfCellsCte(where)},
       |qprobe AS (
       | SELECT vec_id, list(cell ORDER BY rnk) AS probe_cells FROM (
       |  SELECT vec_id, CAST(i - 1 AS INT) AS cell,
       |   row_number() OVER (PARTITION BY vec_id ORDER BY dl[i], i) AS rnk
       |  FROM (SELECT vec_id, dl, unnest(generate_series(1, 16)) AS i
       |        FROM cells WHERE vec_id < $NQ))
       | WHERE rnk <= 4 GROUP BY vec_id)
       |SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, cosine FROM (
       | SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |  $duckCosine AS cosine,
       |  row_number() OVER (PARTITION BY q.vec_id
       |    ORDER BY $duckCosine DESC, c.vec_id) AS rank
       | FROM (SELECT e2.vec_id, e2.embedding, e2.norm, p.probe_cells
       |       FROM cells e2 JOIN qprobe p ON e2.vec_id = p.vec_id) q
       |  JOIN cells c ON list_contains(q.probe_cells, c.cell)
       |   AND c.vec_id <> q.vec_id)
       |WHERE rank <= $K ORDER BY query_id, rank""".stripMargin
  }

  /** a30: scalar-quantized ANN (SQ8, the FAISS ScalarQuantizer
    * layout) — the COMPRESSED-domain scale path that complements
    * a28's candidate pruning and a29's cell routing: each float is
    * quantized to an 8-bit code against per-dimension corpus
    * [min,max] bounds, shrinking a 64-float vector to 64 bytes, and
    * queries score asymmetrically (full-precision query × dequantized
    * corpus — ADC). At 100 TB the corpus of codes is 4× smaller than
    * the floats, which is the difference between an in-memory scan
    * and a disk-bound one; the per-dimension bounds are 64 pairs of
    * doubles — fixed-size mergeable aggregate state, broadcast back
    * as one row.
    *
    * Everything is exact-deterministic (floor of IEEE-rounded
    * divisions, sequential array-order dot products), so unlike the
    * trained a29 quantizer this one is fully DuckDB-oracle-checked:
    * quantize, dequantize, score, and rank replay bit-identically
    * cross-engine. */
  /** The quantized (SQ8/ADC) scored stream shared by a30 and a31:
    * (query_id, neighbor_id, rounded quantized cosine). One
    * definition so the standalone compressed-domain entry and the
    * rerank pipeline's coarse stage can never diverge. */
  /** withinLabel=true (a35) restricts the compressed scan to the
    * query's label slice — the same pre-filter equi-key a34 uses,
    * pushed down into the COARSE stage so the compressed-domain work
    * is label-pruned too. Quantization stats stay GLOBAL (one stats
    * literal for the whole corpus, not per label: at 100 TB the
    * per-dim bounds are a fixed 2×64-double broadcast either way,
    * and global bounds mean one codebook to ship, not one per
    * filter value). */
  private def sqScored(s: SparkSession, dir: String,
      withinLabel: Boolean = false)
      : org.apache.spark.sql.Dataset[(Long, Long, Double)] = {
    import s.implicits._
    val base = Tables.embeddings(s, dir)
    val corpus = base.select("vec_id", "embedding")
    val stats = corpus
      .select(posexplode(col("embedding")).as(Seq("i", "x")))
      .groupBy("i").agg(min(col("x").cast("double")).as("mn"),
        max(col("x").cast("double")).as("mx"))
      .agg(
        expr("transform(array_sort(collect_list(struct(i, mn))), s -> s.mn)").as("mns"),
        expr("transform(array_sort(collect_list(struct(i, mx))), s -> s.mx)").as("mxs"))
    val dqIn = if (withinLabel) base.select("vec_id", "embedding", "label")
               else corpus
    val dqCols = Seq("vec_id", "dqe", "dq_norm") ++
      (if (withinLabel) Seq("label") else Nil)
    val dq = dqIn.crossJoin(broadcast(stats))
      .withColumn("dqe", expr(
        """transform(embedding, (x, i) ->
          |  CASE WHEN mxs[i] > mns[i]
          |  THEN mns[i] + floor((cast(x as double) - mns[i]) * 255.0 / (mxs[i] - mns[i]))
          |       * (mxs[i] - mns[i]) / 255.0
          |  ELSE mns[i] END)""".stripMargin))
      .withColumn("dq_norm", expr("sqrt(aggregate(dqe, 0.0d, (a, v) -> a + v * v))"))
      .filter(col("dq_norm") > 0)
      .select(dqCols.map(col): _*)
    val qIn = if (withinLabel)
      withNorm(base.select("vec_id", "embedding", "label"))
        .withColumnRenamed("label", "q_label")
    else withNorm(corpus)
    val queries = qIn.filter(col("vec_id") < NQ).select(
      Seq(col("vec_id").as("query_id"),
        col("embedding").as("q_embedding"),
        col("norm").as("q_norm")) ++
        (if (withinLabel) Seq(col("q_label")) else Nil): _*)
    val cond =
      if (withinLabel) col("label") === col("q_label") &&
        col("vec_id") =!= col("query_id")
      else col("vec_id") =!= col("query_id")
    val adc = expr(
      "aggregate(zip_with(q_embedding, dqe, (a, b) -> cast(a as double) * b), 0.0d, (acc, v) -> acc + v)")
    dq.join(broadcast(queries), cond)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(adc / (col("q_norm") * col("dq_norm")), 4).as("cosine"))
      .as[(Long, Long, Double)]
  }

  def a30AnnSq(s: SparkSession, dir: String): DataFrame =
    rankedTopK(s, sqScored(s, dir))

  /** a31 coarse-candidate width: quantized top-32 feed the exact
    * re-rank (the 100 TB dial: bigger C = more recall, more exact
    * scoring). */
  private[ann] val RerankC = 32

  /** a31: two-stage retrieve-then-rerank — THE production ANN shape.
    * Stage 1 scans the 4×-compressed SQ8 corpus (a30's scored
    * stream) and keeps the quantized top-C per query via the
    * bounded-buffer aggregator; stage 2 rescores ONLY those N×C
    * candidates at full precision and re-ranks to top-k. The corpus
    * is scanned once in compressed form and never shuffled: the
    * candidate list (queries × C rows) broadcasts back onto the
    * corpus as an equi-join for the exact vectors.
    *
    * Fully deterministic (quantized floor arithmetic + exact
    * sequential dot products + rounded tie-breaks), so the WHOLE
    * two-stage pipeline is DuckDB-oracle-checked — coarse_rank in
    * the output pins stage 1's candidate order, rank pins stage 2's
    * final order. */
  def a31AnnRerank(s: SparkSession, dir: String): DataFrame = {
    val coarse = rankedTopK(s, sqScored(s, dir), RerankC)
      .select(col("query_id"), col("neighbor_id"),
        col("rank").as("coarse_rank"))
    val corpus = withNorm(Tables.embeddings(s, dir).select("vec_id", "embedding"))
    val queries = corpus.filter(col("vec_id") < NQ).select(
      col("vec_id").as("query_id"),
      col("embedding").as("q_embedding"),
      col("norm").as("q_norm"))
    val exact = broadcast(coarse)
      .join(corpus.withColumnRenamed("vec_id", "neighbor_id"), Seq("neighbor_id"))
      .join(broadcast(queries), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"), col("coarse_rank"),
        round(cosine, 4).as("cosine"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id"))
    exact.withColumn("rank", row_number().over(w)).filter(col("rank") <= K)
      .select("query_id", "rank", "neighbor_id", "cosine", "coarse_rank")
      .orderBy("query_id", "rank")
  }

  /** DuckDB oracle for a31: a30's quantized CTE chain kept to top-C,
    * then the exact-cosine re-rank with identical rounding and
    * tie-breaks. */
  val a31Sql: String = {
    val dequant =
      """list_transform(list_zip(embedding, (SELECT mns FROM stats), (SELECT mxs FROM stats)),
        | p -> CASE WHEN p[3] > p[2]
        |      THEN p[2] + floor((CAST(p[1] AS DOUBLE) - p[2]) * 255.0 / (p[3] - p[2]))
        |           * (p[3] - p[2]) / 255.0
        |      ELSE p[2] END)""".stripMargin
    val adcScore =
      """ROUND(list_sum(list_transform(list_zip(q.embedding, c.dqe),
        |  p -> CAST(p[1] AS DOUBLE) * p[2])) / (q.norm * c.dq_norm), 4)""".stripMargin
    val exactScore =
      """ROUND(list_sum(list_transform(list_zip(q.embedding, n.embedding),
        |  p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) / (q.norm * n.norm), 4)""".stripMargin
    s"""WITH dims AS (
       | SELECT i, CAST(embedding[i] AS DOUBLE) AS x
       | FROM (SELECT embedding, unnest(generate_series(1, len(embedding))) AS i
       |       FROM embeddings)),
       |stats AS (
       | SELECT list(mn ORDER BY i) AS mns, list(mx ORDER BY i) AS mxs
       | FROM (SELECT i, min(x) AS mn, max(x) AS mx FROM dims GROUP BY i)),
       |dq AS (
       | SELECT vec_id, dqe,
       |  sqrt(list_sum(list_transform(dqe, v -> v * v))) AS dq_norm
       | FROM (SELECT vec_id, $dequant AS dqe FROM embeddings)),
       |alln AS (
       | SELECT vec_id, embedding,
       |  sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x))) AS norm
       | FROM embeddings),
       |q AS (SELECT * FROM alln WHERE vec_id < $NQ),
       |coarse AS (
       | SELECT query_id, neighbor_id, coarse_rank FROM (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |   row_number() OVER (PARTITION BY q.vec_id
       |     ORDER BY $adcScore DESC, c.vec_id) AS coarse_rank
       |  FROM q JOIN dq c ON c.vec_id <> q.vec_id AND c.dq_norm > 0 AND q.norm > 0)
       | WHERE coarse_rank <= $RerankC)
       |SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, cosine,
       | CAST(coarse_rank AS INT) AS coarse_rank FROM (
       | SELECT co.query_id, co.neighbor_id, co.coarse_rank,
       |  $exactScore AS cosine,
       |  row_number() OVER (PARTITION BY co.query_id
       |    ORDER BY $exactScore DESC, co.neighbor_id) AS rank
       | FROM coarse co
       |  JOIN alln n ON n.vec_id = co.neighbor_id AND n.norm > 0
       |  JOIN q ON q.vec_id = co.query_id)
       |WHERE rank <= $K ORDER BY query_id, rank""".stripMargin
  }

  /** DuckDB oracle for a30: same per-dimension bounds, same
    * quantize/dequantize arithmetic (identical operation order, so
    * identical IEEE results), same asymmetric score and tie-break. */
  val a30Sql: String = {
    val dequant =
      """list_transform(list_zip(embedding, (SELECT mns FROM stats), (SELECT mxs FROM stats)),
        | p -> CASE WHEN p[3] > p[2]
        |      THEN p[2] + floor((CAST(p[1] AS DOUBLE) - p[2]) * 255.0 / (p[3] - p[2]))
        |           * (p[3] - p[2]) / 255.0
        |      ELSE p[2] END)""".stripMargin
    val adcScore =
      """ROUND(list_sum(list_transform(list_zip(q.embedding, c.dqe),
        |  p -> CAST(p[1] AS DOUBLE) * p[2])) / (q.norm * c.dq_norm), 4)""".stripMargin
    s"""WITH dims AS (
       | SELECT i, CAST(embedding[i] AS DOUBLE) AS x
       | FROM (SELECT embedding, unnest(generate_series(1, len(embedding))) AS i
       |       FROM embeddings)),
       |stats AS (
       | SELECT list(mn ORDER BY i) AS mns, list(mx ORDER BY i) AS mxs
       | FROM (SELECT i, min(x) AS mn, max(x) AS mx FROM dims GROUP BY i)),
       |dq AS (
       | SELECT vec_id, dqe,
       |  sqrt(list_sum(list_transform(dqe, v -> v * v))) AS dq_norm
       | FROM (SELECT vec_id, $dequant AS dqe FROM embeddings)),
       |q AS (
       | SELECT vec_id, embedding,
       |  sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x))) AS norm
       | FROM embeddings WHERE vec_id < $NQ)
       |SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, cosine FROM (
       | SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |  $adcScore AS cosine,
       |  row_number() OVER (PARTITION BY q.vec_id
       |    ORDER BY $adcScore DESC, c.vec_id) AS rank
       | FROM q JOIN dq c ON c.vec_id <> q.vec_id AND c.dq_norm > 0 AND q.norm > 0)
       |WHERE rank <= $K ORDER BY query_id, rank""".stripMargin
  }

  /** a32 geometry: 64 dims split into M=8 subspaces × 8 dims, one
    * 16-entry codebook per subspace → 8 4-bit-addressable codes per
    * vector (stored as 8 small ints here; 8 BYTES against 256 bytes
    * of floats at production layout — 32× compression, vs SQ8's 4×).
    * Codebooks are FIXED seeded-Gaussian literals, the a29b stance:
    * k-means-trained codebooks move RECALL, never the
    * encode/LUT/ADC SEMANTICS this entry pins — and literals make
    * the whole pipeline DuckDB-replayable where a trained quantizer
    * never is. Per-entry squared norms are precomputed in Scala from
    * the SAME parsed doubles both engines read (literals round-trip
    * via %.17g), so the reconstruction norm is one lookup per
    * subspace in both dialects. */
  private val pqM = 8
  private val pqD = 8
  private val pqKs = 16

  /** One PQ geometry: m subspaces × d dims, 16-entry literal
    * codebooks (%.17g strings, identical in both dialects) plus the
    * precomputed per-entry squared norms. Parameterized so a55 can
    * sweep the compression grid through the SAME encode/LUT/ADC
    * machinery a32 ships. */
  private[graft] case class PqCfg(m: Int, d: Int,
      cbs: Seq[Seq[Seq[String]]], nsq: Seq[Seq[String]])

  private[graft] def pqCfgOf(m: Int, d: Int, seed: Long): PqCfg = {
    def fmt(v: Double) =
      String.format(java.util.Locale.ROOT, "%.17g", Double.box(v))
    val rng = new scala.util.Random(seed)
    val cbs = Seq.fill(m, pqKs, d)(rng.nextGaussian())
      .map(_.map(_.map(fmt)))
    // squared L2 norm of each entry, computed once from the SAME
    // parsed literal doubles both engines read (sequential sum)
    val nsq = cbs.map(_.map { entry =>
      fmt(entry.map(_.toDouble).foldLeft(0.0)((s, v) => s + v * v))
    })
    PqCfg(m, d, cbs, nsq)
  }

  /** a32's shipped geometry — the SAME literal values as before the
    * a55 parameterization (identical seed, identical fill order). */
  private[graft] val a32Cfg: PqCfg = pqCfgOf(pqM, pqD, 97531)

  /** codebooks(m)(j)(d), a32's geometry (a33 shares them). */
  private[graft] val pqCodebookStrs: Seq[Seq[Seq[String]]] = a32Cfg.cbs

  private def pqCbSparkOf(cfg: PqCfg, m: Int): String =
    cfg.cbs(m).map(_.map(_ + "D").mkString("array(", ",", ")"))
      .mkString("array(", ",", ")")
  private def pqNormSqSparkOf(cfg: PqCfg, m: Int): String =
    cfg.nsq(m).map(_ + "D").mkString("array(", ",", ")")

  private def pqCbSpark(m: Int): String = pqCbSparkOf(a32Cfg, m)

  /** a32: product-quantized ANN (PQ/ADC — Jégou, Douze & Schmid,
    * "Product Quantization for Nearest Neighbor Search", TPAMI 2011;
    * the FAISS IndexPQ layout) —
    * completes the quantization family: a30 compresses 4× and keeps
    * per-dim resolution; PQ compresses 32× by coding each 8-dim
    * SUBVECTOR to its nearest codebook entry. Encoding is a pure
    * scan-stage projection (8 argmins over 16 literal centroids);
    * scoring is the classic ADC scan — each query precomputes an
    * 8×16 lookup table of subspace dot products ONCE, then every
    * corpus vector costs 8 table lookups + an add chain, no float
    * math against the original vector at all. The corpus is scanned
    * in code form and never shuffled (bounded-buffer top-k, a27's
    * shape); at 100 TB the codes table is what lives in memory.
    *
    * Everything — argmin encode (first-min tie-break, a29b's), LUT,
    * reconstruction norm, rounded cosine, rank tie-break — is
    * deterministic and replayed by the DuckDB oracle with unrolled
    * per-subspace SQL sharing the same literals. */
  /** The PQ ENCODE stage for one geometry, factored out of
    * [[pqScored]] so a55's sweep can run it ONCE per grid point and
    * feed both consumers (the ADC scoring join and the distortion
    * rollup) from the same frame (guide §5: the encode is the heavy
    * per-row work — 2·m 16-entry distance lists per vector — and it
    * was executed twice per point, once under pqScored and once under
    * pqDistortion). Emits every corpus vector (no recon_norm filter —
    * the distortion sum is over ALL vectors) with its codes,
    * reconstruction norm, and the per-vector INTEGERIZED squared
    * reconstruction error `err_e2` (round(Σ_m min(dl_m) · 100) as
    * BIGINT — the exact expression pqDistortion used, moved here so
    * there is still ONE definition). Consumers that don't reference
    * err_e2 (a32's scoring path) get it pruned by Catalyst, so the
    * shared stage costs them nothing. */
  private[graft] def pqEncoded(s: SparkSession, dir: String,
      cfg: PqCfg): DataFrame = {
    val corpus = Tables.embeddings(s, dir).select("vec_id", "embedding")
    // encode: per subspace, squared-L2 to the 16 entries, argmin.
    // Intermediate dl_m columns so each distance list is computed
    // once (not once for min + once for position).
    val enc0 = (0 until cfg.m).foldLeft(corpus) { (df, m) =>
      df.withColumn(s"dl_$m", expr(
        s"""transform(${pqCbSparkOf(cfg, m)}, c ->
           |  aggregate(zip_with(c, slice(embedding, ${m * cfg.d + 1}, ${cfg.d}),
           |      (p, x) -> (p - CAST(x AS DOUBLE)) * (p - CAST(x AS DOUBLE))),
           |    0D, (s, v) -> s + v))""".stripMargin))
        .withColumn(s"code_$m", expr(
          s"CAST(array_position(dl_$m, array_min(dl_$m)) - 1 AS INT)"))
    }
    val reconNorm = sqrt((0 until cfg.m).map(m =>
      expr(s"element_at(${pqNormSqSparkOf(cfg, m)}, code_$m + 1)")).reduce(_ + _))
    val err = (0 until cfg.m).map(m => expr(s"array_min(dl_$m)")).reduce(_ + _)
    enc0.select(Seq(col("vec_id")) ++
      (0 until cfg.m).map(m => col(s"code_$m")) ++ Seq(
        reconNorm.as("recon_norm"),
        round(err * 100, 0).cast("bigint").as("err_e2")): _*)
  }

  /** The LUT/ADC scoring tail of [[pqScored]], taking a pre-built
    * encode frame (so a55 can reuse one persisted encode per point). */
  private[graft] def pqScoredFrom(s: SparkSession, dir: String,
      encAll: DataFrame, cfg: PqCfg)
      : org.apache.spark.sql.Dataset[(Long, Long, Double)] = {
    import s.implicits._
    val corpus = Tables.embeddings(s, dir).select("vec_id", "embedding")
    val enc = encAll.select(Seq(col("vec_id")) ++
      (0 until cfg.m).map(m => col(s"code_$m")) :+ col("recon_norm"): _*)
      .filter(col("recon_norm") > 0)
    // queries: full-precision LUT per subspace (16 dot products) —
    // computed once per query row, broadcast with it
    val queries0 = withNorm(corpus).filter(col("vec_id") < NQ)
    val queries = (0 until cfg.m).foldLeft(queries0) { (df, m) =>
      df.withColumn(s"lut_$m", expr(
        s"""transform(${pqCbSparkOf(cfg, m)}, c ->
           |  aggregate(zip_with(c, slice(embedding, ${m * cfg.d + 1}, ${cfg.d}),
           |      (p, x) -> p * CAST(x AS DOUBLE)),
           |    0D, (s, v) -> s + v))""".stripMargin))
    }.filter(col("norm") > 0)
      .select(Seq(col("vec_id").as("query_id"), col("norm").as("q_norm")) ++
        (0 until cfg.m).map(m => col(s"lut_$m")): _*)
    val adc = (0 until cfg.m).map(m =>
      expr(s"element_at(lut_$m, code_$m + 1)")).reduce(_ + _)
    enc.join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(adc / (col("q_norm") * col("recon_norm")), 4).as("cosine"))
      .as[(Long, Long, Double)]
  }

  /** The full PQ encode/LUT/ADC scoring pipeline for one geometry —
    * a32's body, parameterized for the a55 sweep. Returns the scored
    * (query_id, neighbor_id, cosine) stream. */
  private[graft] def pqScored(s: SparkSession, dir: String, cfg: PqCfg)
      : org.apache.spark.sql.Dataset[(Long, Long, Double)] =
    pqScoredFrom(s, dir, pqEncoded(s, dir, cfg), cfg)

  def a32AnnPq(s: SparkSession, dir: String): DataFrame =
    rankedTopK(s, pqScored(s, dir, a32Cfg))

  /** DuckDB oracle for a32: identical codebook/normsq literals,
    * per-subspace SQL unrolled from the same Scala loop — encode
    * argmin (list_indexof of list_min = first-min tie-break), LUT,
    * lookup-sum ADC score, rounded tie-broken rank. */
  /** The ranked PQ pipeline in DuckDB for one geometry — a32's
    * oracle body, parameterized for the a55 sweep (identical string
    * for a32's own config). */
  /** The per-subspace distance-list projection in DuckDB — shared by
    * the ranked pipeline and a55's distortion scalar. */
  private def pqDlsSqlFor(cfg: PqCfg): String = {
    def cbDuck(m: Int) =
      cfg.cbs(m).map(_.mkString("[", ",", "]")).mkString("[", ",", "]")
    val dlCols = (0 until cfg.m).map { m =>
      s"""list_transform(${cbDuck(m)}, c ->
         | list_sum(list_transform(list_zip(c, embedding[${m * cfg.d + 1}:${(m + 1) * cfg.d}]),
         |  p -> (p[1] - CAST(p[2] AS DOUBLE)) * (p[1] - CAST(p[2] AS DOUBLE))))) AS dl_$m""".stripMargin
    }.mkString(",\n  ")
    s"SELECT vec_id,\n  $dlCols\n FROM embeddings"
  }

  private[graft] def pqSqlFor(cfg: PqCfg): String = {
    def cbDuck(m: Int) =
      cfg.cbs(m).map(_.mkString("[", ",", "]")).mkString("[", ",", "]")
    def nsqDuck(m: Int) = cfg.nsq(m).mkString("[", ",", "]")
    val codeCols = (0 until cfg.m).map(m =>
      s"CAST(list_indexof(dl_$m, list_min(dl_$m)) - 1 AS INT) AS code_$m").mkString(",\n  ")
    val reconNorm = "sqrt(" + (0 until cfg.m).map(m =>
      s"${nsqDuck(m)}[code_$m + 1]").mkString(" + ") + ")"
    val lutCols = (0 until cfg.m).map { m =>
      s"""list_transform(${cbDuck(m)}, c ->
         | list_sum(list_transform(list_zip(c, embedding[${m * cfg.d + 1}:${(m + 1) * cfg.d}]),
         |  p -> p[1] * CAST(p[2] AS DOUBLE)))) AS lut_$m""".stripMargin
    }.mkString(",\n  ")
    val adc = (0 until cfg.m).map(m => s"q.lut_$m[c.code_$m + 1]").mkString(" + ")
    val score = s"ROUND(($adc) / (q.q_norm * c.recon_norm), 4)"
    s"""WITH dls AS (
       | ${pqDlsSqlFor(cfg)}),
       |enc0 AS (
       | SELECT vec_id,
       |  $codeCols
       | FROM dls),
       |enc AS (
       | SELECT *, $reconNorm AS recon_norm FROM enc0),
       |q AS (
       | SELECT vec_id,
       |  sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x))) AS q_norm,
       |  $lutCols
       | FROM embeddings WHERE vec_id < $NQ)
       |SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, cosine FROM (
       | SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |  $score AS cosine,
       |  row_number() OVER (PARTITION BY q.vec_id
       |    ORDER BY $score DESC, c.vec_id) AS rank
       | FROM q JOIN enc c ON c.vec_id <> q.vec_id
       |  AND c.recon_norm > 0 AND q.q_norm > 0)
       |WHERE rank <= $K ORDER BY query_id, rank""".stripMargin
  }

  val a32Sql: String = pqSqlFor(a32Cfg)

  /** a33: IVF+PQ ANN (the FAISS IndexIVFPQ layout — Jégou et al.
    * 2011 §IV; THE production billion-scale shape) — composes the two
    * pinned halves: a29b's 16 literal coarse centroids route vectors
    * to cells, and a32's literal codebooks PQ-encode the RESIDUAL
    * x − centroid(cell) (residual coding is why IVFPQ beats flat PQ:
    * residuals are small, so the same codebook budget spends its
    * resolution near zero). Scoring is residual-domain ADC over
    * squared L2: each (query, probed cell) precomputes an 8×16 table
    * of ‖(q − c)ₘ − cbₘ[j]‖² ONCE, then every corpus vector in the
    * cell costs 8 lookups + an add chain — no float math against the
    * original vector, and only nprobe/nlist of the corpus is touched
    * at all.
    *
    * At 100 TB: the codes table (cell, 8 nibbles) is what lives in
    * memory — 32× smaller than the floats; queries × nprobe LUT rows
    * broadcast (NQ × 4 rows of 8×16 doubles); the corpus is scanned
    * cell-pruned in code form and never shuffled (bounded-buffer
    * top-k). Every stage — argmin cell, residual, argmin encode,
    * LUT, lookup-sum, rounded rank — is deterministic literal math,
    * so the WHOLE composed pipeline is DuckDB-oracle-checked, which
    * neither trained half of a real FAISS index can be. */
  private def centsSparkLit: String =
    centroidStrs.map(_.map(_ + "D").mkString("array(", ",", ")"))
      .mkString("array(", ",", ")")

  def a33AnnIvfPq(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // spread (the a42Base rationale): the encode chain below is heavy
    // per-row array math (16-centroid routing + 8 codebook argmins over
    // the residual) that inherits the SCAN's partitioning, and the gate
    // corpus is one parquet split — the whole corpus encode ran in one
    // task.
    val base = Tables.embeddings(s, dir).select("vec_id", "embedding")
      .transform(Par.spread(_, col("vec_id")))
      .withColumn("dl", centroidDistsExpr("embedding"))
      .withColumn("cell", nearestCellExpr)
    // corpus: residual vs the assigned cell's centroid, PQ-encoded
    // with a32's codebooks (one global residual codebook set — the
    // FAISS IVFPQ default). Encode is a pure scan-stage projection.
    val resid = base.withColumn("resid", expr(
      s"zip_with(embedding, element_at($centsSparkLit, cell + 1), (x, p) -> CAST(x AS DOUBLE) - p)"))
    val enc0 = (0 until pqM).foldLeft(resid) { (df, m) =>
      df.withColumn(s"dl_$m", expr(
        s"""transform(${pqCbSpark(m)}, c ->
           |  aggregate(zip_with(c, slice(resid, ${m * pqD + 1}, $pqD),
           |      (p, x) -> (p - x) * (p - x)),
           |    0D, (s, v) -> s + v))""".stripMargin))
        .withColumn(s"code_$m", expr(
          s"CAST(array_position(dl_$m, array_min(dl_$m)) - 1 AS INT)"))
    }
    val enc = enc0.select(Seq(col("vec_id"), col("cell")) ++
      (0 until pqM).map(m => col(s"code_$m")): _*)
    // queries: a29b's probe cells, exploded to one row per probed
    // cell, each with the residual-domain squared-L2 LUT for THAT
    // cell's centroid
    val qx = base.filter(col("vec_id") < NQ)
      .select(col("vec_id").as("query_id"), col("embedding"),
        explode(probeCellsExpr).as("pcell"))
      .withColumn("qresid", expr(
        s"zip_with(embedding, element_at($centsSparkLit, pcell + 1), (x, p) -> CAST(x AS DOUBLE) - p)"))
    val qlut = (0 until pqM).foldLeft(qx) { (df, m) =>
      df.withColumn(s"lut_$m", expr(
        s"""transform(${pqCbSpark(m)}, c ->
           |  aggregate(zip_with(c, slice(qresid, ${m * pqD + 1}, $pqD),
           |      (p, x) -> (p - x) * (p - x)),
           |    0D, (s, v) -> s + v))""".stripMargin))
    }.select(Seq(col("query_id"), col("pcell")) ++
      (0 until pqM).map(m => col(s"lut_$m")): _*)
    val adc = (0 until pqM).map(m =>
      expr(s"element_at(lut_$m, code_$m + 1)")).reduce(_ + _)
    // rank ascending d² via the shared bounded-buffer top-k on −d²
    // (its order is score desc, id asc = d² asc, id asc); negate back
    // on output. −round(x) == round(−x), and −(−0.0) restores +0.0.
    val scored = enc.join(broadcast(qlut),
        col("cell") === col("pcell") && col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        -round(adc, 4).as("neg_d2"))
      .as[(Long, Long, Double)]
    rankedTopK(s, scored)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        (-col("cosine")).as("dist2"))
  }

  /** DuckDB oracle for a33: same centroid + codebook literals, same
    * cell argmin / residual / encode argmin / LUT / lookup-sum ADC,
    * same rounded (d², neighbor_id) rank order. */
  val a33Sql: String = {
    val centsDuck = centroidStrs.map(_.mkString("[", ",", "]")).mkString("[", ",", "]")
    def cbDuck(m: Int) =
      pqCodebookStrs(m).map(_.mkString("[", ",", "]")).mkString("[", ",", "]")
    val dlCols = (0 until pqM).map { m =>
      s"""list_transform(${cbDuck(m)}, c ->
         | list_sum(list_transform(list_zip(c, r[${m * pqD + 1}:${(m + 1) * pqD}]),
         |  p -> (p[1] - p[2]) * (p[1] - p[2])))) AS dl_$m""".stripMargin
    }.mkString(",\n  ")
    val codeCols = (0 until pqM).map(m =>
      s"CAST(list_indexof(dl_$m, list_min(dl_$m)) - 1 AS INT) AS code_$m").mkString(",\n  ")
    val lutCols = (0 until pqM).map { m =>
      s"""list_transform(${cbDuck(m)}, c ->
         | list_sum(list_transform(list_zip(c, qr[${m * pqD + 1}:${(m + 1) * pqD}]),
         |  p -> (p[1] - p[2]) * (p[1] - p[2])))) AS lut_$m""".stripMargin
    }.mkString(",\n  ")
    val adc = (0 until pqM).map(m => s"q.lut_$m[c.code_$m + 1]").mkString(" + ")
    s"""WITH cents AS (SELECT $centsDuck AS cs),
       |e AS (
       | SELECT vec_id, embedding,
       |  list_transform((SELECT cs FROM cents),
       |    c -> list_sum(list_transform(list_zip(c, embedding),
       |           p -> (p[1] - CAST(p[2] AS DOUBLE)) * (p[1] - CAST(p[2] AS DOUBLE))))) AS dl
       | FROM embeddings),
       |cells AS (
       | SELECT vec_id, embedding, dl,
       |  CAST(list_indexof(dl, list_min(dl)) - 1 AS INT) AS cell FROM e),
       |resid AS (
       | SELECT vec_id, cell,
       |  list_transform(list_zip(embedding, (SELECT cs FROM cents)[cell + 1]),
       |    p -> CAST(p[1] AS DOUBLE) - p[2]) AS r
       | FROM cells),
       |dls AS (
       | SELECT vec_id, cell,
       |  $dlCols
       | FROM resid),
       |enc AS (
       | SELECT vec_id, cell,
       |  $codeCols
       | FROM dls),
       |qprobe AS (
       | SELECT vec_id AS query_id, CAST(i - 1 AS INT) AS pcell,
       |  row_number() OVER (PARTITION BY vec_id ORDER BY dl[i], i) AS rnk
       | FROM (SELECT vec_id, dl, unnest(generate_series(1, 16)) AS i
       |       FROM cells WHERE vec_id < $NQ)
       | QUALIFY rnk <= 4),
       |qres AS (
       | SELECT qp.query_id, qp.pcell,
       |  list_transform(list_zip(c.embedding, (SELECT cs FROM cents)[qp.pcell + 1]),
       |    p -> CAST(p[1] AS DOUBLE) - p[2]) AS qr
       | FROM qprobe qp JOIN cells c ON c.vec_id = qp.query_id),
       |qlut AS (
       | SELECT query_id, pcell,
       |  $lutCols
       | FROM qres)
       |SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, dist2 FROM (
       | SELECT q.query_id, c.vec_id AS neighbor_id,
       |  ROUND($adc, 4) AS dist2,
       |  row_number() OVER (PARTITION BY q.query_id
       |    ORDER BY ROUND($adc, 4), c.vec_id) AS rank
       | FROM qlut q JOIN enc c ON c.cell = q.pcell AND c.vec_id <> q.query_id)
       |WHERE rank <= $K ORDER BY query_id, rank""".stripMargin
  }

  /** a34: metadata-FILTERED vector search (the production "filtered
    * ANN" every vector store ships — search within a class/tenant/
    * time slice): each query retrieves its top-k among corpus
    * vectors sharing its `label`, with PRE-FILTER semantics — the
    * filter is part of candidate generation, so the result always
    * has k neighbors when k exist (post-filtering an unfiltered
    * top-k can come back short, the classic filtered-ANN bug; the
    * spec pins exactly this against a27). The label rides the
    * broadcast-join condition as an equi-key: zero extra shuffle
    * here, and at 100 TB the same key is the PARTITION key of a
    * label-partitioned layout — the filter becomes partition
    * pruning before any distance math, the q34-for-vectors. Scoring
    * and ranking are a27's exact cosine + bounded-buffer top-k. */
  def a34AnnFiltered(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val corpus = withNorm(Tables.embeddings(s, dir)
      .select("vec_id", "embedding", "label"))
    val queries = corpus.filter(col("vec_id") < NQ).select(
      col("vec_id").as("query_id"),
      col("embedding").as("q_embedding"),
      col("norm").as("q_norm"),
      col("label").as("q_label"))
    val scored = corpus.join(broadcast(queries),
        col("label") === col("q_label") && col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(cosine, 4).as("cosine"))
      .as[(Long, Long, Double)]
    val labels = Tables.embeddings(s, dir)
      .select(col("vec_id").as("query_id"), col("label"))
    rankedTopK(s, scored)
      .join(broadcast(labels), Seq("query_id"))
      .select("query_id", "label", "rank", "neighbor_id", "cosine")
      .orderBy("query_id", "rank")
  }

  val a34Sql: String =
    s"""WITH e AS (
       | SELECT vec_id, embedding, label,
       |  sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x))) AS norm
       | FROM embeddings),
       |q AS (SELECT * FROM e WHERE vec_id < $NQ AND norm > 0)
       |SELECT query_id, label, CAST(rank AS INT) AS rank, neighbor_id, cosine FROM (
       | SELECT q.vec_id AS query_id, q.label AS label, c.vec_id AS neighbor_id,
       |  $duckCosine AS cosine,
       |  row_number() OVER (PARTITION BY q.vec_id
       |    ORDER BY $duckCosine DESC, c.vec_id) AS rank
       | FROM q JOIN e c ON c.label = q.label AND c.vec_id <> q.vec_id
       |  AND c.norm > 0)
       |WHERE rank <= $K ORDER BY query_id, rank""".stripMargin

  /** a35: filtered ANN at the 100 TB shape — a34's PRE-FILTER
    * semantics (candidates restricted to the query's label slice
    * before any scoring, so top-k can always fill) composed with
    * a31's two-stage retrieve-then-rerank: the coarse stage scans
    * the 4×-compressed SQ8 corpus WITHIN the label (the filter is an
    * equi-key on the broadcast query join, pruned before a single
    * dot product is spent), keeps the quantized top-C per query via
    * the bounded-buffer aggregator, and only those N×C candidates
    * get full-precision rescoring. a34 stays as the exact semantics
    * pin; this entry is the production filtered-search plan, where
    * the expensive scan is label-pruned AND compressed-domain. Corpus never shuffled;
    * queries, candidate list, and quantization stats all broadcast.
    *
    * Fully deterministic (global SQ8 floor arithmetic + sequential
    * dot products + rounded tie-breaks) → the whole pipeline is
    * DuckDB-replayed; coarse_rank pins stage 1, rank pins stage 2.
    * AnnSpec additionally proves recall vs a34's exact within-label
    * top-k. */
  def a35AnnFilteredRerank(s: SparkSession, dir: String): DataFrame = {
    val coarse = rankedTopK(s, sqScored(s, dir, withinLabel = true), RerankC)
      .select(col("query_id"), col("neighbor_id"),
        col("rank").as("coarse_rank"))
    val corpus = withNorm(Tables.embeddings(s, dir).select("vec_id", "embedding"))
    val queries = corpus.filter(col("vec_id") < NQ).select(
      col("vec_id").as("query_id"),
      col("embedding").as("q_embedding"),
      col("norm").as("q_norm"))
    val labels = Tables.embeddings(s, dir)
      .select(col("vec_id").as("query_id"), col("label"))
    val exact = broadcast(coarse)
      .join(corpus.withColumnRenamed("vec_id", "neighbor_id"), Seq("neighbor_id"))
      .join(broadcast(queries), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"), col("coarse_rank"),
        round(cosine, 4).as("cosine"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id"))
    exact.withColumn("rank", row_number().over(w)).filter(col("rank") <= K)
      .join(broadcast(labels), Seq("query_id"))
      .select("query_id", "label", "rank", "neighbor_id", "cosine", "coarse_rank")
      .orderBy("query_id", "rank")
  }

  /** DuckDB oracle for a35: a31's quantized-coarse + exact-rerank
    * CTE chain with the label equi-key added to the coarse join. */
  val a35Sql: String = {
    val dequant =
      """list_transform(list_zip(embedding, (SELECT mns FROM stats), (SELECT mxs FROM stats)),
        | p -> CASE WHEN p[3] > p[2]
        |      THEN p[2] + floor((CAST(p[1] AS DOUBLE) - p[2]) * 255.0 / (p[3] - p[2]))
        |           * (p[3] - p[2]) / 255.0
        |      ELSE p[2] END)""".stripMargin
    val adcScore =
      """ROUND(list_sum(list_transform(list_zip(q.embedding, c.dqe),
        |  p -> CAST(p[1] AS DOUBLE) * p[2])) / (q.norm * c.dq_norm), 4)""".stripMargin
    val exactScore =
      """ROUND(list_sum(list_transform(list_zip(q.embedding, n.embedding),
        |  p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) / (q.norm * n.norm), 4)""".stripMargin
    s"""WITH dims AS (
       | SELECT i, CAST(embedding[i] AS DOUBLE) AS x
       | FROM (SELECT embedding, unnest(generate_series(1, len(embedding))) AS i
       |       FROM embeddings)),
       |stats AS (
       | SELECT list(mn ORDER BY i) AS mns, list(mx ORDER BY i) AS mxs
       | FROM (SELECT i, min(x) AS mn, max(x) AS mx FROM dims GROUP BY i)),
       |dq AS (
       | SELECT vec_id, label, dqe,
       |  sqrt(list_sum(list_transform(dqe, v -> v * v))) AS dq_norm
       | FROM (SELECT vec_id, label, $dequant AS dqe FROM embeddings)),
       |alln AS (
       | SELECT vec_id, embedding, label,
       |  sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x))) AS norm
       | FROM embeddings),
       |q AS (SELECT * FROM alln WHERE vec_id < $NQ),
       |coarse AS (
       | SELECT query_id, neighbor_id, coarse_rank FROM (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |   row_number() OVER (PARTITION BY q.vec_id
       |     ORDER BY $adcScore DESC, c.vec_id) AS coarse_rank
       |  FROM q JOIN dq c ON c.label = q.label AND c.vec_id <> q.vec_id
       |   AND c.dq_norm > 0 AND q.norm > 0)
       | WHERE coarse_rank <= $RerankC)
       |SELECT query_id, label, CAST(rank AS INT) AS rank, neighbor_id, cosine,
       | CAST(coarse_rank AS INT) AS coarse_rank FROM (
       | SELECT co.query_id, q.label AS label, co.neighbor_id, co.coarse_rank,
       |  $exactScore AS cosine,
       |  row_number() OVER (PARTITION BY co.query_id
       |    ORDER BY $exactScore DESC, co.neighbor_id) AS rank
       | FROM coarse co
       |  JOIN alln n ON n.vec_id = co.neighbor_id AND n.norm > 0
       |  JOIN q ON q.vec_id = co.query_id)
       |WHERE rank <= $K ORDER BY query_id, rank""".stripMargin
  }

  /** a36: IVF as a PERSISTED parquet index — the d35/d37/d38
    * persisted-state stance applied to the ANN family: a real vector
    * system builds its index ONCE (a batch job) and every query run
    * PROBES the artifact; a29/a29b rebuild routing per run, which is
    * the verification shape, not the production one. The index here
    * is the norm-filtered corpus with its a29b cell assignment
    * (shared [[centroidDistsExpr]] — index and query-time routing
    * cannot disagree), written `partitionBy(cell)`: the inverted
    * lists ARE the partition directories, so a probe that filters on
    * a LITERAL cell set reads nprobe/nlist of the files via Spark
    * partition pruning — the parquet equivalent of FAISS's invlist
    * seek, and at 100 TB the difference between scanning 25 TB and
    * scanning 6 % of it. The literal probe set comes from ONE
    * bounded driver action over the 8 query rows (the q30 watermark
    * stance — never a row loop), because only a literal predicate
    * prunes partitions at plan time.
    *
    * Everything downstream (broadcast queries, cosine, top-K window,
    * tie-breaks) is a29b's code path on the read-back index, so the
    * correctness property is the d35 one: probe-from-persisted ==
    * in-memory recompute — AnnSpec asserts row-for-row equality with
    * a29b, and the oracle IS a29b's (same output by construction). */
  def a36AnnPersistedIvf(s: SparkSession, dir: String): DataFrame = {
    val corpus = ivfRoutedCorpus(s, dir)
    val idxDir = graft.sources.Export.scratch("a36_index", dir)
    corpus.select("vec_id", "embedding", "norm", "cell")
      .write.mode("overwrite").partitionBy("cell").parquet(idxDir)
    probePersistedIvf(s, idxDir, ivfProbeQueries(corpus))
  }

  /** The a29b-routed corpus (cell = argmin of exact squared-L2 to the
    * shared literal centroids) — ONE definition feeding a29b's
    * in-memory recompute shape and every persisted-index entry
    * (a36 build, a37 build + append), so index-time and query-time
    * routing can never disagree. */
  private[graft] def ivfRoutedCorpus(s: SparkSession, dir: String): DataFrame =
    withNorm(Tables.embeddings(s, dir).select("vec_id", "embedding"))
      .withColumn("dl", centroidDistsExpr("embedding"))
      .withColumn("cell", nearestCellExpr)

  /** a29b's query routing over the routed corpus: each query's
    * [[probeCellsExpr]]. */
  private[graft] def ivfProbeQueries(corpus: DataFrame): DataFrame =
    corpus.filter(col("vec_id") < NQ).select(
      col("vec_id").as("query_id"),
      col("embedding").as("q_embedding"),
      col("norm").as("q_norm"),
      probeCellsExpr.as("probe_cells"))

  /** Probe a persisted `partitionBy(cell)` IVF artifact: the literal
    * probe-cell filter (partition pruning — the invlist seek), then
    * a29b's scoring tail. Shared by a36 and a37 so "what a probe of
    * the artifact means" has one definition. */
  private[graft] def probePersistedIvf(s: SparkSession, idxDir: String,
      queries: DataFrame, tombstones: Option[DataFrame] = None): DataFrame =
    probeIvfIndex(Tables.parquet(s, idxDir), queries, tombstones)

  /** The probe body over an already-opened index frame — extracted so
    * a53's manifest-scoped reads (an explicit file list under a
    * basePath) go through the IDENTICAL pruning + scoring tail as the
    * whole-directory reads. */
  private[graft] def probeIvfIndex(idx: DataFrame,
      queries: DataFrame, tombstones: Option[DataFrame] = None): DataFrame = {
    // the union of the queries' probe cells as a LITERAL — 8 rows,
    // one driver action; this is what makes the cell predicate a
    // partition-pruning filter instead of a post-scan one
    val probed = queries.select(explode(col("probe_cells")).as("c"))
      .distinct().collect().map(_.getInt(0)).sorted
    val pruned = idx
      .filter(col("cell").isin(probed.map(Int.box): _*))
    // between compactions a probe masks the tombstone set in-flight:
    // a broadcast anti join on vec_id (tombstones are delete-sized,
    // not index-sized) AFTER pruning, so only probed cells pay it
    val index = tombstones.fold(pruned)(t =>
      pruned.join(broadcast(t), Seq("vec_id"), "left_anti"))
    ivfScore(index, queries)
  }

  /** a29b's scoring tail: every member of a query's probe cells
    * (itself excluded) scored by rounded cosine, top-K by (cosine
    * desc, neighbor_id). Shared by a29b's recompute and every probe
    * of a persisted index. */
  private def ivfScore(index: DataFrame, queries: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    index.select("vec_id", "embedding", "norm", "cell")
      .join(broadcast(queries),
        array_contains(col("probe_cells"), col("cell")) &&
          col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(cosine, 4).as("cosine"))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= K)
      .select("query_id", "rank", "neighbor_id", "cosine")
      .orderBy("query_id", "rank")
  }

  /** a37: incremental IVF maintenance — the d35/d37/d38 daily-ingest
    * stance applied to the index ARTIFACT itself. a36 proves probing
    * a persisted index; a real vector system also has to ADMIT
    * yesterday's crawl without rebuilding: the persisted inverted
    * lists hold only the prior corpus (vec_id % 4 != 0, the shared
    * batch split), and the new batch is routed with the SAME
    * [[centroidDistsExpr]] assignment and APPENDED into the same
    * `partitionBy(cell)` layout — `mode("append")` writes new files
    * into existing cell directories (or creates a cell dir the old
    * corpus never populated), which is exactly the FAISS `add` /
    * IVF-append operation expressed as a lakehouse write. No old file
    * is rewritten: the day-N cost is O(batch), not O(index).
    *
    * The probe then runs against the UPDATED artifact through the
    * shared [[probePersistedIvf]] path, and the oracle IS a29bSql —
    * append-then-probe must equal the full in-memory recompute over
    * old ∪ new, which is the incremental==recompute property the
    * gate itself checks (the a36/d39 stance). AnnSpec additionally
    * asserts the result is non-vacuous in the batch: appended
    * vectors actually surface as neighbors. */
  def a37AnnIvfInsert(s: SparkSession, dir: String): DataFrame = {
    val corpus = ivfRoutedCorpus(s, dir)
    val idxDir = graft.sources.Export.scratch("a37_index", dir)
    // day-0 build: inverted lists of the PRIOR corpus only
    corpus.filter(col("vec_id") % 4 =!= 0)
      .select("vec_id", "embedding", "norm", "cell")
      .write.mode("overwrite").partitionBy("cell").parquet(idxDir)
    // day-1 ingest: route the new batch with the shared assignment
    // and append into the same cell directories
    corpus.filter(col("vec_id") % 4 === 0)
      .select("vec_id", "embedding", "norm", "cell")
      .write.mode("append").partitionBy("cell").parquet(idxDir)
    probePersistedIvf(s, idxDir, ivfProbeQueries(corpus))
  }

  /** a38 delete slice — shared by the tombstone writer, the
    * compaction filter, and (negated, interpolated) the oracle. */
  private[graft] val a38DeletedPred = "vec_id % 7 = 3"

  /** a38: DELETE on the persisted IVF index — the missing leg of the
    * artifact's lifecycle (a36 build, a37 append, a38 delete):
    * parquet files are immutable, so a delete is (1) a TOMBSTONE
    * artifact — the deleted vec_ids as their own tiny parquet, the
    * Iceberg/Delta delete-file shape — masked into every probe by a
    * broadcast anti join after cell pruning, and (2) COMPACTION,
    * which rewrites the live rows into a fresh `partitionBy(cell)`
    * generation and retires the tombstones. This entry runs the full
    * cycle: build gen-1 from the whole corpus, write tombstones,
    * compact to gen-2, probe gen-2 through the shared
    * [[probePersistedIvf]] path. Deletion removes MEMBERSHIP, not
    * just match candidates: queries are routed from the live corpus,
    * so a deleted query vector (vec 3 here) stops querying — the
    * oracle is the SAME parameterized recompute body as
    * a29b/a36/a37 with the delete slice filtered out
    * ([[ivfRecomputeSql]]), making delete-then-probe == recompute-
    * on-live the gate property itself.
    *
    * Scale: tombstones are delete-sized; the in-flight mask costs a
    * broadcast anti join only on probed cells (AnnSpec proves the
    * masked gen-1 probe equals the compacted gen-2 probe — the
    * compaction-is-a-no-op law); this entry's full rewrite is the
    * verification shape — production compacts per-partition when a
    * cell's tombstone density crosses a threshold, same semantics
    * cell by cell. */
  def a38AnnDelete(s: SparkSession, dir: String): DataFrame = {
    val corpus = ivfRoutedCorpus(s, dir)
    val idxDir = graft.sources.Export.scratch("a38_index", dir)
    val tombDir = graft.sources.Export.scratch("a38_tombs", dir)
    val gen2Dir = graft.sources.Export.scratch("a38_index_g2", dir)
    corpus.select("vec_id", "embedding", "norm", "cell")
      .write.mode("overwrite").partitionBy("cell").parquet(idxDir)
    corpus.filter(expr(a38DeletedPred)).select("vec_id")
      .write.mode("overwrite").parquet(tombDir)
    val tombs = Tables.parquet(s, tombDir)
    Tables.parquet(s, idxDir)
      .join(broadcast(tombs), Seq("vec_id"), "left_anti")
      .select("vec_id", "embedding", "norm", "cell")
      .write.mode("overwrite").partitionBy("cell").parquet(gen2Dir)
    val live = corpus.filter(not(expr(a38DeletedPred)))
    probePersistedIvf(s, gen2Dir, ivfProbeQueries(live))
  }

  /** a38's oracle: the shared recompute body over the live slice. */
  val a38Sql: String = ivfRecomputeSql(s"NOT ($a38DeletedPred)")

  /** a52's compaction trigger, from the per-cell tombstone ledger:
    * a cell rewrites when its tombstone density STRICTLY exceeds the
    * index-wide density (compared by cross-multiplication — integer
    * exact, no float threshold). Data-derived, so both classes
    * populate on any corpus where deletes are not perfectly uniform
    * per cell; a52 fail-stops if the split degenerates. The stats
    * read is a bounded collect: one row per cell (16 here; a
    * manifest-sized frame at any scale). */
  private[graft] def a52HotCells(corpus: DataFrame): (Seq[Int], Int) = {
    val stats = corpus.groupBy("cell").agg(
      count(lit(1)).as("n"),
      sum(when(expr(a38DeletedPred), 1L).otherwise(0L)).as("d")).collect()
    val totalN = stats.map(_.getLong(1)).sum
    val totalD = stats.map(_.getLong(2)).sum
    // BigInt cross-multiplication: d·N vs D·n overflows Long around
    // 10¹⁰ rows × 10⁹ tombstones — exactly the scale the trigger
    // claims exactness for
    val hot = stats.filter(r =>
        BigInt(r.getLong(2)) * totalN > BigInt(totalD) * r.getLong(1))
      .map(_.getInt(0)).sorted.toIndexedSeq
    (hot, stats.length)
  }

  /** a52: SELECTIVE per-cell compaction — a38's scaladoc claims
    * "production compacts per-partition when a cell's tombstone
    * density crosses a threshold"; this entry is that sentence as
    * code (the q52b/q45b prose-to-code rule): after the same
    * build + tombstone cycle, only the cells whose tombstone density
    * exceeds the index-wide density are REWRITTEN (live rows only);
    * every cold cell's files are carried into the new generation by
    * FILE-LEVEL copy (the a50 walker — on an object store a rename;
    * AnnSpec pins them byte-identical, the no-rewrite contract), and
    * the probe masks only the tombstones still living in cold cells
    * through the standard [[probePersistedIvf]] in-flight anti-join.
    * The oracle IS a38's recompute-on-live — hybrid compaction must
    * be indistinguishable from full compaction, which is
    * indistinguishable from never having had the deleted rows.
    *
    * Scale: the rewrite cost is Σ hot-cell sizes, NOT the index
    * (a38's full rewrite is the verification shape; this is the
    * production shape), the trigger reads a cell-count manifest, and
    * the residual mask is delete-sized and shrinks as hot cells
    * compact. */
  def a52CellCompaction(s: SparkSession, dir: String): DataFrame = {
    val corpus = ivfRoutedCorpus(s, dir)
    val gen1 = graft.sources.Export.scratch("a52_index", dir)
    val hybrid = graft.sources.Export.scratch("a52_hybrid", dir)
    corpus.select("vec_id", "embedding", "norm", "cell")
      .write.mode("overwrite").partitionBy("cell").parquet(gen1)
    val (hot, nCells) = a52HotCells(corpus)
    require(hot.nonEmpty && hot.size < nCells,
      s"a52: the density split must leave both classes (${hot.size}/$nCells hot)")
    graft.sources.Export.deleteTree(hybrid)
    val hotDirs = hot.map(c => s"cell=$c").toSet
    // cold cells: file-level carry — not one byte rewritten
    a50MergeLayouts(Seq(gen1), hybrid, d => !hotDirs.contains(d))
    // hot cells: rewrite live rows only
    Tables.parquet(s, gen1)
      .filter(col("cell").isin(hot.map(Int.box): _*) &&
        not(expr(a38DeletedPred)))
      .write.mode("append").partitionBy("cell").parquet(hybrid)
    val coldTombs = corpus.filter(expr(a38DeletedPred) &&
      !col("cell").isin(hot.map(Int.box): _*)).select("vec_id")
    val live = corpus.filter(not(expr(a38DeletedPred)))
    probePersistedIvf(s, hybrid, ivfProbeQueries(live), Some(coldTombs))
  }

  /** Merge persisted IVF shard layouts at the FILE level: every
    * shard invlist file is copied into the merged layout's matching
    * cell directory — O(#files) driver-side metadata, NO vector is
    * read or re-routed (on an object store this is a rename /
    * manifest union; here java.nio copies stand in). Valid because
    * every shard routes with the SAME literal centroids
    * ([[ivfRoutedCorpus]]) — cell identity is global, so invlist
    * concatenation IS index merge (the FAISS merge_into contract). */
  private[graft] def a50MergeLayouts(shards: Seq[String], merged: String,
      keepCell: String => Boolean = _ => true): Unit = {
    shards.zipWithIndex.foreach { case (shard, si) =>
      val root = java.nio.file.Paths.get(shard)
      val it = java.nio.file.Files.walk(root)
      try {
        import scala.jdk.CollectionConverters._
        it.iterator().asScala
          .filter(_.toString.endsWith(".parquet"))
          .foreach { p =>
            val cellDir = root.relativize(p).getParent // cell=<k>
            if (keepCell(cellDir.toString)) {
              val tgt = java.nio.file.Paths.get(merged).resolve(cellDir)
              java.nio.file.Files.createDirectories(tgt)
              java.nio.file.Files.copy(p,
                tgt.resolve(s"s${si}_${p.getFileName}"),
                java.nio.file.StandardCopyOption.REPLACE_EXISTING)
            }
          }
      } finally it.close()
    }
  }

  /** a50: IVF shard-index MERGE — the missing lifecycle leg (a36
    * build, a37 append, a38 delete, a40 scatter-gather; a50 merges):
    * two shards built INDEPENDENTLY over disjoint corpus halves —
    * two crawlers, two regions — become one serving index without
    * re-reading a single vector, because cell identity is global
    * (the shared literal centroids): the merge is an invlist-file
    * union per cell directory, O(#files) metadata
    * ([[a50MergeLayouts]]). The probe then runs against the merged
    * artifact through the shared [[probePersistedIvf]] path, and
    * the oracle IS a29b's full recompute (merge-then-probe ==
    * build-from-everything — the a36/a37 shared-oracle stance).
    * AnnSpec additionally pins merged == direct full build
    * row-for-row and that no row's routing changed in transit. */
  def a50IndexMerge(s: SparkSession, dir: String): DataFrame = {
    val corpus = ivfRoutedCorpus(s, dir)
    val shardA = graft.sources.Export.scratch("a50_shard_a", dir)
    val shardB = graft.sources.Export.scratch("a50_shard_b", dir)
    val merged = graft.sources.Export.scratch("a50_merged", dir)
    corpus.filter(col("vec_id") % 2 === 0)
      .select("vec_id", "embedding", "norm", "cell")
      .write.mode("overwrite").partitionBy("cell").parquet(shardA)
    corpus.filter(col("vec_id") % 2 =!= 0)
      .select("vec_id", "embedding", "norm", "cell")
      .write.mode("overwrite").partitionBy("cell").parquet(shardB)
    graft.sources.Export.deleteTree(merged)
    a50MergeLayouts(Seq(shardA, shardB), merged)
    probePersistedIvf(s, merged, ivfProbeQueries(corpus))
  }

  /** Build a53's versioned index: one append-only physical layout
    * plus one MANIFEST per commit (rows of (kind, path) — the
    * Iceberg snapshot shape: a version is a file LIST, data files
    * plus delete files, never a data rewrite). Commit 1 builds the
    * prior corpus (a37's slice), commit 2 appends the day batch into
    * the same cell directories, commit 3 adds a DELETE FILE (a38's
    * tombstone slice) — zero data files touched. Returns the root;
    * the layout dir is `root`/data, manifests `root`/manifest_k. */
  private[graft] def a53Build(s: SparkSession, dir: String,
      tag: String = "a53_index"): String = {
    import s.implicits._
    val corpus = ivfRoutedCorpus(s, dir)
    val root = graft.sources.Export.scratch(tag, dir)
    graft.sources.Export.deleteTree(root) // append accumulates across reruns
    val idxDir = s"$root/data"
    corpus.filter(col("vec_id") % 4 =!= 0)
      .select("vec_id", "embedding", "norm", "cell")
      .write.mode("overwrite").partitionBy("cell").parquet(idxDir)
    val f1 = graft.sources.Export.listParquet(idxDir)
    corpus.filter(col("vec_id") % 4 === 0)
      .select("vec_id", "embedding", "norm", "cell")
      .write.mode("append").partitionBy("cell").parquet(idxDir)
    val f2 = graft.sources.Export.listParquet(idxDir)
    val delDir = s"$root/deletes_3"
    corpus.filter(expr(a38DeletedPred)).select("vec_id")
      .write.mode("overwrite").parquet(delDir)
    val f3 = graft.sources.Export.listParquet(delDir)
    def writeManifest(k: Int, data: Seq[String], dels: Seq[String]): Unit =
      (data.map("data" -> _) ++ dels.map("delete" -> _))
        .toDF("kind", "path")
        .coalesce(1).write.mode("overwrite").parquet(s"$root/manifest_$k")
    writeManifest(1, f1, Seq.empty)
    writeManifest(2, f2, Seq.empty)
    writeManifest(3, f2, f3)
    root
  }

  /** Probe the index AS OF commit k: read the manifest (a bounded
    * O(#files) metadata read — the planner's file list), open exactly
    * its data files under the layout's basePath (so `cell` stays a
    * partition column and the probe-cell filter still prunes), mask
    * its delete files, and run the IDENTICAL [[probeIvfIndex]]
    * tail. */
  private[graft] def a53ProbeAsOf(s: SparkSession, root: String, k: Int,
      queries: DataFrame): DataFrame = {
    val man = Tables.parquet(s, s"$root/manifest_$k").collect()
    val data = man.filter(_.getString(0) == "data").map(_.getString(1)).toIndexedSeq
    val dels = man.filter(_.getString(0) == "delete").map(_.getString(1)).toIndexedSeq
    val idx = Tables.parquet(s, data, Map("basePath" -> s"$root/data"))
    val tombs = if (dels.isEmpty) None else Some(Tables.parquet(s, dels))
    probeIvfIndex(idx, queries, tombs)
  }

  /** a53: INDEX TIME TRAVEL — the ANN lifecycle tied to the change-
    * chain discipline: q77/q92 version a TABLE; a
    * production vector index is also a versioned artifact (a50
    * already treats it as files), and "what did this query return
    * before yesterday's ingest/delete?" is a real debugging and
    * recall-regression question. Three commits — build, append
    * (a37's add), delete file (a38's tombstones, no rewrite) — each
    * publishing an Iceberg-shaped manifest; probe AS OF k opens
    * exactly manifest k's data files and masks its delete files
    * through the shared probe tail. The registered face probes TWO
    * planted versions in one frame (version 2 = post-append: the
    * full corpus; version 3 = post-delete: the live slice), so the
    * oracle is the a29b recompute UNION the a38 recompute — both
    * versions pinned by the gate itself. AnnSpec adds the v1 pin
    * (probe AS OF 1 == in-memory probe of the prior slice), commit-2
    * append monotonicity (v1's files carried untouched), and delete
    * isolation (a tombstoned vector still surfaces AS OF 2 after
    * commit 3 landed).
    *
    * Scale: a version flip is a manifest swap (O(#files) metadata);
    * probing an old version costs the same as the head — partition
    * pruning runs on the manifest's file list; nothing is rebuilt,
    * exactly Iceberg's snapshot-isolation read on an index
    * layout. */
  def a53IndexTimeTravel(s: SparkSession, dir: String): DataFrame = {
    val corpus = ivfRoutedCorpus(s, dir)
    val root = graft.BuildCache.build(s"a53:$dir")(a53Build(s, dir))
    val live = corpus.filter(not(expr(a38DeletedPred)))
    a53ProbeAsOf(s, root, 2, ivfProbeQueries(corpus))
      .withColumn("version", lit(2))
      .unionByName(a53ProbeAsOf(s, root, 3, ivfProbeQueries(live))
        .withColumn("version", lit(3)))
      .select("version", "query_id", "rank", "neighbor_id", "cosine")
      .orderBy("version", "query_id", "rank")
  }

  /** DuckDB oracle for a53: version 2 is the full-corpus recompute
    * (a29b's body), version 3 the live-slice recompute (a38's body)
    * — the same parameterized [[ivfRecomputeSql]] at both planted
    * versions. */
  val a53Sql: String =
    s"""SELECT * FROM (
       |SELECT 2 AS version, * FROM (${ivfRecomputeSql("TRUE")})
       |UNION ALL
       |SELECT 3 AS version, * FROM (${ivfRecomputeSql(s"NOT ($a38DeletedPred)")})
       |) ORDER BY version, query_id, rank""".stripMargin

  /** Plant a crashed-writer leftover in an a53 layout: a copy of an
    * existing invlist file under an uncommitted name in the same
    * cell directory — valid parquet bytes sitting in the layout that
    * NO manifest references (exactly what a writer that died between
    * its file writes and its manifest commit leaves behind; under
    * manifest-scoped reads it is invisible, under a naive directory
    * read it duplicates rows — AnnSpec pins both). Returns its
    * path. */
  private[graft] def q94PlantOrphan(root: String): String = {
    val victim = java.nio.file.Paths.get(
      graft.sources.Export.listParquet(s"$root/data").head)
    val orphan = victim.getParent.resolve("orphan-uncommitted.parquet")
    java.nio.file.Files.copy(victim, orphan,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    orphan.toString
  }

  /** Remove orphan files (Iceberg `remove_orphan_files`): a data file
    * is LIVE iff some retained version's manifest references it —
    * the union over every `manifest_*` under the root (one bounded
    * O(#files) metadata read); everything else under the layout is a
    * leaked write and is deleted, O(#orphans) metadata. Deleting a
    * referenced file would corrupt a retained version, so the keep
    * set comes from the manifests on disk, never from a commit count,
    * age or naming heuristics. Returns the deleted paths. */
  private[graft] def q94RemoveOrphans(s: SparkSession, root: String): Seq[String] = {
    val manifests = new java.io.File(root).list().toSeq
      .filter(_.startsWith("manifest_")).sorted.map(m => s"$root/$m")
    val referenced = Tables.parquet(s, manifests)
      .filter(col("kind") === "data")
      .select("path").collect().map(_.getString(0)).toSet
    val orphans = graft.sources.Export.listParquet(s"$root/data")
      .filterNot(referenced)
    orphans.foreach(p => java.nio.file.Files.delete(java.nio.file.Paths.get(p)))
    orphans
  }

  /** q94: ORPHAN-FILE GC — the janitor every manifest-tracked layout
    * needs (a53 made index versions file LISTS; q87's clones and
    * q78's vacuum rely on the same discipline): a writer that dies
    * after writing data files but before committing its manifest
    * leaks bytes into the layout forever — invisible to every read
    * (manifests scope them out) but paid for in storage and in any
    * naive directory scan. q94 runs the full cycle on a53's
    * 3-commit layout: plant the leftover, GC against the union of
    * ALL retained manifests, fail-stop unless exactly the planted
    * orphan was removed, then serve the head version through the
    * shared probe. Oracle IS a38's live-slice recompute (GC must be
    * invisible to every reader — the q78 retention stance applied to
    * uncommitted garbage). AnnSpec pins every version byte-equal
    * across the GC, the orphan genuinely gone, every manifest file
    * still present, and non-vacuity (the orphan WOULD duplicate rows
    * under a naive directory read).
    *
    * Scale: keep-set = manifest union (O(#files) metadata), listing
    * O(#files), deletion O(#orphans) — no data is read; on an object
    * store this is the nightly lifecycle job. */
  def q94OrphanGc(s: SparkSession, dir: String): DataFrame = {
    val corpus = ivfRoutedCorpus(s, dir)
    val root = a53Build(s, dir, "q94_index")
    val orphan = q94PlantOrphan(root)
    val removed = q94RemoveOrphans(s, root)
    require(removed == Seq(orphan),
      s"q94: GC must remove exactly the planted orphan, got $removed")
    val live = corpus.filter(not(expr(a38DeletedPred)))
    a53ProbeAsOf(s, root, 3, ivfProbeQueries(live))
  }

  /** a54's drift split: the quantizer in service was trained before
    * the last third of the corpus arrived (the s48 ingest stance —
    * new vectors are ROUTED through a stale quantizer, never
    * retraining it). Dialect-neutral, evaluated verbatim by both
    * engines. */
  private[graft] val a54HistWhere = "vec_id % 3 <> 0"

  /** One regime's index-health rollup: route the FULL corpus through
    * a centroid table (argmin by integer L2, ties to the low cell id
    * — the ONE a42 rule) and fold assignment distortion + occupancy.
    * Distortion is the exact integer Σ‖q̂ᵥ − ĉ(v)‖² — at quant scale
    * 10⁴ and 65 dims a vector contributes ≤ ~2.3e11, so the BIGINT
    * sum holds to ~4e7 vectors; past that, shard the sum (the t63
    * exactness-bound stance). */
  private def a54Health(base: DataFrame, c1: DataFrame,
      regime: String, trainedRows: Long): DataFrame = {
    val assigned = base.crossJoin(broadcast(a42Packed(c1)))
      .withColumn("md", expr(
        """array_min(transform(cents, c -> struct(
          |  aggregate(zip_with(c.qv, qv, (a, b) -> (a - b) * (a - b)),
          |    0L, (s, v) -> s + v) AS d,
          |  c.cid AS cid)))""".stripMargin))
      .select(col("md.cid").as("cell"), col("md.d").as("d"))
    assigned.groupBy("cell")
      .agg(count(lit(1)).as("n"), sum("d").as("sd"))
      .agg(sum("n").as("n_vectors"), count(lit(1)).as("cells_used"),
        max("n").as("max_cell"), sum("sd").as("distortion"))
      .select(lit(regime).as("regime"), lit(trainedRows).as("trained_rows"),
        col("n_vectors"), col("cells_used"), col("max_cell"),
        col("distortion"))
  }

  /** a54: RETRAIN DECISION — the instrument that closes the index
    * lifecycle's feedback loop (a37 inserts route through the stale
    * quantizer, a44 meters load, a45/a46 rebalance CELLS, a52
    * compacts; none answers "has the corpus drifted far enough that
    * the CENTROIDS are the problem?"): build the in-service
    * quantizer as it was trained (on corpus history — the first two
    * thirds) and the candidate retrain (same deterministic seeds +
    * one integer Lloyd step over the CURRENT corpus), route the full
    * corpus through BOTH in one shared quantization basis, and emit
    * each regime's health row — vectors, occupied cells, peak cell
    * load, exact integer distortion. One geometry is the point: the
    * historical a42 build couples basis to training population, so
    * its distortions aren't comparable across regimes; a54 splits
    * them ([[a42RefineFrom]], `basisWhere`) and the decision becomes
    * plain integer comparison. Fail-stop: both regimes route every
    * vector (structural — a theorem of the rnk=1 assignment). The
    * decision itself is DATA: recommend_retrain is true iff the
    * candidate's exact integer distortion is no worse than the
    * in-service quantizer's. It trained on the population being
    * measured (seeds FROM the drifted mass + a Lloyd step over it),
    * so it is EXPECTED to win — but that is an empirical property,
    * not a theorem, so a stale-index win publishes
    * recommend_retrain=false (keep the stale index) rather than
    * aborting the health scan.
    *
    * Scale (100 TB): both builds are the a42 shape (bounded-sample
    * training in production, integer sums map-side combined); the
    * health pass is ONE scan of the corpus per regime against 96
    * broadcast centroids — no shuffle but the nlist-sized rollup;
    * the face is two rows. The retrain itself reuses the index
    * files' own cell partitioning when it ships (a50's merge). */
  def a54RetrainDecision(s: SparkSession, dir: String): DataFrame = {
    val base = a42Base(s, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nStale = base.filter(expr(a54HistWhere)).count()
    val nAll = base.count()
    val out = a54Health(base, a42RefineFrom(base, expr(a54HistWhere)),
        "stale", nStale)
      .unionByName(a54Health(base, a42RefineFrom(base, lit(true)),
        "retrained", nAll))
      .orderBy("regime")
    val rows = out.collect()
    base.unpersist()
    val byRegime = rows.map(r => r.getString(0) -> r).toMap
    require(rows.length == 2 &&
      byRegime("stale").getLong(2) == byRegime("retrained").getLong(2),
      "a54: both regimes must route the full corpus")
    // "retrained never loses" is an EMPIRICAL property, not a theorem:
    // one Lloyd step from md5-ordered seeds over the
    // current corpus is not guaranteed to beat the history-trained
    // build at every SF, so an unconditional require could abort the
    // operator on untested data. The refusal-to-publish semantics
    // survive as DATA instead of an abort: recommend_retrain is true
    // iff the candidate's exact integer distortion is no worse, and
    // a false value IS the operator's answer (keep the stale index —
    // the drift premise failed), not an error state.
    val recommend =
      byRegime("retrained").getLong(5) <= byRegime("stale").getLong(5)
    import s.implicits._
    rows.map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), recommend)).toSeq
      .toDF("regime", "trained_rows", "n_vectors", "cells_used",
        "max_cell", "distortion", "recommend_retrain")
      .orderBy("regime")
  }

  /** DuckDB oracle for a54: BOTH deterministic builds replayed via
    * the prefixed [[a42BuildCteWhere]] (stale: trained on history in
    * the full-corpus basis; retrained: trained on all), the same
    * rnk-1 assignment of the full corpus, the same two-level
    * rollup. */
  lazy val a54Sql: String = {
    val intL2 = a42IntL2Duck _
    def regime(p: String, name: String, trainedWhere: String) =
      s"""${p}sa AS (
         | SELECT vec_id, cell, d FROM (
         |  SELECT x.vec_id, c.cid AS cell, ${intL2("x.qv", "c.qv")} AS d,
         |   row_number() OVER (PARTITION BY x.vec_id
         |     ORDER BY ${intL2("x.qv", "c.qv")}, c.cid) AS rnk
         |  FROM ${p}ax x, ${p}c1 c) WHERE rnk = 1),
         |${p}pc AS (SELECT cell, count(*) AS n, sum(d) AS sd
         |           FROM ${p}sa GROUP BY 1),
         |${p}row AS (
         | SELECT '$name' AS regime,
         |  (SELECT CAST(count(*) AS BIGINT) FROM ${p}ax
         |   WHERE $trainedWhere) AS trained_rows,
         |  CAST(sum(n) AS BIGINT) AS n_vectors,
         |  CAST(count(*) AS BIGINT) AS cells_used,
         |  CAST(max(n) AS BIGINT) AS max_cell,
         |  CAST(sum(sd) AS BIGINT) AS distortion
         | FROM ${p}pc)"""
    s"""WITH ${a42BuildCteWhere(a54HistWhere, "s_", "TRUE")},
       |${regime("s_", "stale", a54HistWhere)},
       |${a42BuildCteWhere("TRUE", "r_")},
       |${regime("r_", "retrained", "TRUE")},
       |rec AS (SELECT (SELECT distortion FROM r_row)
       |          <= (SELECT distortion FROM s_row) AS recommend_retrain)
       |SELECT s_row.*, rec.recommend_retrain FROM s_row, rec
       |UNION ALL
       |SELECT r_row.*, rec.recommend_retrain FROM r_row, rec
       |ORDER BY regime""".stripMargin
  }

  /** a39: recall evaluation — index QUALITY as a first-class
    * operator: per query, how many of the exact top-K (a27's
    * brute-force pipeline, unchanged) does the IVF probe (a29b's
    * pipeline, unchanged) return? A vector platform runs exactly
    * this as its index-health monitor after every build/append/
    * compaction (a36/a37/a38), because IVF recall degrades silently
    * as the data drifts from the centroids — and the measurement
    * must be the DEPLOYED pipelines, not re-derivations, which is
    * why both sides here are the registered entries composed, and
    * the oracle composes the SAME two SQL bodies as subqueries.
    * Recall ships as exact-integer ppm (matched·10⁶ div K — no
    * cross-engine float ratio). Scale: both sides are the already-
    * audited bounded-top-K pipelines; the comparison joins two
    * NQ·K-row results — evaluation-sized, not corpus-sized. */
  def a39RecallEval(s: SparkSession, dir: String): DataFrame = {
    val exact = a27AnnBrute(s, dir).select("query_id", "neighbor_id")
    val approx = a29bAnnIvfOracle(s, dir).select("query_id", "neighbor_id")
    val matched = exact.join(approx, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("m"))
    exact.select("query_id").distinct()
      .join(matched, Seq("query_id"), "left")
      .withColumn("matched", coalesce(col("m"), lit(0L)).cast("int"))
      .withColumn("recall_ppm",
        expr(s"CAST(matched AS BIGINT) * 1000000 div $K"))
      .select("query_id", "matched", "recall_ppm")
      .orderBy("query_id")
  }

  /** a39's oracle: the two registered pipelines' SQL bodies composed
    * as subqueries — the evaluation measures what ships. */
  val a39Sql: String =
    s"""SELECT e.query_id, CAST(count(a.neighbor_id) AS INT) AS matched,
       | count(a.neighbor_id) * 1000000 // $K AS recall_ppm
       |FROM ($a27Sql) e LEFT JOIN ($a29bSql) a
       | ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
       |GROUP BY e.query_id ORDER BY e.query_id""".stripMargin

  /** a55's compression grid: 2/4/8 subspaces over the 64 dims (all
    * 16-entry codebooks from ONE seed through the shared
    * [[pqCfgOf]]) — 4-bit codes of 8/16/32 bits per vector against
    * 2048 bits of float32, i.e. 256×/128×/64× compression. The m=8
    * point IS a32's shipped geometry, literal-for-literal. */
  private[graft] val a55Cfgs: Seq[PqCfg] =
    Seq(pqCfgOf(2, 32, 97531), pqCfgOf(4, 16, 97531), a32Cfg)

  /** The corpus' total quantization distortion under one geometry:
    * Σ over vectors of the per-vector squared reconstruction error
    * (Σ_m min over the 16 entries), integerized PER VECTOR
    * (round(·100) → long) before the sum so the rollup is
    * order-independent and byte-exact cross-engine (the t39/q49
    * integerization stance). */
  private[graft] def pqDistortion(s: SparkSession, dir: String,
      cfg: PqCfg): Long =
    pqDistortionFrom(pqEncoded(s, dir, cfg))

  /** The distortion rollup over a pre-built encode frame — the
    * per-vector integerization now lives in [[pqEncoded]]'s err_e2
    * column (one definition); this is just its order-independent
    * sum. */
  private[graft] def pqDistortionFrom(encAll: DataFrame): Long =
    encAll.agg(sum(col("err_e2"))).head.getLong(0)

  /** a55: PQ COMPRESSION TRADEOFF CURVE — the tuning instrument the
    * quantization family lacked (a47 sweeps nprobe for IVF, d53
    * sweeps LSH bands, q102 sweeps layouts; PQ's subspace grid is
    * the knob FAISS users actually turn): run the ONE [[pqScored]]
    * encode/LUT/ADC machinery at 2/4/8 subspaces and emit each grid
    * point's cost-quality row — code bits, compression factor, the
    * corpus' exact-integer quantization DISTORTION, and recall@K
    * against the exact cosine truth (a27, the declared gate
    * instrument). Distortion is the fail-stopped law: strictly
    * decreasing in subspace count (the decision signal an OPTIMIZE
    * policy consumes — finer subspaces approximate better at every
    * gated SF, measured ~4× per doubling on this corpus). Recall
    * crosses as measurement, NOT law: with literal (untrained)
    * codebooks and a 4-query truth set it is honest noise at small
    * SF (measured 250/0/750 e4 at sf0.01) — exactly why production
    * retrains codebooks (a54's move) and why the distortion column,
    * not recall, drives the grid choice.
    *
    * Scale: each point is a32's shape (scan-stage encode, broadcast
    * LUTs, bounded top-K — the corpus is never shuffled); the
    * distortion rollup is one conditional-sum scan per point; the
    * truth leg is the declared a27 instrument, sampled in production
    * like d51/d53's. The oracle replays all three pipelines, the
    * distortion sums, AND the exact truth — a curve nobody can
    * recompute is a rumor. */
  def a55PqTradeoff(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val exact = a27AnnBrute(s, dir).select("query_id", "neighbor_id")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // every frame this entry persists is released in a finally, so a
    // failed or cancelled job leaves no cached frame behind
    val (possible, rows) = try {
      val possible = exact.count()
      // The three grid points OVERLAP (guide §2.6, via [[graft.Par]]):
      // given the warm exact truth, each point is an independent job
      // chain over its OWN persisted encode frame (no shared cold cache
      // to race), so the m=2/4/8 encode scans back-fill each other's
      // stage tails instead of running strictly one after another.
      // Within a point the two consumers stay sequential (matched
      // materializes the encode, distortion reads it warm). Par.run
      // preserves a55Cfgs order, so the rows, the monotone-distortion
      // require, and the output do not depend on the overlap.
      (possible, graft.Par.run(s, a55Cfgs.map { cfg => () =>
        // ONE encode per grid point (guide §5): the scoring pipeline
        // and the distortion rollup both read this one persisted
        // materialization instead of each re-running the heavy
        // per-row encode.
        val encAll = pqEncoded(s, dir, cfg)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          val approx = rankedTopK(s, pqScoredFrom(s, dir, encAll, cfg))
            .select("query_id", "neighbor_id")
          val matched = exact
            .join(approx, Seq("query_id", "neighbor_id"), "left_semi").count()
          (cfg.m, 4 * cfg.m, 2048 / (4 * cfg.m),
            pqDistortionFrom(encAll), matched, possible,
            matched * 10000L / possible)
        } finally encAll.unpersist()
      }))
    } finally exact.unpersist()
    require(possible > 0 && rows.sliding(2).forall {
      case Seq(a, b) => a._4 > b._4 },
      s"a55: distortion must strictly decrease with subspace count: $rows")
    rows.toDF("m_subspaces", "code_bits", "compression_x",
        "distortion_e2", "matched", "possible", "recall_e4")
      .orderBy("m_subspaces")
  }

  /** DuckDB oracle for a55: all three PQ pipelines via the shared
    * [[pqSqlFor]]/[[pqDlsSqlFor]] bodies, the same per-vector
    * integerized distortion sums, the exact truth (a27's SQL) — one
    * row per grid point, every field recomputed. */
  lazy val a55Sql: String = {
    val points = a55Cfgs.map { cfg =>
      val errExpr = (0 until cfg.m).map(m => s"list_min(dl_$m)").mkString(" + ")
      s"""SELECT ${cfg.m} AS m_subspaces, ${4 * cfg.m} AS code_bits,
         | ${2048 / (4 * cfg.m)} AS compression_x,
         | (SELECT CAST(sum(CAST(round(($errExpr) * 100, 0) AS BIGINT)) AS BIGINT)
         |   FROM (${pqDlsSqlFor(cfg)})) AS distortion_e2,
         | (SELECT CAST(count(*) AS BIGINT) FROM ($a27Sql) e
         |   JOIN (${pqSqlFor(cfg)}) a
         |   ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id)
         |  AS matched,
         | (SELECT CAST(count(*) AS BIGINT) FROM ($a27Sql) e) AS possible"""
        .stripMargin
    }.mkString("\nUNION ALL\n")
    s"""SELECT m_subspaces, code_bits, compression_x, distortion_e2,
       | matched, possible,
       | CAST(matched * 10000 // possible AS BIGINT) AS recall_e4
       |FROM ($points)
       |ORDER BY m_subspaces""".stripMargin
  }

  /** a40's shard count: vec_id-keyed, so shard membership is
    * deterministic and oracle-replayable. */
  private[graft] val a40Shards = 8

  /** a40's scatter stage, exposed for the spec's bound assertions:
    * per (query, shard) exact top-K over that shard's slice — the
    * composite long key `query_id * a40Shards + shard` feeds the
    * UNCHANGED [[TopKAgg]], so per-shard and global top-K share one
    * tie-break definition. Output: (query_id, neighbor_id, cosine),
    * ≤ K rows per (query, shard). */
  private[graft] def a40Candidates(s: SparkSession, dir: String):
      org.apache.spark.sql.Dataset[(Long, Long, Double)] = {
    import s.implicits._
    val corpus = withNorm(Tables.embeddings(s, dir).select("vec_id", "embedding"))
    val queries = corpus.filter(col("vec_id") < NQ).select(
      col("vec_id").as("query_id"),
      col("embedding").as("q_embedding"),
      col("norm").as("q_norm"))
    corpus.join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .select(
        (col("query_id") * a40Shards + pmod(col("vec_id"), lit(a40Shards)))
          .as("qshard"),
        col("vec_id").as("neighbor_id"),
        round(cosine, 4).as("cosine"))
      .as[(Long, Long, Double)]
      .groupByKey(_._1)
      .agg(new TopKAgg(K).toColumn.name("topk"))
      .flatMap { case (qs, buf) =>
        buf.items.map { case (c, id) => (qs / a40Shards, id, c) }
      }
  }

  /** a40: scatter-gather sharded serving — the topology a deployed
    * 100 TB vector index actually answers queries with. The corpus
    * is partitioned into [[a40Shards]] disjoint shards (each shard =
    * one serving node's index); the SCATTER stage computes an exact
    * per-shard top-K (bounded: ≤ K rows per query leave each shard —
    * never scores, never vectors), and the GATHER stage merges the
    * ≤ K·S candidates per query through the same [[TopKAgg]]. The
    * result equals the unsharded global top-K by the scatter-gather
    * law: any global top-K member is, within its own shard, among
    * that shard's top K — so the gather's candidate set always
    * contains the global answer. The oracle is therefore a27's exact
    * SQL, verbatim: shard decomposition must be observationally
    * invisible.
    *
    * a27 proves the BOUNDED-AGGREGATION property (partial top-K per
    * map task); a40 makes the SERVING topology explicit — per-shard
    * candidate lists with a merge the gather can meter (the shape
    * a36's per-cell persisted index serves under, completed from
    * routing to answer). Scale: gather traffic is K·S rows per
    * query regardless of corpus size; adding shards grows scatter
    * parallelism linearly while the gather stays evaluation-sized. */
  def a40AnnShard(s: SparkSession, dir: String): DataFrame =
    rankedTopK(s, a40Candidates(s, dir))

  /** a41: maximum-inner-product search (MIPS) through the cosine-LSH
    * machinery via the norm-augmentation reduction (Bachrach et al.
    * RecSys 2014; Neyshabur & Srebro 2015; Shrivastava & Li 2014's
    * ALSH is the asymmetric cousin): recommendation/retrieval scores
    * are raw dot products q·x, which form no metric — hyperplane LSH
    * buckets cosine, not inner product. Augment every corpus vector
    * to x̂ = [x, sqrt(M²−‖x‖²)] (M = max corpus norm) and every query
    * to q̂ = [q, 0]: then ‖x̂‖ = M for ALL corpus vectors and
    * q̂·x̂ = q·x, so cos(q̂,x̂) = q·x/(‖q‖M) is MONOTONE in the inner
    * product and the existing sign-bucket machinery retrieves MIPS
    * candidates. Concretely the query-side bands are d28's 4×8
    * [[Hyperplanes.bandsExpr]] UNCHANGED (the augmented query coord
    * is 0) and the corpus side adds one literal weight per plane
    * times the augmented coord ([[Hyperplanes.augBandsExpr]]) —
    * banded OR-matching, because a single 8-bit sign bucket's recall
    * collapses for MIPS (the top-dot neighbors are LARGE-norm
    * vectors spread across directions; measured 0.025 recall@5 at
    * spec scale for one bucket — the AnnSpec floor pins the banded
    * form's measured recall). Candidates stream through
    * the d28 emit-once shape (band equi-join + FirstEqualBand), are
    * rescored with the EXACT dot product (native
    * [[graft.functions.VectorExprs.floatDot]]) and ranked through
    * the shared bounded-buffer [[rankedTopK]] — ≤ K rows per query
    * per map task cross the network.
    *
    * Scale: M is a single scalar broadcast (1-row cross join — the
    * q30 watermark stance, in-plan, no driver read); augmentation
    * and banding are scan-stage projections; the only corpus-keyed
    * work is the (band_id, band_val) equi-join against the broadcast
    * query band stream. Approximate by construction (band recall
    * < 1); AnnSpec pins the reduction's ordering-equivalence law,
    * a full in-memory mirror, and the recall floor. */
  /** a41 band geometry: 8 bands × 4 planes (32 shared planes). MIPS
    * needs coarser bands than d28's 4×8: the top-dot neighbors are
    * large-norm vectors that need not be tightly aligned with the
    * query direction, so per-band collision must stay high —
    * measured recall@5 at spec scale: 0.025 (one 8-bit bucket),
    * 0.10 (4×8 bands), 0.80 (this 8×4 form, at 0.42 candidate
    * fraction — both pinned by AnnSpec). At corpus scale the knob
    * moves back toward finer bands / more planes. */
  private[graft] val a41Bands = 8
  private[graft] val a41Ppb = 4

  def a41AnnMips(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val corpus = withNorm(Tables.embeddings(s, dir).select("vec_id", "embedding"))
    val mx = corpus.agg(max(col("norm")).as("mnorm"))
    val augmented = corpus.crossJoin(broadcast(mx))
      .withColumn("aug",
        sqrt(col("mnorm") * col("mnorm") - col("norm") * col("norm")))
      .withColumn("bands", graft.functions.Hyperplanes.augBandsExpr(
        "embedding", "aug", a41Bands, a41Ppb))
    val cChunks = augmented.select(col("vec_id"), col("embedding"), col("bands"),
      posexplode(col("bands")).as(Seq("band_id", "band_val")))
    val queries = corpus.filter(col("vec_id") < NQ).select(
      col("vec_id").as("query_id"),
      col("embedding").as("q_embedding"),
      graft.functions.Hyperplanes.bandsExpr("embedding",
        a41Bands, a41Ppb).as("q_bands"))
    val qChunks = queries.select(col("query_id"), col("q_embedding"), col("q_bands"),
      posexplode(col("q_bands")).as(Seq("band_id", "band_val")))
    val scored = cChunks.join(broadcast(qChunks), Seq("band_id", "band_val"))
      .filter(col("vec_id") =!= col("query_id"))
      .filter(col("band_id") === graft.functions.SetExprs.firstEqualBand(
        col("bands"), col("q_bands"), 1))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(graft.functions.VectorExprs.floatDot(
          col("q_embedding"), col("embedding")), 4).as("dot"))
      .as[(Long, Long, Double)]
    rankedTopK(s, scored, K, "dot")
  }

  /** DuckDB oracle for a41: the same reduction replayed — max-norm
    * scalar subquery, sqrt-augmented coordinate, corpus bands with
    * the shared augmented-dim literals, query bands = the plain
    * 4×8 [[Hyperplanes.bandDuck]] values, candidates = pairs
    * agreeing on ≥ 1 band (the d28 OR-join emits each pair once),
    * exact dot rescoring, identical tie-break. sqrt and max are
    * IEEE-identical cross-engine, so even WHICH bands each corpus
    * vector lands in replays byte-exactly. */
  val a41Sql: String = {
    def augBandTerm(b: Int): String = (0 until a41Ppb).map { j =>
      val i = a41Ppb * b + j
      s"""(CASE WHEN list_sum(list_transform(list_zip(${planeDuck(i)}, embedding),
         |   p -> p[1] * CAST(p[2] AS DOUBLE))) + ${graft.functions.Hyperplanes.augDuck(i)} * aug > 0
         |   THEN ${1 << j} ELSE 0 END)""".stripMargin
    }.mkString(" + ")
    val qBandCols = (0 until a41Bands).map(b =>
      s"(${graft.functions.Hyperplanes.bandDuck("embedding", b, a41Ppb)}) AS qb$b").mkString(",\n ")
    val cBands = (0 until a41Bands).map(b => s"(${augBandTerm(b)}) AS cb$b").mkString(",\n ")
    val bandOr = (0 until a41Bands).map(b => s"q.qb$b = c.cb$b").mkString(" OR ")
    val dot =
      """ROUND(list_sum(list_transform(list_zip(q.embedding, c.embedding),
        |  p -> CAST(p[1] AS DOUBLE) * p[2])), 4)""".stripMargin
    s"""WITH e AS ($duckCorpus),
       |qb AS (SELECT vec_id, embedding,
       | $qBandCols
       | FROM e WHERE vec_id < $NQ),
       |mx AS (SELECT max(norm) AS mnorm FROM e),
       |ax AS (SELECT vec_id, embedding,
       |         sqrt(mnorm * mnorm - norm * norm) AS aug FROM e, mx),
       |cb AS (SELECT vec_id, embedding,
       | $cBands
       | FROM ax)
       |SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, dot FROM (
       | SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |  $dot AS dot,
       |  row_number() OVER (PARTITION BY q.vec_id
       |    ORDER BY $dot DESC, c.vec_id) AS rank
       | FROM qb q JOIN cb c
       |  ON c.vec_id <> q.vec_id AND ($bandOr))
       |WHERE rank <= $K ORDER BY query_id, rank""".stripMargin
  }

  // ---- a42: IVF-MIPS — pruned index path for inner-product search ----

  /** a42 geometry: 96 cells, 20 probed (candidate fraction ≈
    * nprobe/nlist ≈ 0.21 by construction, measured 0.26), ONE Lloyd
    * refinement step, fixed-point basis 1e-4 with a +2 offset (unit-
    * ball coordinates go strictly positive, so integer floor-division
    * and truncating division agree in both engines). */
  private[graft] val a42NList = 96
  private[graft] val a42NProbe = 20

  /** Quantized augmented coordinates: floor((v + 2) · 1e4 + 0.5) per
    * dimension, the a41 augmentation coord appended. From here to
    * the final dot-product rescore the WHOLE index build runs in
    * BIGINT — cross-row integer sums are order-independent, which is
    * what makes a TRAINED quantizer dialect-replayable at all (float
    * Lloyd means depend on partition-order addition and can flip an
    * argmin cell in the last ulp; integer means cannot). */
  private def a42Quant(vecCol: String, augSql: String): Column = expr(
    s"""concat(
       |  transform($vecCol, x ->
       |    CAST(floor((CAST(x AS DOUBLE) + 2.0D) * 10000D + 0.5D) AS BIGINT)),
       |  array(CAST(floor(($augSql + 2.0D) * 10000D + 0.5D) AS BIGINT)))"""
      .stripMargin)

  /** Augmented, quantized corpus: a41's MIPS reduction (x̂ = [x,
    * sqrt(M²−‖x‖²)], so all corpus vectors share norm M and cosine
    * in the augmented space is monotone in the inner product) in
    * a42's fixed-point basis. */
  /** `histPred` restricts the TRAINING population (max-norm scalar,
    * seeds, Lloyd step) — the s48 stream stance where the quantizer
    * is fit on history and the batch is only ROUTED through it; the
    * quantized basis (history's M) applies to every row so batch
    * vectors land in the same geometry. Default: train on all. */
  private[graft] def a42Base(s: SparkSession, dir: String,
      histPred: Column = lit(true)): DataFrame = {
    // spread (the a48 rationale): every consumer of the quantized base
    // — the Lloyd step's assignment, the index assignment, the probe
    // scoring — is a crossJoin against BROADCAST centroids, so the
    // per-vector work inherits THIS frame's partitioning; the gate
    // corpus is one parquet split and all of it ran in one task.
    val corpus = Par.spread(
      withNorm(Tables.embeddings(s, dir).select("vec_id", "embedding")),
      col("vec_id"))
    val mx = corpus.filter(histPred).agg(max(col("norm")).as("mnorm"))
    corpus.crossJoin(broadcast(mx))
      .withColumn("aug", sqrt(greatest(
        col("mnorm") * col("mnorm") - col("norm") * col("norm"), lit(0.0))))
      .withColumn("qv", a42Quant("embedding", "aug"))
      .select("vec_id", "embedding", "qv")
  }

  /** Nearest centroid by integer squared L2; ties break to the
    * lowest cell id via lexicographic struct-min (the a29b stance). */
  private def a42CellExpr: Column = expr(
    """array_min(transform(cents, c -> struct(
      |  aggregate(zip_with(c.qv, qv, (a, b) -> (a - b) * (a - b)),
      |    0L, (s, v) -> s + v) AS d,
      |  c.cid AS cid))).cid""".stripMargin)

  private def a42Packed(c: DataFrame): DataFrame =
    c.agg(collect_list(struct(col("cid"), col("qv"))).as("cents"))

  /** The deterministic index build: 96 seed vectors chosen by the
    * shared md5 draw (rank over (draw, vec_id) — content-blind,
    * dialect-replayable), one Lloyd step (assign by integer L2,
    * recompute each non-empty cell's centroid as the element-wise
    * integer mean), final assignment. Returns (vec_id, embedding,
    * cell) plus the refined centroids. Everything is in-plan — no
    * driver collect anywhere in the build. */
  private[graft] def a42Refine(s: SparkSession, dir: String,
      histPred: Column = lit(true)): (DataFrame, DataFrame) = {
    val base = a42Base(s, dir, histPred)
    // the refined-centroid frame is 96 rows but its LINEAGE is the
    // whole training job (corpus quantize → seed window → assign →
    // integer-mean aggregates). Every consumer broadcasts it at least
    // twice (index assignment + query routing), and without the
    // persist each broadcast re-executed the training from scratch —
    // measured as the dominant per-pass cost of a42/a43/a49/a51/s48
    // (caching pays when a frame is reused AND recomputing it costs
    // more than holding it). 96 rows of long-arrays:
    // the cache cost is nothing, the recompute was a corpus pass.
    val c1 = a42RefineFrom(base, histPred).persist()
    // eager materialization (the q51/d53 lesson): every consumer
    // broadcasts c1 at least twice (index assignment + query routing),
    // and those broadcast exchanges materialize CONCURRENTLY when the
    // action starts — racing the 96-row cache COLD re-ran the whole
    // training job once per consumer (a42's record band read
    // 2.0–4.2 s from this). One count() runs the training exactly
    // once; recomputed from parquet on every invocation.
    c1.count()
    (base, c1)
  }

  /** The seeds + one-Lloyd-step refinement alone, over an
    * already-quantized base, training on `trainPred` rows — split
    * from [[a42Refine]] so a54 can train two quantizers in ONE
    * shared basis (retrain comparisons need one geometry; the
    * historical a42Refine couples basis and training population,
    * which is the s48 ingest stance, not the retrain stance). */
  private[graft] def a42RefineFrom(base: DataFrame, trainPred: Column)
      : DataFrame = {
    val train = base.filter(trainPred)
    val draw = expr(
      "cast(conv(substring(md5(cast(vec_id as string)), 1, 7), 16, 10) as bigint)")
    // 96 rows total: the unpartitioned window is bounded by the limit
    val w = Window.orderBy(col("draw"), col("vec_id"))
    val c0 = train.withColumn("draw", draw)
      .orderBy("draw", "vec_id").limit(a42NList)
      .withColumn("cid", row_number().over(w).cast("int"))
      .select("cid", "qv")
    val a0 = train.crossJoin(broadcast(a42Packed(c0)))
      .withColumn("cell", a42CellExpr)
    // element-wise integer mean per cell: explode to (cell, pos, v),
    // sum/count (order-independent BIGINT), reassemble in pos order
    a0.select(col("cell"), posexplode(col("qv")).as(Seq("pos", "v")))
      .groupBy("cell", "pos")
      .agg(sum(col("v")).as("sv"), count(lit(1)).as("n"))
      .withColumn("cv", expr("sv div n")) // positive: floor == trunc
      .groupBy("cell")
      .agg(expr("transform(array_sort(collect_list(struct(pos, cv))), s -> s.cv)")
        .as("qv"))
      .select(col("cell").as("cid"), col("qv"))
  }

  private[graft] def a42Index(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val (base, c1) = a42Refine(s, dir)
    val a1 = base.crossJoin(broadcast(a42Packed(c1)))
      .withColumn("cell", a42CellExpr)
      .select("vec_id", "embedding", "cell")
    (a1, c1)
  }

  /** The `m`-nearest-cells projection over a packed centroid array
    * (same integer distances, same cell-id tie rule everywhere). */
  private def a42TopCellsExpr(m: Int): Column = expr(
    s"""transform(slice(array_sort(transform(cents, c -> struct(
       |  aggregate(zip_with(c.qv, qv, (a, b) -> (a - b) * (a - b)),
       |    0L, (s, v) -> s + v) AS d,
       |  c.cid AS cid))), 1, $m), s -> s.cid)""".stripMargin)

  /** Multi-assignment of a quantized stream against refined
    * centroids — the SemDeDup boundary-miss mitigation d46 rides,
    * and s48's index-build leg. */
  private[graft] def a42AssignTopFrom(base: DataFrame, c1: DataFrame,
      m: Int): DataFrame =
    base.crossJoin(broadcast(a42Packed(c1)))
      .withColumn("cells", a42TopCellsExpr(m))
      .select("vec_id", "cells")

  private[graft] def a42AssignTop(s: SparkSession, dir: String, m: Int)
      : DataFrame = {
    val (base, c1) = a42Refine(s, dir)
    a42AssignTopFrom(base, c1, m)
  }

  /** Route a RAW vector batch through a persisted quantizer artifact
    * (centroid table + the training corpus' max-norm scalar — the
    * index metadata a real system stores beside the lists): quantize
    * in the trained basis, explode to the `m` nearest cells. The
    * s48 stream-time leg; one definition with the build-side
    * assignment, so ingest routing cannot drift from the index. */
  private[graft] def a42RouteBatch(batch: DataFrame, mnorm: Double,
      c1: DataFrame, m: Int): DataFrame =
    withNorm(batch)
      .withColumn("aug", sqrt(greatest(
        lit(mnorm) * lit(mnorm) - col("norm") * col("norm"), lit(0.0))))
      .withColumn("qv", a42Quant("embedding", "aug"))
      .crossJoin(broadcast(a42Packed(c1)))
      .withColumn("cell", explode(a42TopCellsExpr(m)))
      .select("vec_id", "embedding", "norm", "cell")

  /** a42: IVF-MIPS — a41's norm-augmentation reduction composed with
    * the IVF cell-routing stance, so maximum-inner-product search
    * gets a PRUNED index path instead of a41's 0.42 candidate
    * fraction: nprobe/nlist = 20/96 ≈ 0.21 of the corpus is touched
    * per query by construction (measured 0.26 with cell-size
    * variance; recall@5 0.825 at sf0.001 / 0.85 at sf0.01 vs exact
    * MIPS — above a41's 0.80 at ~60 % of its candidate volume).
    *
    * The twist that keeps the TRAINED quantizer oracle-checkable
    * (a29 needed the a29b literal split precisely because KMeans
    * isn't SQL-replayable): training is made deterministic instead
    * of being avoided — md5-drawn seeds, ONE Lloyd step in exact
    * fixed-point integer arithmetic (order-independent sums), argmin
    * and routing ties broken by cell id. The DuckDB oracle re-runs
    * the ENTIRE build — seeds, refinement, assignment, routing,
    * rescore — byte-exactly; random unit-norm Gaussian centroids
    * (the a29b idiom) degenerate here because the corpus is unit-
    * norm: every N(0,1) centroid has norm ≈ 8, so the smallest-norm
    * centroid swallows the corpus (measured 483/500 in one cell) and
    * probing becomes a full scan in disguise.
    *
    * Scale (100 TB): the Lloyd step is one explode + integer
    * aggregate over the BUILD corpus (production trains on a bounded
    * sample exactly like a29's fit and ships more iterations through
    * the same integer stance); serving is scan-stage cell assignment
    * against 96 broadcast centroids + the probed-cell equi-join; ≤ K
    * rows per query per map task cross the network ([[rankedTopK]]).
    * Reference analog: lakehouse vector-search notebooks expose
    * cosine ANN only; MIPS with a pruned index is a training-
    * pipeline addition (retrieval scoring, recommendation). */
  /** The query side: augmented with aug = 0 (q̂ = [q, 0]), routed to
    * the [[a42NProbe]] nearest refined centroids. */
  private[graft] def a42ProbeQueries(s: SparkSession, dir: String,
      c1: DataFrame): DataFrame = {
    val corpus = withNorm(Tables.embeddings(s, dir).select("vec_id", "embedding"))
    corpus.filter(col("vec_id") < NQ)
      .withColumn("qv", a42Quant("embedding", "CAST(0 AS DOUBLE)"))
      .crossJoin(broadcast(a42Packed(c1)))
      .withColumn("probe_cells", expr(
        s"""transform(slice(array_sort(transform(cents, c -> struct(
           |  aggregate(zip_with(c.qv, qv, (a, b) -> (a - b) * (a - b)),
           |    0L, (s, v) -> s + v) AS d,
           |  c.cid AS cid))), 1, $a42NProbe), s -> s.cid)""".stripMargin))
      .select(col("vec_id").as("query_id"),
        col("embedding").as("q_embedding"), col("probe_cells"))
  }

  def a42AnnIvfMips(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (a1, c1) = a42Index(s, dir)
    val queries = a42ProbeQueries(s, dir, c1)
    val scored = a1.join(broadcast(queries),
        array_contains(col("probe_cells"), col("cell")) &&
          col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(graft.functions.VectorExprs.floatDot(
          col("q_embedding"), col("embedding")), 4).as("dot"))
      .as[(Long, Long, Double)]
    rankedTopK(s, scored, K, "dot")
  }

  /** DuckDB oracle for a42: the whole deterministic build replayed —
    * same quantization (floor((v+2)·1e4+0.5)), same md5 seed draw
    * and (draw, vec_id) seed ranking, same integer-L2 argmin with
    * cell-id ties, same floor-div integer centroid means in pos
    * order, same nprobe routing, same exact-dot rescore. */
  /** a43: the MIPS index as a PERSISTED parquet artifact — a36's
    * build-once/probe-forever stance applied to a42, completing the
    * MIPS lifecycle: the deterministic integer-Lloyd assignment is
    * written `partitionBy(cell)` so the inverted lists ARE the
    * partition directories, and a probe filtering on the LITERAL
    * 20-cell union reads nprobe/nlist of the files via plan-time
    * partition pruning (PlanSpec pins the PartitionFilters entry,
    * as for a36/a37). The probe-cell literal is ONE bounded driver
    * action over the 8 query rows (the q30/a36 stance); scoring is
    * a42's exact-dot tail on the read-back index. Correctness is the
    * d35/a36 law: probe-from-persisted == in-memory recompute —
    * AnnSpec asserts row-for-row equality with a42 and the oracle IS
    * a42's SQL (same output by construction). */
  def a43PersistedMips(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // construction (deterministic Lloyd build + cell-partitioned
    // write) behind the bench's build/probe split; the cached
    // centroid frame is the bounded handle the probe routes through
    val (idxDir, c1) = graft.BuildCache.build(s"a43:$dir") {
      val (a1, c) = a42Index(s, dir)
      val d = graft.sources.Export.scratch("a43_index", dir)
      a1.write.mode("overwrite").partitionBy("cell").parquet(d)
      // centroids persist INTO the artifact (the metadata a real index
      // stores beside its lists): without this the probe's query
      // routing re-executed the whole Lloyd training from c's lineage
      // on every pass — the read face must route through the artifact,
      // not retrain (exact integers, so the round-trip is lossless)
      val cDir = graft.sources.Export.scratch("a43_cents", dir)
      c.write.mode("overwrite").parquet(cDir)
      (d, Tables.parquet(s, cDir))
    }
    val queries = a42ProbeQueries(s, dir, c1)
    val probed = queries.select(explode(col("probe_cells")).as("c"))
      .distinct().collect().map(_.getInt(0)).sorted
    val pruned = Tables.parquet(s, idxDir)
      .filter(col("cell").isin(probed.map(Int.box): _*))
    val scored = pruned.join(broadcast(queries),
        array_contains(col("probe_cells"), col("cell")) &&
          col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(graft.functions.VectorExprs.floatDot(
          col("q_embedding"), col("embedding")), 4).as("dot"))
      .as[(Long, Long, Double)]
    rankedTopK(s, scored, K, "dot")
  }

  private def a42QuantDuck(v: String): String =
    s"CAST(floor(($v + 2.0) * 10000 + 0.5) AS BIGINT)"
  private def a42IntL2Duck(a: String, b: String): String =
    s"""list_sum(list_transform(list_zip($a, $b),
       |  p -> (p[1] - p[2]) * (p[1] - p[2])))""".stripMargin

  /** The deterministic index build as DuckDB CTEs (e … c1) — ONE SQL
    * body shared by a42's oracle, d46's (semantic dedup rides the
    * same refined cells), and s48's (quantizer trained on history
    * only: `where` restricts the max-norm scalar, the seed draw, and
    * the Lloyd step, while ax quantizes EVERY row in the trained
    * basis — mirroring a42Base/a42Refine's histPred). */
  /** `p` prefixes every CTE name so two builds can share one WITH
    * (the a54 retrain comparison); `basisWhere` splits the
    * quantization basis' population from the training population
    * (null → coupled, the historical behavior every existing oracle
    * keeps). */
  private[graft] def a42BuildCteWhere(where: String, p: String = "",
      basisWhere: String = null): String = {
    val quant = a42QuantDuck _
    val intL2 = a42IntL2Duck _
    val bw = Option(basisWhere).getOrElse(where)
    s"""${p}e AS (
       | SELECT * FROM (
       |  SELECT vec_id, embedding,
       |   sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x))) AS norm
       |  FROM embeddings) WHERE norm > 0),
       |${p}mx AS (SELECT max(norm) AS mnorm FROM ${p}e WHERE $bw),
       |${p}ax AS (
       | SELECT vec_id, embedding,
       |  list_append(
       |    list_transform(embedding, x -> ${quant("CAST(x AS DOUBLE)")}),
       |    ${quant("sqrt(greatest(mnorm * mnorm - norm * norm, 0))")}) AS qv
       | FROM ${p}e, ${p}mx),
       |${p}sd AS (
       | SELECT qv, CAST(row_number() OVER (ORDER BY
       |    CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 7)) AS BIGINT),
       |    vec_id) AS INT) AS cid
       | FROM ${p}ax WHERE $where QUALIFY cid <= $a42NList),
       |${p}a0 AS (
       | SELECT vec_id, qv, cell FROM (
       |  SELECT x.vec_id, x.qv, s.cid AS cell,
       |   row_number() OVER (PARTITION BY x.vec_id
       |     ORDER BY ${intL2("x.qv", "s.qv")}, s.cid) AS rnk
       |  FROM (SELECT * FROM ${p}ax WHERE $where) x, ${p}sd s) WHERE rnk = 1),
       |${p}c1 AS (
       | SELECT cell AS cid, list(cv ORDER BY pos) AS qv FROM (
       |  SELECT cell, i AS pos, CAST(sum(v) // count(*) AS BIGINT) AS cv FROM (
       |   SELECT cell, unnest(qv) AS v,
       |          unnest(generate_series(1, len(qv))) AS i
       |   FROM ${p}a0)
       |  GROUP BY cell, i) GROUP BY cell)""".stripMargin
  }

  private[graft] val a42BuildCte: String = a42BuildCteWhere("TRUE")

  val a42Sql: String = {
    val quant = a42QuantDuck _
    val intL2 = a42IntL2Duck _
    s"""WITH $a42BuildCte,
       |a1 AS (
       | SELECT vec_id, embedding, cell FROM (
       |  SELECT x.vec_id, x.embedding, c.cid AS cell,
       |   row_number() OVER (PARTITION BY x.vec_id
       |     ORDER BY ${intL2("x.qv", "c.qv")}, c.cid) AS rnk
       |  FROM (SELECT a.vec_id, a.qv, e.embedding FROM a0 a JOIN e USING (vec_id)) x, c1 c)
       | WHERE rnk = 1),
       |q AS (
       | SELECT vec_id, embedding,
       |  list_append(
       |    list_transform(embedding, x -> ${quant("CAST(x AS DOUBLE)")}),
       |    ${quant("0.0")}) AS qv
       | FROM e WHERE vec_id < $NQ),
       |qp AS (
       | SELECT vec_id AS query_id, cell FROM (
       |  SELECT q.vec_id, c.cid AS cell,
       |   row_number() OVER (PARTITION BY q.vec_id
       |     ORDER BY ${intL2("q.qv", "c.qv")}, c.cid) AS rnk
       |  FROM q, c1 c) WHERE rnk <= $a42NProbe)
       |SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, dot FROM (
       | SELECT p.query_id, c.vec_id AS neighbor_id,
       |  ROUND(list_sum(list_transform(list_zip(q.embedding, c.embedding),
       |    x -> CAST(x[1] AS DOUBLE) * x[2])), 4) AS dot,
       |  row_number() OVER (PARTITION BY p.query_id
       |    ORDER BY ROUND(list_sum(list_transform(list_zip(q.embedding, c.embedding),
       |      x -> CAST(x[1] AS DOUBLE) * x[2])), 4) DESC, c.vec_id) AS rank
       | FROM qp p
       | JOIN a1 c ON c.cell = p.cell AND c.vec_id <> p.query_id
       | JOIN q ON q.vec_id = p.query_id)
       |WHERE rank <= $K ORDER BY query_id, rank""".stripMargin
  }

  /** The ONE assigned-corpus + load-ledger body behind the IVF
    * index-health family (a44 stats, a45 split, a46 merge): the
    * quantized corpus routed rnk-1 to its refined a42 cell, and the
    * nlist-sized ledger of per-cell counts (empty cells included
    * with 0 — the rows a rebalancer splits or retires). Both frames
    * persist because the rebalancers consume the corpus up to three
    * times (counts, seed ranking, re-routing) and the ledger four —
    * the a42 build must run once, not once per consumer (in
    * production this frame IS the a43 parquet artifact read back).
    * One definition serves the a45/a46 twins. */
  private[graft] def a4xAssignedLedger(base: DataFrame, c1: DataFrame)
      : (DataFrame, DataFrame) = {
    val aq = base.select(col("vec_id"), col("qv"))
      .join(a42AssignTopFrom(base, c1, 1)
        .select(col("vec_id"), col("cells").getItem(0).cast("int").as("cell")),
        Seq("vec_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ledger = a4xLedgerFrom(aq, c1)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // eager materialization (the d51/d53/q51 lesson applied to
    // the rebalancers): a45/a46's final plans carry several BROADCAST
    // subqueries over these frames (seeds, totals, the hot/cold top-K
    // windows), and broadcast exchanges materialize CONCURRENTLY when
    // the action starts — racing consumers of the COLD caches re-ran
    // the Lloyd training + corpus assignment once each (a45 measured
    // 12.2 s cache-cold vs 2.1 warm). ONE count() fills both caches
    // (the ledger reads aq through its rollup) before anything races;
    // recomputed from parquet on every invocation.
    ledger.count()
    (aq, ledger)
  }

  /** The nlist-sized load ledger from any (…, cell) assignment — the
    * shared counting/spine arithmetic alone. a44 rides THIS with the
    * bare assignment (its dashboard never touches qv, so caching the
    * corpus-width aq frame for it would be pure overhead — review
    * finding); the rebalancers get both frames via
    * [[a4xAssignedLedger]]. */
  private[graft] def a4xLedgerFrom(assign: DataFrame, c1: DataFrame): DataFrame =
    c1.select(col("cid").cast("int").as("cell"))
      .join(assign.groupBy("cell").agg(count(lit(1)).as("vectors")),
        Seq("cell"), "left")
      .select(col("cell"),
        coalesce(col("vectors"), lit(0L)).as("parent_vectors"))

  /** The DuckDB twin of [[a4xAssignedLedger]], pasted once into the
    * a44/a45/a46 oracles: the rnk-1 assignment (`a1`), the load
    * ledger (`led`), and the corpus totals (`t`). */
  private[graft] val a4xLedgerCte: String = {
    val intL2 = a42IntL2Duck _
    s"""a1 AS (
       | SELECT vec_id, qv, cell FROM (
       |  SELECT x.vec_id, x.qv, c.cid AS cell,
       |   row_number() OVER (PARTITION BY x.vec_id
       |     ORDER BY ${intL2("x.qv", "c.qv")}, c.cid) AS rnk
       |  FROM a0 x, c1 c) WHERE rnk = 1),
       |led AS (
       | SELECT CAST(c1.cid AS INT) AS cell,
       |  CAST(coalesce(cnt.vectors, 0) AS BIGINT) AS parent_vectors
       | FROM c1 LEFT JOIN
       |  (SELECT cell, count(*) AS vectors FROM a1 GROUP BY 1) cnt
       |  ON cnt.cell = c1.cid),
       |t AS (SELECT
       |  (SELECT CAST(sum(parent_vectors) AS BIGINT) FROM led) AS n,
       |  (SELECT count(*) FROM led) AS nlist)""".stripMargin
  }

  /** a44: IVF cell-balance stats — the index-health dashboard that
    * completes a39's eval story (a39 measures recall, a44 measures
    * the LOAD SKEW that decides whether the pruning promise holds):
    * one ledger row per refined a42 centroid with its assigned
    * vector count and load factor (count × nlist / n — 1.0 is
    * perfect balance), empty cells included with 0 (the rows a
    * rebalancer would split or retire). Assignment is
    * [[a42AssignTopFrom]] with m = 1 — the SAME routing the index,
    * semantic dedup (d46), and stream admission (s48) use, so the
    * dashboard measures the shipped partition, not a twin. Scale:
    * the shared [[a4xLedgerFrom]] counting body over the bare
    * assignment — one pass of the quantized stream against the
    * broadcast packed centroids + one cell-keyed count; the ledger
    * is nlist-sized and the corpus-width frame is never cached. */
  def a44CellStats(s: SparkSession, dir: String): DataFrame = {
    val (base, c1) = a42Refine(s, dir)
    // the ledger feeds two consumers (totals + output rows): persist
    // IT — but not the corpus-width aq frame a44 never reads
    val ledger = a4xLedgerFrom(
        a42AssignTopFrom(base, c1, 1)
          .select(col("vec_id"), col("cells").getItem(0).cast("int").as("cell")),
        c1)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // eager materialization (the a4xAssignedLedger rationale):
    // the broadcast totals subquery and the output scan race the cold
    // ledger cache, each re-running training + assignment
    ledger.count()
    val totals = ledger.agg(sum(col("parent_vectors")).as("n"),
      count(lit(1)).as("nlist"))
    ledger.crossJoin(broadcast(totals))
      .select(col("cell"),
        col("parent_vectors").as("vectors"),
        round(col("parent_vectors").cast("double") *
          col("nlist") / col("n"), 4).as("load_factor"))
      .orderBy("cell")
  }

  /** DuckDB oracle for a44: the shared a42 build CTEs, the shared
    * [[a4xLedgerCte]] assignment/ledger/totals, and the load
    * arithmetic (every vector routes to exactly one cell, so the
    * ledger sum IS the corpus count). */
  val a44Sql: String =
    s"""WITH $a42BuildCte,
       |$a4xLedgerCte
       |SELECT cell, parent_vectors AS vectors,
       | ROUND(CAST(parent_vectors AS DOUBLE) * nlist / n, 4) AS load_factor
       |FROM led CROSS JOIN t ORDER BY cell""".stripMargin

  /** a45 split budget: how many of the most-loaded lists one
    * maintenance cycle splits. A fixed budget (not a load
    * threshold) is the operational form: the rebalancer does a
    * bounded amount of work per cycle regardless of how skew is
    * distributed, and the policy is non-vacuous at every corpus
    * size. */
  private[graft] val a45Budget = 8

  /** a45: hot-cell split — the REBALANCER that acts on a44's
    * ledger, completing the index-health loop (a44 measures the
    * load skew; a45 is the maintenance action a real IVF system
    * schedules when a list grows hot — a hot cell is a scan in
    * disguise, and splitting it restores the nprobe/nlist pruning
    * promise). Policy: the [[a45Budget]] most-loaded lists (ties to
    * the lower cell id) each split in two; the split is the SAME
    * deterministic machinery as the build — seeds are the cell's
    * two lowest-(md5-draw, vec_id) members (the a42 content-blind
    * seed rule), members route to the nearer seed by the integer-L2
    * argmin with the same tie stance (distance, then lower sub).
    * Output is the post-split ledger: one row per resulting list
    * with parent count, child count, and load factors before/after
    * (after = against nlist + budget lists).
    *
    * Scale (100 TB): the ledger/top-K window is nlist-sized (the
    * q41 bounded-window stance); only the 8 hot cells' members
    * reshuffle (keyed by cell — in a43's partitionBy(cell) layout
    * that is 8 partition directories rewritten, history elsewhere
    * untouched); the 16 seed rows broadcast. The split leaves every
    * cold list byte-identical — exactly what an in-place index
    * maintenance action must do. */
  def a45CellSplit(s: SparkSession, dir: String): DataFrame = {
    val (base, c1) = a42Refine(s, dir)
    val (aq, ledger) = a4xAssignedLedger(base, c1)
    val wtop = Window.orderBy(col("parent_vectors").desc, col("cell"))
    val hot = ledger.withColumn("hrk", row_number().over(wtop))
      .filter(col("hrk") <= a45Budget).select("cell")
    val draw = expr(
      "cast(conv(substring(md5(cast(vec_id as string)), 1, 7), 16, 10) as bigint)")
    val wseed = Window.partitionBy("cell").orderBy("draw", "vec_id")
    val seeds = aq.join(hot, Seq("cell"))
      .withColumn("draw", draw)
      .withColumn("srk", row_number().over(wseed))
      .filter(col("srk") <= 2)
      .select(col("cell"), (col("srk") - 1).cast("int").as("sub"),
        col("qv").as("sqv"))
    val wsub = Window.partitionBy("cell", "vec_id").orderBy(col("d"), col("sub"))
    val subAssign = aq.join(hot, Seq("cell")).join(broadcast(seeds), Seq("cell"))
      .withColumn("d", expr(
        "aggregate(zip_with(sqv, qv, (a, b) -> (a - b) * (a - b)), 0L, (s, v) -> s + v)"))
      .withColumn("rnk", row_number().over(wsub))
      .filter(col("rnk") === 1)
      .select("cell", "sub", "vec_id")
    val coldRows = ledger.join(hot, Seq("cell"), "left_anti")
      .select(col("cell"), lit(0).as("sub"), lit(false).as("was_split"),
        col("parent_vectors"), col("parent_vectors").as("vectors"))
    val subCounts = subAssign.groupBy("cell", "sub").agg(count(lit(1)).as("cnt"))
    val hotRows = ledger.join(hot, Seq("cell"))
      .select(col("cell"), explode(expr("array(0, 1)")).as("sub"),
        col("parent_vectors"))
      .join(subCounts, Seq("cell", "sub"), "left")
      .select(col("cell"), col("sub"), lit(true).as("was_split"),
        col("parent_vectors"), coalesce(col("cnt"), lit(0L)).as("vectors"))
    val totals = ledger.agg(sum(col("parent_vectors")).as("n"),
      count(lit(1)).as("nlist"))
    coldRows.unionByName(hotRows)
      .crossJoin(broadcast(totals))
      .select(col("cell"), col("sub"), col("was_split"),
        col("parent_vectors"), col("vectors"),
        round(col("parent_vectors").cast("double") * col("nlist") / col("n"), 4)
          .as("load_before"),
        round(col("vectors").cast("double") * (col("nlist") + lit(a45Budget)) /
          col("n"), 4).as("load_after"))
      .orderBy("cell", "sub")
  }

  /** DuckDB oracle for a45: the shared a42 build CTEs, the identical
    * rnk-1 assignment, the same budgeted top-K hot set, seed
    * ranking, nearer-seed routing, and ledger arithmetic. */
  val a45Sql: String = {
    val intL2 = a42IntL2Duck _
    s"""WITH $a42BuildCte,
       |$a4xLedgerCte,
       |hot AS (SELECT cell FROM (
       |  SELECT cell, row_number() OVER (ORDER BY parent_vectors DESC, cell)
       |   AS hrk FROM led) WHERE hrk <= $a45Budget),
       |seeds AS (
       | SELECT cell, CAST(srk - 1 AS INT) AS sub, qv AS sqv FROM (
       |  SELECT a.cell, a.qv,
       |   row_number() OVER (PARTITION BY a.cell ORDER BY
       |     CAST(('0x' || substr(md5(CAST(a.vec_id AS VARCHAR)), 1, 7)) AS BIGINT),
       |     a.vec_id) AS srk
       |  FROM a1 a JOIN hot USING (cell)) WHERE srk <= 2),
       |subassign AS (
       | SELECT cell, sub, vec_id FROM (
       |  SELECT m.cell, s.sub, m.vec_id,
       |   row_number() OVER (PARTITION BY m.cell, m.vec_id
       |     ORDER BY ${intL2("m.qv", "s.sqv")}, s.sub) AS rnk
       |  FROM (SELECT a.* FROM a1 a JOIN hot USING (cell)) m
       |  JOIN seeds s ON s.cell = m.cell) WHERE rnk = 1),
       |out_ AS (
       | SELECT l.cell, 0 AS sub, FALSE AS was_split,
       |   l.parent_vectors, l.parent_vectors AS vectors
       | FROM led l WHERE l.cell NOT IN (SELECT cell FROM hot)
       | UNION ALL
       | SELECT l.cell, s.sub, TRUE, l.parent_vectors,
       |   CAST(coalesce(sc.cnt, 0) AS BIGINT)
       | FROM led l JOIN hot h ON h.cell = l.cell
       | CROSS JOIN (SELECT 0 AS sub UNION ALL SELECT 1) s
       | LEFT JOIN (SELECT cell, sub, count(*) AS cnt FROM subassign
       |            GROUP BY 1, 2) sc
       |   ON sc.cell = l.cell AND sc.sub = s.sub)
       |SELECT cell, CAST(sub AS INT) AS sub, was_split, parent_vectors,
       | vectors,
       | ROUND(CAST(parent_vectors AS DOUBLE) * nlist / n, 4) AS load_before,
       | ROUND(CAST(vectors AS DOUBLE) * (nlist + $a45Budget) / n, 4)
       |  AS load_after
       |FROM out_ CROSS JOIN t ORDER BY cell, sub""".stripMargin
  }

  /** a46: cold-list merge — a45's inverse, completing the IVF
    * maintenance pair (a44 measures the skew, a45 splits the hot
    * lists, a46 RETIRES the cold ones: near-empty inverted lists are
    * pure overhead — every probe that touches one pays a file open
    * for a handful of vectors, and the centroid still occupies a
    * routing slot every query scores). Policy: the [[a45Budget]]
    * LEAST-loaded lists (ties to the lower cell id — the a45 rule
    * mirrored) are retired; their members re-route to the nearest
    * SURVIVING centroid by the same integer-L2 argmin with the same
    * lowest-cell-id tie stance the build uses. Output is the
    * post-merge ledger: one row per surviving list with its own
    * count, the absorbed count, and load before/after (after =
    * against nlist − budget lists).
    *
    * Scale (100 TB): only the retired lists' members move — in
    * a43's partitionBy(cell) layout that is 8 partition directories
    * re-routed (each batch-appended to its absorbing survivor's
    * directory, the a37 append stance), history elsewhere untouched;
    * the 88 survivor centroids broadcast to route them; the ledger
    * windows are nlist-sized (the q41 bounded-window stance). */
  def a46CellMerge(s: SparkSession, dir: String): DataFrame = {
    val (base, c1) = a42Refine(s, dir)
    val (aq, ledger) = a4xAssignedLedger(base, c1)
    val wcold = Window.orderBy(col("parent_vectors"), col("cell"))
    val cold = ledger.withColumn("crk", row_number().over(wcold))
      .filter(col("crk") <= a45Budget).select("cell")
    val survivors = c1.join(cold.select(col("cell").as("cid")),
      Seq("cid"), "left_anti")
    val rerouted = aq.join(cold, Seq("cell"))
      .crossJoin(broadcast(a42Packed(survivors)))
      .select(col("vec_id"), a42CellExpr.cast("int").as("cell"))
    val absorbed = rerouted.groupBy("cell").agg(count(lit(1)).as("abs_cnt"))
    val totals = ledger.agg(sum(col("parent_vectors")).as("n"),
      count(lit(1)).as("nlist"))
    ledger.join(cold, Seq("cell"), "left_anti")
      .join(absorbed, Seq("cell"), "left")
      .select(col("cell"), col("parent_vectors"),
        coalesce(col("abs_cnt"), lit(0L)).as("absorbed"))
      .crossJoin(broadcast(totals))
      .select(col("cell"), col("parent_vectors"), col("absorbed"),
        (col("parent_vectors") + col("absorbed")).as("vectors"),
        round(col("parent_vectors").cast("double") * col("nlist") / col("n"), 4)
          .as("load_before"),
        round((col("parent_vectors") + col("absorbed")).cast("double") *
          (col("nlist") - lit(a45Budget)) / col("n"), 4).as("load_after"))
      .orderBy("cell")
  }

  /** DuckDB oracle for a46: the shared a42 build CTEs, the identical
    * rnk-1 assignment, the mirrored bottom-K cold set, nearest-
    * survivor re-routing, and ledger arithmetic. */
  val a46Sql: String = {
    val intL2 = a42IntL2Duck _
    s"""WITH $a42BuildCte,
       |$a4xLedgerCte,
       |cold AS (SELECT cell FROM (
       |  SELECT cell, row_number() OVER (ORDER BY parent_vectors, cell)
       |   AS crk FROM led) WHERE crk <= $a45Budget),
       |surv AS (SELECT * FROM c1 WHERE cid NOT IN (SELECT cell FROM cold)),
       |rerouted AS (
       | SELECT vec_id, cell FROM (
       |  SELECT m.vec_id, c.cid AS cell,
       |   row_number() OVER (PARTITION BY m.vec_id
       |     ORDER BY ${intL2("m.qv", "c.qv")}, c.cid) AS rnk
       |  FROM (SELECT a.* FROM a1 a JOIN cold USING (cell)) m, surv c)
       | WHERE rnk = 1),
       |ab AS (SELECT cell, count(*) AS abs_cnt FROM rerouted GROUP BY 1)
       |SELECT l.cell, l.parent_vectors,
       | CAST(coalesce(ab.abs_cnt, 0) AS BIGINT) AS absorbed,
       | CAST(l.parent_vectors + coalesce(ab.abs_cnt, 0) AS BIGINT) AS vectors,
       | ROUND(CAST(l.parent_vectors AS DOUBLE) * nlist / n, 4) AS load_before,
       | ROUND(CAST(l.parent_vectors + coalesce(ab.abs_cnt, 0) AS DOUBLE) *
       |  (nlist - $a45Budget) / n, 4) AS load_after
       |FROM led l LEFT JOIN ab ON ab.cell = l.cell CROSS JOIN t
       |WHERE l.cell NOT IN (SELECT cell FROM cold)
       |ORDER BY l.cell""".stripMargin
  }

  /** a47's sweep points — literal, so both engines iterate the same
    * curve; 16 = every cell = the exact scan. */
  private[graft] val a47Probes = Seq(1, 2, 4, 8, 16)

  /** a47: the nprobe–recall tuning curve — the measurement an IVF
    * operator actually tunes with, completing the eval story (a39
    * measures ONE operating point at the shipped nprobe=4; a47
    * sweeps nprobe ∈ {1,2,4,8,16} and reports, per point, recall@K
    * against exact truth plus the candidate volume paid for it — the
    * recall/cost frontier that decides the production setting).
    *
    * The trick that makes the sweep ONE scan instead of five: every
    * corpus vector lives in exactly one cell, and a query's cells
    * have a fixed probe order (distance asc, cell id — a29b's struct
    * sort), so each (query, candidate) pair is scored ONCE tagged
    * with the candidate cell's probe rank; the nprobe=p result is
    * then "rank within pairs whose probe rank ≤ p" — a filter over
    * the shared scored stream, not a re-scan. The p=16 point covers
    * every cell, so the SAME stream also yields the exact truth
    * (= a27's answer) and both frontier endpoints are self-checking:
    * recall_ppm(16) = cand_frac_ppm(16) = 10⁶ by construction.
    * Ratios ship as exact-integer ppm (the a39 stance — no
    * cross-engine float division).
    *
    * Scale (100 TB): the full-corpus scoring is the price of exact
    * GROUND TRUTH, which any recall eval pays once (a39/a27 stance —
    * NQ-bounded: 8 queries × corpus, evaluation-sized); the curve
    * itself adds only scan-side explode (≤ |probes| copies of each
    * scored row), two bounded-key aggregates, and a 1-row total
    * broadcast. No join grows with nprobe. */
  def a47NprobeCurve(s: SparkSession, dir: String): DataFrame = {
    val corpus = ivfRoutedCorpus(s, dir)
    val qcells = corpus.filter(col("vec_id") < NQ)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"),
        col("norm").as("q_norm"),
        posexplode(expr(
          """transform(array_sort(
            |  zip_with(dl, sequence(0, 15), (d, i) -> struct(d, i))), s -> s.i)"""
            .stripMargin)))
      .select(col("query_id"), col("q_embedding"), col("q_norm"),
        (col("pos") + 1).cast("int").as("prnk"), col("col").cast("int").as("cell"))
    val scored = corpus.select("vec_id", "embedding", "norm", "cell")
      .join(broadcast(qcells), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(cosine, 4).as("cosine"), col("prnk"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val wTruth = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id"))
    val truth = scored.withColumn("rk", row_number().over(wTruth))
      .filter(col("rk") <= K).select("query_id", "neighbor_id")
    val exploded = scored.select(col("query_id"), col("neighbor_id"),
        col("cosine"),
        explode(expr(s"filter(array(${a47Probes.mkString(", ")}), p -> p >= prnk)"))
          .as("nprobe"))
    val wP = Window.partitionBy("nprobe", "query_id")
      .orderBy(col("cosine").desc, col("neighbor_id"))
    val matched = exploded.withColumn("rk", row_number().over(wP))
      .filter(col("rk") <= K)
      .join(truth, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy("nprobe").agg(count(lit(1)).as("matched"))
    val cands = exploded.groupBy("nprobe").agg(count(lit(1)).as("candidates"))
    val total = scored.agg(count(lit(1)).as("total_pairs"))
    // LEFT join: a sweep point whose top-K captures NOTHING of the
    // truth has no `matched` group — an inner join would silently
    // drop that curve row instead of shipping recall_ppm = 0 (review
    // finding; the a44/d49 complete-ledger stance applies here too)
    cands.join(matched, Seq("nprobe"), "left")
      .withColumn("matched", coalesce(col("matched"), lit(0L)))
      .crossJoin(broadcast(total))
      .select(col("nprobe"),
        expr(s"matched * 1000000 div ${NQ * K}").as("recall_ppm"),
        col("candidates"),
        expr("candidates * 1000000 div total_pairs").as("cand_frac_ppm"))
      .orderBy("nprobe")
  }

  /** DuckDB oracle for a47: the shared [[ivfCellsCte]] routing, the
    * identical probe-rank tagging (row_number over (distance, cell)),
    * one shared scored stream feeding truth and every curve point,
    * and the same integer-ppm arithmetic. */
  val a47Sql: String =
    s"""WITH ${ivfCellsCte("TRUE")},
       |qord AS (
       | SELECT vec_id AS query_id, CAST(i - 1 AS INT) AS cell,
       |  CAST(row_number() OVER (PARTITION BY vec_id ORDER BY dl[i], i) AS INT)
       |   AS prnk
       | FROM (SELECT vec_id, dl, unnest(generate_series(1, 16)) AS i
       |       FROM cells WHERE vec_id < $NQ)),
       |scored AS (
       | SELECT o.query_id, c.vec_id AS neighbor_id,
       |  $duckCosine AS cosine, o.prnk
       | FROM qord o
       |  JOIN cells q ON q.vec_id = o.query_id
       |  JOIN cells c ON c.cell = o.cell AND c.vec_id <> o.query_id),
       |truth AS (
       | SELECT query_id, neighbor_id FROM (
       |  SELECT query_id, neighbor_id, row_number() OVER (
       |    PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rk
       |  FROM scored) WHERE rk <= $K),
       |ex AS (
       | SELECT s.query_id, s.neighbor_id, s.cosine, p.nprobe
       | FROM scored s JOIN (SELECT unnest([${a47Probes.mkString(", ")}]) AS nprobe) p
       |  ON p.nprobe >= s.prnk),
       |ak AS (
       | SELECT nprobe, query_id, neighbor_id FROM (
       |  SELECT nprobe, query_id, neighbor_id, row_number() OVER (
       |    PARTITION BY nprobe, query_id ORDER BY cosine DESC, neighbor_id) AS rk
       |  FROM ex) WHERE rk <= $K),
       |mt AS (
       | SELECT nprobe, count(*) AS matched FROM ak
       | WHERE EXISTS (SELECT 1 FROM truth t
       |   WHERE t.query_id = ak.query_id AND t.neighbor_id = ak.neighbor_id)
       | GROUP BY 1),
       |cd AS (SELECT nprobe, count(*) AS candidates FROM ex GROUP BY 1),
       |tot AS (SELECT count(*) AS total_pairs FROM scored)
       |SELECT CAST(cd.nprobe AS INT) AS nprobe,
       | CAST(COALESCE(mt.matched, 0) * 1000000 // ${NQ * K} AS BIGINT)
       |  AS recall_ppm,
       | CAST(cd.candidates AS BIGINT) AS candidates,
       | CAST(cd.candidates * 1000000 // tot.total_pairs AS BIGINT)
       |  AS cand_frac_ppm
       |FROM cd LEFT JOIN mt USING (nprobe) CROSS JOIN tot
       |ORDER BY nprobe""".stripMargin

  /** a48: hard-negative mining — the contrastive-training data op
    * (the reason an embedding pipeline runs ANN at all during
    * TRAINING, not serving): for every anchor vector, the top-5
    * most-similar DIFFERENT-label vectors among its IVF cell-mates
    * — similar enough to be informative gradients, label-disjoint
    * so they are true negatives — plus the count of same-label
    * cell-mates the miner refused to emit (the false-negative
    * guard: emitting a same-label near-neighbor as a "negative" is
    * the classic contrastive-training data bug). An anchor whose
    * cell-mates are ALL same-label — the worst contamination risk,
    * and exactly the anchor a negatives-only stream silently drops
    * (review finding, fixed) — still surfaces as one rank-0
    * sentinel row (null negative, refusal count intact). Cells are
    * the a29/a29b literal-centroid assignment VERBATIM (the shared
    * quantizer the whole IVF family pins), so mining, probing, and
    * the a47 tuning curve all agree on what a cell is.
    *
    * Scale (100 TB): mining is a cell-keyed SELF-join — quadratic
    * only WITHIN a cell (the IVF point: nlist grows with the corpus
    * — a42 uses 96 — keeping cells bounded), never the corpus
    * cross-product; ranking windows per anchor; the refused-
    * positives count is one keyed aggregate off the same joined
    * stream. Every arithmetic step is the audited dual-dialect
    * cosine/argmin, byte-exact. */
  def a48HardNegatives(s: SparkSession, dir: String): DataFrame = {
    // spread on vec_id: the cell join below explodes |cell|² scored
    // pairs with its anchor side broadcast, so the explosion inherits
    // THIS side's partitioning — the gate corpus is one parquet split,
    // and the whole scoring ran in one task (profiled: a 7.6 s 1-task
    // stage).
    val corpus = Par.spread(withNorm(Tables.embeddings(s, dir)
        .select("vec_id", "embedding", "label")), col("vec_id"))
      .withColumn("dl", centroidDistsExpr("embedding"))
      .withColumn("cell", nearestCellExpr)
      .select("vec_id", "embedding", "norm", "label", "cell")
    val anchors = corpus.select(col("cell"), col("vec_id").as("anchor_id"),
      col("embedding").as("q_embedding"), col("norm").as("q_norm"),
      col("label").as("q_label"))
    val mates = corpus.join(anchors, Seq("cell"))
      .filter(col("vec_id") =!= col("anchor_id"))
    val perAnchor = mates.groupBy("anchor_id").agg(
      count(lit(1)).as("cell_mates"),
      sum(when(col("label") === col("q_label"), 1L).otherwise(0L))
        .as("same_label_mates"))
    val w = Window.partitionBy(col("anchor_id"))
      .orderBy(col("cosine").desc, col("negative_id"))
    val negs = mates.filter(col("label") =!= col("q_label"))
      .select(col("anchor_id"), col("vec_id").as("negative_id"),
        round(cosine, 4).as("cosine"))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= K)
      .join(perAnchor, Seq("anchor_id"))
      .select(col("anchor_id"), col("rank").cast("int").as("rank"),
        col("negative_id"), col("cosine"), col("same_label_mates"))
    // an anchor whose cell-mates are ALL same-label is the WORST
    // contamination risk — it must still surface its refusal count
    // (review finding: the negatives-only stream silently dropped
    // it), so it emits one rank-0 sentinel row with no negative
    val sentinels = perAnchor
      .filter(col("same_label_mates") === col("cell_mates"))
      .select(col("anchor_id"), lit(0).as("rank"),
        lit(null).cast("long").as("negative_id"),
        lit(null).cast("double").as("cosine"), col("same_label_mates"))
    negs.unionByName(sentinels).orderBy("anchor_id", "rank")
  }

  /** DuckDB oracle for a48: the shared [[ivfCellsCte]] routing plus
    * a label join, identical cell-mate cosine, identical different-
    * label ranking and refused-positives count. */
  val a48Sql: String =
    s"""WITH ${ivfCellsCte("TRUE")},
       |labc AS (
       | SELECT c.vec_id, c.embedding, c.norm, c.cell, l.label
       | FROM cells c JOIN embeddings l USING (vec_id)),
       |mates AS (
       | SELECT a.vec_id AS anchor_id, a.label AS q_label,
       |  c.vec_id, c.label,
       |  ROUND(list_sum(list_transform(list_zip(a.embedding, c.embedding),
       |    p -> CAST(p[1] AS DOUBLE) * p[2])) / (a.norm * c.norm), 4) AS cosine
       | FROM labc a JOIN labc c ON a.cell = c.cell AND c.vec_id <> a.vec_id),
       |per_anchor AS (
       | SELECT anchor_id, count(*) AS cell_mates,
       |  CAST(sum(CASE WHEN label = q_label THEN 1 ELSE 0 END) AS BIGINT)
       |    AS same_label_mates
       | FROM mates GROUP BY 1),
       |neg AS (
       | SELECT anchor_id AS n_anchor, vec_id AS negative_id, cosine,
       |  row_number() OVER (PARTITION BY anchor_id
       |    ORDER BY cosine DESC, vec_id) AS rank
       | FROM mates WHERE label <> q_label)
       |SELECT n.n_anchor AS anchor_id, CAST(rank AS INT) AS rank,
       | negative_id, cosine, same_label_mates
       |FROM neg n JOIN per_anchor p ON p.anchor_id = n.n_anchor
       |WHERE rank <= $K
       |UNION ALL
       |SELECT anchor_id, 0 AS rank, CAST(NULL AS BIGINT) AS negative_id,
       | CAST(NULL AS DOUBLE) AS cosine, same_label_mates
       |FROM per_anchor WHERE same_label_mates = cell_mates
       |ORDER BY anchor_id, rank""".stripMargin

  /** a49's graph degree and probe width. 4 probes (vs d46/s48's 2)
    * because a GRAPH needs the tail of each neighborhood, not just
    * the nearest twin — the recall/cost point is measured in
    * AnnSpec and printed honestly (the a41/a47 stance). */
  private[graft] val a49K = 10
  private[graft] val a49Probes = 4

  /** a49: k-NN graph join — the all-vectors neighbor-graph build
    * behind SemDeDup-style clustering, graph-based dedup, and ANN
    * index construction (a42 answers "top-k for THESE queries"; a49
    * materializes top-k for EVERY vector — the self-join form): each
    * vector probes its [[a49Probes]] = 4 nearest trained a42 cells
    * (the d46/s48 multi-probe idea widened), candidates are the cell-
    * cohabitants under the rnk-1 index assignment, and the exact
    * rounded cosine ranks the top [[a49K]] per source. Everything
    * rides the SAME deterministic a42 build, so the whole graph
    * replays byte-exactly in DuckDB (the a42 stance). AnnSpec
    * measures the honest numbers against an in-memory brute-force
    * leg: on the spec corpus — STRUCTURELESS at that SF (max pair
    * cosine < 0.5, no planted twins, so absolute recall is bounded
    * by geometry) — twin capture 0.578, tail recall@10 0.388, from
    * a 0.0496 candidate fraction: a 7.8× lift over an equal-size
    * random candidate set (the a41 candidate-fraction stance).
    *
    * Scale (100 TB): candidates are quadratic only WITHIN cells
    * (Σ|cell|·2m per source — nlist grows with the corpus, the a42
    * design point); the scoring join is cell-keyed, the top-k a
    * per-source window over its own candidates; no global sort, no
    * all-pairs anywhere. */
  /** The routed-candidate cosine scoring a49 and a51 share: sources
    * (restricted by `srcPred` — pushed into the assignment scan)
    * probe their [[a49Probes]] nearest trained cells, candidates are
    * the rnk-1-indexed cell cohabitants, and the exact rounded
    * cosine scores each (src, dst) pair. What consumes the scores —
    * a49's per-source top-k window or a51's radius threshold — is
    * the only difference between the two query shapes. */
  private[graft] def a49Scored(s: SparkSession, dir: String,
      srcPred: Column): DataFrame = {
    import graft.functions.VectorExprs
    val (base, c1) = a42Refine(s, dir)
    val e = VectorExprs.withNorm(
      graft.Tables.embeddings(s, dir).select("vec_id", "embedding"))
    // ONE corpus assignment pass for both join sides: the rnk-1
    // index cell is element 0 of the top-[[a49Probes]] assignment by
    // construction (same distance struct, same tie rule), so the
    // top-m pass is computed once, persisted (corpus × 5 ints), and
    // both sides derive from it — previously idx and qry each ran
    // their own corpus × centroid assignment, and each re-executed
    // the training lineage on top (see a42Refine's persist).
    val top = a42AssignTopFrom(base, c1, a49Probes).persist()
    // eager materialization: both join sides derive from `top`
    // and their exchanges materialize concurrently when the action
    // starts — racing the cold cache re-ran the corpus assignment
    // (and the training lineage under it) once per side; a51's
    // record band read 1.8–14.8 s from exactly this race. One count
    // fills the cache (and c1's persisted training result through
    // it) before the sides race; recomputed from parquet per pass.
    top.count()
    val idx = top
      .select(col("vec_id").as("dst"), col("cells").getItem(0).as("cell"))
    val qry = top.filter(srcPred)
      .select(col("vec_id").as("src"), explode(col("cells")).as("cell"))
    val cand = qry.join(idx, Seq("cell"))
      .filter(col("src") =!= col("dst"))
      .select("src", "dst").distinct()
    cand
      .join(e.select(col("vec_id").as("src"), col("embedding").as("se"),
        col("norm").as("sn")), Seq("src"))
      .join(e.select(col("vec_id").as("dst"), col("embedding").as("de"),
        col("norm").as("dn")), Seq("dst"))
      .withColumn("cos", round(
        VectorExprs.floatDot(col("se"), col("de")) /
          (col("sn") * col("dn")), 4))
  }

  def a49KnnJoin(s: SparkSession, dir: String): DataFrame = {
    val scored = a49Scored(s, dir, lit(true))
    val w = Window.partitionBy("src").orderBy(col("cos").desc, col("dst"))
    scored.withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= a49K)
      .select(col("src"), col("rank"), col("dst"), col("cos"))
      .orderBy("src", "rank")
  }

  /** DuckDB oracle for a49: the shared a42 build CTEs, the identical
    * rnk-1 index / rnk ≤ [[a49Probes]] probe assignments, cell-join
    * candidates, and the established rounded-cosine idiom. */
  val a49Sql: String = {
    val intL2 = a42IntL2Duck _
    s"""WITH $a42BuildCte,
       |i AS (
       | SELECT vec_id AS dst, cell FROM (
       |  SELECT x.vec_id, c.cid AS cell,
       |   row_number() OVER (PARTITION BY x.vec_id
       |     ORDER BY ${intL2("x.qv", "c.qv")}, c.cid) AS rnk
       |  FROM ax x, c1 c) WHERE rnk = 1),
       |qp AS (
       | SELECT vec_id AS src, cell FROM (
       |  SELECT x.vec_id, c.cid AS cell,
       |   row_number() OVER (PARTITION BY x.vec_id
       |     ORDER BY ${intL2("x.qv", "c.qv")}, c.cid) AS rnk
       |  FROM ax x, c1 c) WHERE rnk <= $a49Probes),
       |cand AS (
       | SELECT DISTINCT qp.src, i.dst FROM qp JOIN i USING (cell)
       | WHERE qp.src <> i.dst),
       |scored AS (
       | SELECT c.src, c.dst,
       |  ROUND(list_sum(list_transform(list_zip(es.embedding, ed.embedding),
       |    p -> CAST(p[1] AS DOUBLE) * p[2])) / (es.norm * ed.norm), 4) AS cos
       | FROM cand c
       | JOIN e es ON es.vec_id = c.src
       | JOIN e ed ON ed.vec_id = c.dst)
       |SELECT src, rank, dst, cos FROM (
       | SELECT *, CAST(row_number() OVER (PARTITION BY src
       |   ORDER BY cos DESC, dst) AS INT) AS rank
       | FROM scored)
       |WHERE rank <= $a49K ORDER BY src, rank""".stripMargin
  }

  /** a51's cosine radius: 0.25 keeps result sets non-trivial on the
    * structureless gate corpus (86 brute matches for the 8 queries at
    * sf0.001, 90 at sf0.01 — measured) while staying selective. */
  private[graft] val a51Tau = 0.25

  /** a51: range search — the ANN family's missing QUERY SHAPE (a27–
    * a49 all answer "the k best"; FAISS `range_search` answers "ALL
    * neighbors at least this similar", the form retrieval filters,
    * duplicate radius scans, and recall-controlled candidate
    * generation actually want, with result sets that vary per query
    * instead of being padded or truncated to k): the [[NQ]] query
    * vectors route through [[a49Scored]]'s shared 4-probe cell
    * machinery and every candidate with rounded cosine ≥ [[a51Tau]]
    * returns — no window, no rank, the result is a FILTER. The
    * routed cut is real and measured (AnnSpec pins routed == brute ∩
    * candidates — the threshold never drops a candidate — plus
    * honest radius recall vs the exact in-memory brute leg); the
    * whole pipeline replays byte-exactly in DuckDB (the a42/a49
    * deterministic-build stance).
    *
    * Scale: identical to a49's — candidates quadratic only within
    * probed cells, and the threshold filter is codegen'd in the
    * scoring scan with NO per-query window at all (a radius query is
    * cheaper than top-k at 100 TB: nothing ranks, nothing sorts,
    * the filter pushes into the join's output before the exchange). */
  def a51RangeSearch(s: SparkSession, dir: String): DataFrame =
    a49Scored(s, dir, col("vec_id") < NQ)
      .filter(col("cos") >= a51Tau)
      .select(col("src").as("query_id"), col("dst").as("neighbor_id"),
        col("cos"))
      .orderBy(col("query_id"), col("cos").desc, col("neighbor_id"))

  /** DuckDB oracle for a51: the shared a42 build CTEs, the identical
    * src-restricted probe assignment, cell-join candidates, and the
    * radius filter in place of a49's rank window. */
  val a51Sql: String = {
    val intL2 = a42IntL2Duck _
    s"""WITH $a42BuildCte,
       |i AS (
       | SELECT vec_id AS dst, cell FROM (
       |  SELECT x.vec_id, c.cid AS cell,
       |   row_number() OVER (PARTITION BY x.vec_id
       |     ORDER BY ${intL2("x.qv", "c.qv")}, c.cid) AS rnk
       |  FROM ax x, c1 c) WHERE rnk = 1),
       |qp AS (
       | SELECT vec_id AS src, cell FROM (
       |  SELECT x.vec_id, c.cid AS cell,
       |   row_number() OVER (PARTITION BY x.vec_id
       |     ORDER BY ${intL2("x.qv", "c.qv")}, c.cid) AS rnk
       |  FROM ax x, c1 c WHERE x.vec_id < $NQ) WHERE rnk <= $a49Probes),
       |cand AS (
       | SELECT DISTINCT qp.src, i.dst FROM qp JOIN i USING (cell)
       | WHERE qp.src <> i.dst)
       |SELECT src AS query_id, dst AS neighbor_id,
       | ROUND(list_sum(list_transform(list_zip(es.embedding, ed.embedding),
       |   p -> CAST(p[1] AS DOUBLE) * p[2])) / (es.norm * ed.norm), 4) AS cos
       |FROM cand c
       |JOIN e es ON es.vec_id = c.src
       |JOIN e ed ON ed.vec_id = c.dst
       |WHERE ROUND(list_sum(list_transform(list_zip(es.embedding, ed.embedding),
       |   p -> CAST(p[1] AS DOUBLE) * p[2])) / (es.norm * ed.norm), 4) >= $a51Tau
       |ORDER BY query_id, cos DESC, neighbor_id""".stripMargin
  }

  def entries: Seq[Entry] = Seq(
    Entry("a27_ann_brute", a27AnnBrute, a27Sql),
    Entry("a28_ann_lsh", a28AnnLsh, a28Sql),
    Entry("a29_ann_ivf", a29AnnIvf),
    Entry("a29b_ann_ivf_oracle", a29bAnnIvfOracle, a29bSql),
    Entry("a30_ann_sq", a30AnnSq, a30Sql),
    Entry("a31_ann_rerank", a31AnnRerank, a31Sql),
    Entry("a32_ann_pq", a32AnnPq, a32Sql),
    Entry("a33_ann_ivfpq", a33AnnIvfPq, a33Sql),
    Entry("a34_ann_filtered", a34AnnFiltered, a34Sql),
    Entry("a35_ann_filtered_rerank", a35AnnFilteredRerank, a35Sql),
    // probe-from-persisted must equal the in-memory recompute
    Entry("a36_ann_persisted_ivf", a36AnnPersistedIvf, a29bSql),
    // build-old + append-batch + probe must land exactly on the full recompute
    Entry("a37_ann_ivf_insert", a37AnnIvfInsert, a29bSql),
    Entry("a38_ann_delete", a38AnnDelete, a38Sql),
    Entry("a39_recall_eval", a39RecallEval, a39Sql),
    // shard decomposition changes nothing
    Entry("a40_ann_shard", a40AnnShard, a27Sql),
    Entry("a41_ann_mips", a41AnnMips, a41Sql),
    Entry("a42_ann_ivf_mips", a42AnnIvfMips, a42Sql),
    // a43's oracle IS a42's: probe-from-persisted == recompute
    Entry("a43_persisted_mips", a43PersistedMips, a42Sql),
    Entry("a44_cell_stats", a44CellStats, a44Sql),
    Entry("a45_cell_split", a45CellSplit, a45Sql),
    Entry("a46_cell_merge", a46CellMerge, a46Sql),
    Entry("a47_nprobe_curve", a47NprobeCurve, a47Sql),
    Entry("a48_hard_negatives", a48HardNegatives, a48Sql),
    Entry("a49_knn_join", a49KnnJoin, a49Sql),
    // the merged artifact must serve exactly the full-corpus recompute
    Entry("a50_index_merge", a50IndexMerge, a29bSql),
    Entry("a51_range_search", a51RangeSearch, a51Sql),
    // hybrid compaction == full compaction == recompute on the live slice
    Entry("a52_cell_compaction", a52CellCompaction, a38Sql),
    Entry("a53_index_time_travel", a53IndexTimeTravel, a53Sql),
    Entry("a54_retrain_decision", a54RetrainDecision, a54Sql),
    Entry("a55_pq_tradeoff", a55PqTradeoff, a55Sql),
    // a layout scrubbed of uncommitted garbage serves every retained version unchanged
    Entry("q94_orphan_gc", q94OrphanGc, a38Sql))
}
