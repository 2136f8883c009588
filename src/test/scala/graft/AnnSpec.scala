package graft

import org.apache.spark.sql.functions._
import graft.ann.Ann

/** Specs for the ANN family: brute-force correctness vs a local
  * in-memory reference, and LSH candidate soundness vs brute force. */
class AnnSpec extends SparkSpec {
  import spark.implicits._

  test("a27 brute-force top-k matches an in-memory cosine reference") {
    val emb = Tables.embeddings(spark, sfDir)
      .select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect().sortBy(_._1)
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val expected = (for {
      (qid, q) <- emb.take(8)
    } yield qid -> emb.filter(_._1 != qid)
      .map { case (nid, v) => (nid, BigDecimal(cos(q, v)).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble) }
      .sortBy { case (nid, c) => (-c, nid) }.take(5).map(_._1).toSeq).toMap
    val got = Ann.a27AnnBrute(spark, sfDir)
      .select("query_id", "rank", "neighbor_id")
      .as[(Long, Int, Long)].collect()
      .groupBy(_._1).map { case (q, rs) => q -> rs.sortBy(_._2).map(_._3).toSeq }
    assert(got.keySet == expected.keySet)
    got.foreach { case (q, ids) => assert(ids == expected(q), s"query $q") }
  }

  test("a48 hard negatives equal an in-memory cell mirror; label-disjointness and refusal laws hold") {
    val emb = Tables.embeddings(spark, sfDir)
      .select("vec_id", "embedding", "label")
      .as[(Long, Array[Float], Int)].collect().sortBy(_._1)
      .filter(_._2.exists(_ != 0f))
    val cents = Ann.centroidStrs.map(_.map(_.toDouble).toArray)
    def cell(v: Array[Float]): Int = {
      val ds = cents.map { c =>
        var s = 0.0; var i = 0
        while (i < c.length) { val d = c(i) - v(i).toDouble; s += d * d; i += 1 }
        s
      }
      ds.indexOf(ds.min)
    }
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    def r4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val byCell = emb.groupBy(v => cell(v._2))
    val expected = emb.toSeq.flatMap { case (aid, av, alab) =>
      val mates = byCell(cell(av)).filter(_._1 != aid)
      val refused = mates.count(_._3 == alab).toLong
      val negs = mates.filter(_._3 != alab)
        .map { case (nid, nv, _) => (nid, r4(cos(av, nv))) }
        .sortBy { case (nid, c) => (-c, nid) }.take(5).zipWithIndex
        .map { case ((nid, c), i) =>
          (aid, i + 1, Some(nid): Option[Long], Some(c): Option[Double], refused) }
      // all-same-label anchors surface as the rank-0 sentinel
      if (negs.isEmpty && mates.nonEmpty)
        Seq((aid, 0, None: Option[Long], None: Option[Double], refused))
      else negs
    }.sortBy(t => (t._1, t._2))
    val got = SparkEntry.queries("a48_hard_negatives")(spark, sfDir)
      .as[(Long, Int, Option[Long], Option[Double], Long)].collect().toSeq
    assert(got == expected, "a48 != in-memory cell mirror")
    // laws: ranks are clean prefixes, the refusal guard BITES on
    // this corpus (some anchor has same-label cell-mates it refused
    // to emit), negatives exist for most anchors, and sentinel rows
    // carry a positive refusal count with no negative attached
    got.groupBy(_._1).values.foreach { rs =>
      val ranked = rs.map(_._2).filter(_ > 0)
      assert(ranked.sorted == (1 to ranked.size).toSeq, "rank gap") }
    assert(got.exists(_._5 > 0), "refusal guard never exercised")
    got.filter(_._2 == 0).foreach { r =>
      assert(r._3.isEmpty && r._4.isEmpty && r._5 > 0, "malformed sentinel") }
    assert(got.map(_._1).distinct.size > emb.length / 2, "mining too sparse")
  }

  test("a28 lsh results are a subset of same-bucket exact scores and ranked correctly") {
    val brute = Ann.a27AnnBrute(spark, sfDir)
      .select("query_id", "neighbor_id", "cosine")
      .as[(Long, Long, Double)].collect()
      .map { case (q, n, c) => (q, n) -> c }.toMap
    val lsh = Ann.a28AnnLsh(spark, sfDir)
      .select("query_id", "rank", "neighbor_id", "cosine")
      .as[(Long, Int, Long, Double)].collect()
    // ranks are 1..k contiguous and cosine non-increasing per query
    lsh.groupBy(_._1).foreach { case (q, rs) =>
      val sorted = rs.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1 to sorted.length).toSeq, s"ranks for $q")
      assert(sorted.map(_._4).toSeq.reverse.sorted.reverse == sorted.map(_._4).toSeq.sorted.reverse,
        s"cosine monotone for $q")
    }
    // any lsh hit that also appears in brute's scored map has identical cosine
    lsh.foreach { case (q, _, n, c) =>
      brute.get((q, n)).foreach(bc => assert(math.abs(bc - c) < 1e-9))
    }
  }

  test("a29 ivf: ranked like brute force within its candidates, recall@5 above floor") {
    val brute = Ann.a27AnnBrute(spark, sfDir)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = Ann.a29AnnIvf(spark, sfDir)
      .select("query_id", "rank", "neighbor_id", "cosine")
      .as[(Long, Int, Long, Double)].collect()
    ivf.groupBy(_._1).foreach { case (q, rs) =>
      val sorted = rs.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1 to sorted.length).toSeq, s"ranks for $q")
      assert(sorted.map(_._4).toSeq == sorted.map(_._4).toSeq.sorted.reverse,
        s"cosine monotone for $q")
    }
    val hits = ivf.map(r => (r._1, r._3)).toSet
    val recall = (brute & hits).size.toDouble / brute.size
    // nprobe=4 of nlist=16 cells scans ~25% of an unclustered corpus;
    // measured recall ~0.63 — floor well below to avoid seed flake
    assert(recall >= 0.5, s"recall@5=$recall")
  }

  test("a29 constructs its frame with at most 2 Spark jobs") {
    val jobs = jobsOf { Ann.a29AnnIvf(spark, sfDir) }
    assert(jobs <= 2, s"a29 construction submitted $jobs jobs")
  }

  test("a29 equals, row for row, its pipeline with ml.clustering.KMeans fit + transform") {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    import org.apache.spark.sql.expressions.Window
    import graft.functions.VectorExprs
    val corpus = VectorExprs.withNorm(Tables.embeddings(spark, sfDir).select("vec_id", "embedding"))
      .withColumn("features", array_to_vector(col("embedding")))
    val model = new KMeans().setK(16).setSeed(42L).setMaxIter(10).setFeaturesCol("features")
      .fit(corpus.orderBy(xxhash64(col("vec_id"))).limit(65536))
    val assigned = model.transform(corpus)
      .select(col("vec_id"), col("embedding"), col("norm"), col("prediction").as("cell"))
    val centroids = model.clusterCenters.map(_.toArray)
    def nearestCells(v: Array[Double]): Seq[Int] =
      centroids.zipWithIndex.map { case (c, i) =>
        (c.indices.map(j => (v(j) - c(j)) * (v(j) - c(j))).foldLeft(0.0)(_ + _), i)
      }.sortBy(_._1).take(4).map(_._2).toSeq
    val queries = assigned.filter(col("vec_id") < 8)
      .select("vec_id", "embedding", "norm").as[(Long, Array[Float], Double)].collect()
      .map { case (id, e, n) => (id, e, n, nearestCells(e.map(_.toDouble))) }
      .toSeq.toDF("query_id", "q_embedding", "q_norm", "probe_cells")
    val w = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("neighbor_id"))
    val expected = assigned.join(broadcast(queries),
        array_contains(col("probe_cells"), col("cell")) && col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(VectorExprs.cosine(col("q_embedding"), col("embedding"), col("q_norm"), col("norm")), 4)
          .as("cosine"))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= 5)
      .select("query_id", "rank", "neighbor_id", "cosine").orderBy("query_id", "rank")
      .collect().toSeq
    assert(expected.nonEmpty)
    assert(Ann.a29AnnIvf(spark, sfDir).collect().toSeq == expected)
  }

  test("a29b literal-centroid ivf: well-formed ranks, exact cosines vs brute on overlap") {
    val brute = Ann.a27AnnBrute(spark, sfDir)
      .select("query_id", "neighbor_id", "cosine")
      .as[(Long, Long, Double)].collect()
      .map { case (q, n, c) => (q, n) -> c }.toMap
    val ivf = Ann.a29bAnnIvfOracle(spark, sfDir)
      .select("query_id", "rank", "neighbor_id", "cosine")
      .as[(Long, Int, Long, Double)].collect()
    assert(ivf.nonEmpty, "a29b must route at least one candidate per probe set")
    ivf.groupBy(_._1).foreach { case (q, rs) =>
      val sorted = rs.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1 to sorted.length).toSeq, s"ranks for $q")
      assert(sorted.map(_._4).toSeq == sorted.map(_._4).toSeq.sorted.reverse,
        s"cosine monotone for $q")
    }
    // scoring is the SAME exact cosine as brute force — any (q, n)
    // pair both return must carry an identical rounded score
    val overlaps = ivf.flatMap(r => brute.get((r._1, r._3)).map(c => (r._4, c)))
    assert(overlaps.nonEmpty)
    overlaps.foreach { case (c, bc) => assert(math.abs(c - bc) < 1e-9) }
  }

  test("a30 sq8: quantization distorts cosine by < 0.02 and keeps recall@5 high") {
    val brute = Ann.a27AnnBrute(spark, sfDir)
      .select("query_id", "neighbor_id", "cosine")
      .as[(Long, Long, Double)].collect()
    val sq = Ann.a30AnnSq(spark, sfDir)
      .select("query_id", "rank", "neighbor_id", "cosine")
      .as[(Long, Int, Long, Double)].collect()
    sq.groupBy(_._1).foreach { case (q, rs) =>
      val sorted = rs.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1 to sorted.length).toSeq, s"ranks for $q")
      assert(sorted.map(_._4).toSeq == sorted.map(_._4).toSeq.sorted.reverse,
        s"cosine monotone for $q")
    }
    // 8-bit codes against corpus-wide [min,max] per dim: each value
    // is off by < (mx-mn)/255, so the cosine error stays tiny
    val bruteMap = brute.map(r => (r._1, r._2) -> r._3).toMap
    val overlaps = sq.flatMap(r => bruteMap.get((r._1, r._3)).map(c => (r._4, c)))
    assert(overlaps.nonEmpty)
    overlaps.foreach { case (sqCos, exact) =>
      assert(math.abs(sqCos - exact) < 0.02, s"sq $sqCos vs exact $exact")
    }
    val bruteSet = brute.map(r => (r._1, r._2)).toSet
    val recall = (bruteSet & sq.map(r => (r._1, r._3)).toSet).size.toDouble / bruteSet.size
    assert(recall >= 0.8, s"recall@5=$recall")
  }

  test("a31 rerank: exact final scores, coarse candidates bounded, recall at least a30's") {
    val brute = Ann.a27AnnBrute(spark, sfDir)
      .select("query_id", "neighbor_id", "cosine")
      .as[(Long, Long, Double)].collect()
    val bruteMap = brute.map(r => (r._1, r._2) -> r._3).toMap
    val rr = Ann.a31AnnRerank(spark, sfDir)
      .select("query_id", "rank", "neighbor_id", "cosine", "coarse_rank")
      .as[(Long, Int, Long, Double, Int)].collect()
    assert(rr.nonEmpty)
    rr.groupBy(_._1).foreach { case (q, rs) =>
      val sorted = rs.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1 to sorted.length).toSeq, s"ranks for $q")
      assert(sorted.map(_._4).toSeq == sorted.map(_._4).toSeq.sorted.reverse,
        s"cosine monotone for $q")
    }
    // stage-2 scores are EXACT cosine — identical to brute force on
    // any shared pair — and stage-1 candidates respect the C bound
    rr.foreach { case (q, _, n, c, cr) =>
      assert(cr >= 1 && cr <= 32, s"coarse_rank $cr out of bounds")
      bruteMap.get((q, n)).foreach(bc => assert(math.abs(bc - c) < 1e-9))
    }
    // reranking a 32-wide quantized candidate set can only improve
    // on ranking the quantized top-5 directly
    val bruteSet = brute.map(r => (r._1, r._2)).toSet
    val sqSet = Ann.a30AnnSq(spark, sfDir)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val rrSet = rr.map(r => (r._1, r._3)).toSet
    val recallSq = (bruteSet & sqSet).size.toDouble / bruteSet.size
    val recallRr = (bruteSet & rrSet).size.toDouble / bruteSet.size
    assert(recallRr >= recallSq, s"rerank $recallRr vs sq $recallSq")
  }

  test("a32 pq: well-formed ranks, ADC score is a true cosine, deterministic") {
    val pq = Ann.a32AnnPq(spark, sfDir)
      .select("query_id", "rank", "neighbor_id", "cosine")
      .as[(Long, Int, Long, Double)].collect()
    assert(pq.nonEmpty)
    pq.groupBy(_._1).foreach { case (q, rs) =>
      val sorted = rs.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1 to sorted.length).toSeq, s"ranks for $q")
      assert(sorted.map(_._4).toSeq == sorted.map(_._4).toSeq.sorted.reverse,
        s"cosine monotone for $q")
    }
    // The ADC score is dot(q, recon)/(|q|·|recon|) — a GENUINE cosine
    // of the query against the reconstructed vector, so despite the
    // 32× compression it can never leave [-1, 1] (rounding slack 1e-4)
    pq.foreach { case (_, _, _, c) =>
      assert(c >= -1.0001 && c <= 1.0001, s"ADC cosine $c outside [-1,1]")
    }
    val again = Ann.a32AnnPq(spark, sfDir)
      .select("query_id", "rank", "neighbor_id", "cosine")
      .as[(Long, Int, Long, Double)].collect()
    assert(pq.sortBy(r => (r._1, r._2)).toSeq == again.sortBy(r => (r._1, r._2)).toSeq,
      "a32 must be deterministic across runs")
  }

  test("a32 pq is EXACT on vectors assembled from codebook entries") {
    // If every 8-dim subvector IS a codebook entry, encoding recovers
    // its index, reconstruction is (float-rounding-close to) the
    // vector itself, and the ADC lookup-sum equals the exact dot —
    // so a32's cosines must agree with brute-force a27's on the same
    // corpus. This pins encode-argmin, LUT, and scoring end-to-end.
    val cb = Ann.pqCodebookStrs.map(_.map(_.map(_.toDouble)))
    val rng = new scala.util.Random(5)
    val rows = (0L until 24L).map { id =>
      val v = (0 until 8).flatMap(m => cb(m)(rng.nextInt(16))).map(_.toFloat).toArray
      (id, v)
    }
    val dir = java.nio.file.Files.createTempDirectory("graftpq").toString
    rows.toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val brute = Ann.a27AnnBrute(spark, dir)
      .select("query_id", "neighbor_id", "cosine")
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    val pq = Ann.a32AnnPq(spark, dir)
      .select("query_id", "neighbor_id", "cosine")
      .as[(Long, Long, Double)].collect()
    assert(pq.nonEmpty)
    pq.foreach { case (q, n, c) =>
      val exact = brute((q, n))
      // float()-rounding of the assembled corpus vectors vs the
      // double codebook entries costs ~1e-7; both sides round to 4dp
      assert(math.abs(c - exact) <= 2e-4, s"($q,$n): pq $c vs exact $exact")
    }
  }

  test("a33 ivfpq: well-formed ranks, every neighbor lies in a probed cell, deterministic") {
    val res = Ann.a33AnnIvfPq(spark, sfDir)
      .select("query_id", "rank", "neighbor_id", "dist2")
      .as[(Long, Int, Long, Double)].collect()
    assert(res.nonEmpty)
    res.groupBy(_._1).foreach { case (q, rs) =>
      val sorted = rs.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1 to sorted.length).toSeq, s"ranks for $q")
      assert(sorted.map(_._4).toSeq == sorted.map(_._4).toSeq.sorted,
        s"dist2 monotone non-decreasing for $q")
      assert(sorted.forall(_._4 >= 0.0), s"squared distance must be >= 0 for $q")
    }
    // cell-pruning soundness: recompute cell assignment and nprobe
    // routing in memory from the SAME centroid literals, and assert
    // every returned neighbor sits in one of its query's probed cells
    val cents = Ann.centroidStrs.map(_.map(_.toDouble))
    val emb = Tables.embeddings(spark, sfDir)
      .select("vec_id", "embedding").as[(Long, Array[Float])].collect()
    def dists(v: Array[Float]): Seq[Double] = cents.map { c =>
      var s = 0.0; var i = 0
      while (i < c.length) { val d = c(i) - v(i).toDouble; s += d * d; i += 1 }
      s
    }
    val cell = emb.map { case (id, v) =>
      val dl = dists(v); id -> dl.indexOf(dl.min)
    }.toMap
    val probed = emb.filter(_._1 < 8).map { case (id, v) =>
      id -> dists(v).zipWithIndex.sortBy(identity).take(4).map(_._2).toSet
    }.toMap
    res.foreach { case (q, _, n, _) =>
      assert(n != q, "self-match excluded")
      assert(probed(q).contains(cell(n)),
        s"neighbor $n (cell ${cell(n)}) not in query $q's probe set ${probed(q)}")
    }
    val again = Ann.a33AnnIvfPq(spark, sfDir)
      .select("query_id", "rank", "neighbor_id", "dist2")
      .as[(Long, Int, Long, Double)].collect()
    assert(res.sortBy(r => (r._1, r._2)).toSeq == again.sortBy(r => (r._1, r._2)).toSeq,
      "a33 must be deterministic across runs")
  }

  test("a34 filtered search: every neighbor shares the query's label, k full when k exist, exact scores") {
    val emb = Tables.embeddings(spark, sfDir)
      .select("vec_id", "label").as[(Long, Int)].collect().toMap
    val res = Ann.a34AnnFiltered(spark, sfDir)
      .select("query_id", "label", "rank", "neighbor_id", "cosine")
      .as[(Long, Int, Int, Long, Double)].collect()
    assert(res.nonEmpty)
    res.foreach { case (q, lbl, _, n, _) =>
      assert(lbl == emb(q), s"query $q label column must be its own label")
      assert(emb(n) == lbl, s"neighbor $n must share query $q's label $lbl")
      assert(n != q)
    }
    // PRE-filter semantics: k results whenever the class has k
    // non-self members — post-filtering a27's unfiltered top-k would
    // come back short for any query whose class-mates aren't globally
    // near (pinned: a27 top-k ∩ same-label is smaller than a34's k
    // for at least one query at this SF)
    res.groupBy(_._1).foreach { case (q, rs) =>
      val classMates = emb.count { case (id, l) => l == emb(q) && id != q }
      assert(rs.length == math.min(5, classMates),
        s"query $q must fill k from its class")
      assert(rs.map(_._3).sorted.toSeq == (1 to rs.length).toSeq)
    }
    val brute = Ann.a27AnnBrute(spark, sfDir)
      .select("query_id", "neighbor_id", "cosine")
      .as[(Long, Long, Double)].collect()
    val postFilterShort = brute.groupBy(_._1).exists { case (q, rs) =>
      rs.count(r => emb(r._2) == emb(q)) < math.min(5,
        emb.count { case (id, l) => l == emb(q) && id != q })
    }
    assert(postFilterShort, "post-filtering a27 must under-fill somewhere, or this gate is vacuous")
    // scores are the same exact cosine as a27 on shared pairs
    val bruteMap = brute.map(r => (r._1, r._2) -> r._3).toMap
    res.foreach { case (q, _, _, n, c) =>
      bruteMap.get((q, n)).foreach(bc => assert(math.abs(bc - c) < 1e-9))
    }
  }

  test("a35 filtered rerank: label-pure, exact scores, high recall vs a34's exact pin") {
    val emb = Tables.embeddings(spark, sfDir)
      .select("vec_id", "label").as[(Long, Int)].collect().toMap
    val res = Ann.a35AnnFilteredRerank(spark, sfDir)
      .select("query_id", "label", "rank", "neighbor_id", "cosine")
      .as[(Long, Int, Int, Long, Double)].collect()
    assert(res.nonEmpty)
    // pre-filter semantics survive the compressed coarse stage:
    // every candidate that reaches the rerank came from the label
    // slice, so every final neighbor is label-pure and k fills
    res.foreach { case (q, lbl, _, n, _) =>
      assert(lbl == emb(q) && emb(n) == lbl && n != q)
    }
    val exact = Ann.a34AnnFiltered(spark, sfDir)
      .select("query_id", "neighbor_id", "cosine")
      .as[(Long, Long, Double)].collect()
    res.groupBy(_._1).foreach { case (q, rs) =>
      assert(rs.length == exact.count(_._1 == q),
        s"query $q must fill the same k as the exact filtered search")
    }
    // stage 2 rescoring is the same full-precision cosine as a34
    val exactMap = exact.map(r => (r._1, r._2) -> r._3).toMap
    res.foreach { case (q, _, _, n, c) =>
      exactMap.get((q, n)).foreach(ec => assert(math.abs(ec - c) < 1e-9,
        s"rerank score for ($q,$n) must equal a34's exact score"))
    }
    // recall vs the exact within-label top-k: C=32 coarse candidates
    // over ~50-vector label slices must recover nearly all true
    // neighbors (the dial a31 documents: larger C → higher recall)
    val hit = res.count { case (q, _, _, n, _) => exactMap.contains((q, n)) }
    assert(hit >= math.ceil(0.9 * exact.length).toInt,
      s"recall ${hit.toDouble / exact.length} vs a34 below 0.9")
  }

  test("a28 lsh returns fewer-or-equal candidates than brute force k") {
    val bruteN = Ann.a27AnnBrute(spark, sfDir).count()
    val lshN = Ann.a28AnnLsh(spark, sfDir).count()
    assert(lshN <= bruteN)
    assert(lshN > 0, "lsh should find at least one bucket-mate at sf0.001")
  }

  test("a36 persisted-index probe equals the a29b in-memory recompute row for row") {
    // the d35 property for ANN: building the IVF index once as a
    // parquet artifact and probing it must return exactly what the
    // per-run recompute returns — same routing (shared centroid
    // expression), same scoring, same tie-breaks
    val a36 = SparkEntry.queries("a36_ann_persisted_ivf")(spark, sfDir)
      .as[(Long, Int, Long, Double)].collect().toSeq
    val a29b = SparkEntry.queries("a29b_ann_ivf_oracle")(spark, sfDir)
      .as[(Long, Int, Long, Double)].collect().toSeq
    assert(a36.nonEmpty && a36 == a29b,
      s"persisted probe diverged from recompute: ${a36.diff(a29b).take(3)}")
  }

  test("a37 append-then-probe equals the full recompute and surfaces appended vectors") {
    // incremental == recompute: building the index from the prior
    // corpus and APPENDING the routed batch must land exactly on
    // a29b's in-memory recompute over old ∪ new
    val a37 = SparkEntry.queries("a37_ann_ivf_insert")(spark, sfDir)
      .as[(Long, Int, Long, Double)].collect().toSeq
    val a29b = SparkEntry.queries("a29b_ann_ivf_oracle")(spark, sfDir)
      .as[(Long, Int, Long, Double)].collect().toSeq
    assert(a37.nonEmpty && a37 == a29b,
      s"append-then-probe diverged from recompute: ${a37.diff(a29b).take(3)}")
    // non-vacuity: the appended day-1 batch (vec_id % 4 == 0) must
    // actually surface as neighbors — otherwise the append leg could
    // silently write nothing and the equality above would still pass
    // on an all-old result
    assert(a37.exists { case (_, _, nb, _) => nb % 4 == 0 },
      "no appended (vec_id % 4 == 0) vector appeared as a neighbor")
  }

  test("a38 delete: no deleted id survives, membership removed, tombstone mask equals compaction") {
    val a38 = SparkEntry.queries("a38_ann_delete")(spark, sfDir)
      .as[(Long, Int, Long, Double)].collect().toSeq
    assert(a38.nonEmpty)
    // deletion removes matches AND membership: no deleted id as a
    // neighbor, and the deleted query vector (vec 3) stops querying
    a38.foreach { case (q, _, nb, _) =>
      assert(q % 7 != 3 && nb % 7 != 3, s"deleted id leaked: ($q,$nb)")
    }
    assert(!a38.exists(_._1 == 3L) && a38.map(_._1).distinct.length == 7)
    // the delete must actually change results vs the undeleted probe
    val a29b = SparkEntry.queries("a29b_ann_ivf_oracle")(spark, sfDir)
      .as[(Long, Int, Long, Double)].collect().toSeq
    assert(a38 != a29b, "delete changed nothing — corpus makes it vacuous")
    // compaction-is-a-no-op law: probing gen-1 under the tombstone
    // mask returns exactly what the compacted gen-2 probe (= a38)
    // returned. a38 above already wrote both artifacts into this
    // JVM's deterministic scratch paths.
    val idxDir = graft.sources.Export.scratch("a38_index", sfDir)
    val tombs = spark.read.parquet(graft.sources.Export.scratch("a38_tombs", sfDir))
    val live = Ann.ivfRoutedCorpus(spark, sfDir)
      .filter(!expr(Ann.a38DeletedPred))
    val masked = Ann.probePersistedIvf(spark, idxDir,
        Ann.ivfProbeQueries(live), Some(tombs))
      .as[(Long, Int, Long, Double)].collect().toSeq
    assert(masked == a38,
      s"masked gen-1 probe != compacted probe: ${masked.diff(a38).take(3)}")
  }

  test("a39 recall measures exactly the exact∩approx overlap of the shipped pipelines") {
    val out = SparkEntry.queries("a39_recall_eval")(spark, sfDir)
      .as[(Long, Int, Long)].collect().toSeq
    val exact = Ann.a27AnnBrute(spark, sfDir)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val approx = Ann.a29bAnnIvfOracle(spark, sfDir)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(out.map(_._1).toSet == exact.keySet, "every exact query measured")
    out.foreach { case (q, m, ppm) =>
      val expected = (exact(q) & approx.getOrElse(q, Set.empty)).size
      assert(m == expected, s"query $q: matched $m != overlap $expected")
      assert(m >= 0 && m <= 5 && ppm == m.toLong * 1000000L / 5)
    }
  }

  test("a40 scatter-gather equals the unsharded a27 answer with bounded gather traffic") {
    val sharded = SparkEntry.queries("a40_ann_shard")(spark, sfDir)
      .as[(Long, Int, Long, Double)].collect().toSeq
    val global = Ann.a27AnnBrute(spark, sfDir)
      .as[(Long, Int, Long, Double)].collect().toSeq
    assert(sharded == global, "shard decomposition must be invisible")
    // gather traffic bound: ≤ K rows per (query, shard) leave the
    // scatter stage — the whole point of the topology
    val cands = Ann.a40Candidates(spark, sfDir).collect().toSeq
    val perShard = cands.groupBy(c => (c._1, c._2 % Ann.a40Shards))
      .view.mapValues(_.size)
    assert(perShard.values.forall(_ <= 5), "a shard leaked more than K candidates")
    assert(cands.size <= 8 * Ann.a40Shards * 5, "gather traffic exceeds K·S per query")
    // non-vacuous: the merge genuinely fuses shards — some query's
    // final top-K spans at least two shards
    val spans = global.groupBy(_._1).values.map(
      _.map(_._3 % Ann.a40Shards).distinct.size)
    assert(spans.exists(_ >= 2), "every top-K fell in one shard; shards untested")
  }

  // ---- a41 MIPS via norm augmentation ----

  private def mipsMirror = {
    val emb = Tables.embeddings(spark, sfDir)
      .select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect().sortBy(_._1)
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length && i < b.length) { acc += a(i).toDouble * b(i); i += 1 }
      acc
    }
    val kept = emb.filter(e => math.sqrt(dot(e._2, e._2)) > 0)
    (kept, dot _)
  }

  test("a41 mips: the norm-augmentation reduction law holds on the real corpus") {
    val (kept, dot) = mipsMirror
    val m = kept.map(e => math.sqrt(dot(e._2, e._2))).max
    val queries = kept.filter(_._1 < 8)
    kept.foreach { case (_, x) =>
      val nx = math.sqrt(dot(x, x))
      val aug = math.sqrt(m * m - nx * nx)
      // ‖x̂‖ = M for every corpus vector — the constant-norm trick
      assert(math.abs(math.sqrt(dot(x, x) + aug * aug) - m) < 1e-9)
    }
    // cos(q̂, x̂) = q·x/(‖q‖M): the augmented cosine ORDERS exactly as
    // the raw inner product, for every query and corpus pair
    queries.foreach { case (qid, q) =>
      val nq = math.sqrt(dot(q, q))
      val others = kept.filter(_._1 != qid)
      val byDot = others.sortBy { case (id, x) => (-dot(q, x), id) }.map(_._1)
      val byAugCos = others.sortBy { case (id, x) =>
        (-(dot(q, x) / (nq * m)), id)
      }.map(_._1)
      assert(byDot.toSeq == byAugCos.toSeq, s"query $qid: orderings diverge")
    }
  }

  test("a41 mips equals a full in-memory mirror of bands, rescore, and top-k") {
    val (kept, dot) = mipsMirror
    val m = kept.map(e => math.sqrt(dot(e._2, e._2))).max
    val planes = graft.functions.Hyperplanes.planeStrs.take(32)
      .map(_.map(_.toDouble).toArray)
    val augW = graft.functions.Hyperplanes.augStrs.take(32).map(_.toDouble)
    def planeDot(p: Array[Double], x: Array[Float]): Double = {
      var acc = 0.0; var i = 0
      while (i < p.length && i < x.length) { acc += p(i) * x(i).toDouble; i += 1 }
      acc
    }
    val (nb, ppb) = (Ann.a41Bands, Ann.a41Ppb)
    def qBands(x: Array[Float]): Seq[Long] = (0 until nb).map(b =>
      (0 until ppb).map(j =>
        if (planeDot(planes(ppb * b + j), x) > 0) 1L << j else 0L).sum)
    def cBands(x: Array[Float]): Seq[Long] = {
      val nx = math.sqrt(dot(x, x))
      val aug = math.sqrt(m * m - nx * nx)
      (0 until nb).map(b => (0 until ppb).map(j =>
        if (planeDot(planes(ppb * b + j), x) + augW(ppb * b + j) * aug > 0)
          1L << j else 0L).sum)
    }
    def r4(v: Double): Double =
      BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val queries = kept.filter(_._1 < 8)
    val expected = queries.flatMap { case (qid, q) =>
      val qb = qBands(q)
      kept.filter(c => c._1 != qid &&
          cBands(c._2).zip(qb).exists { case (a, b) => a == b })
        .map { case (id, x) => (id, r4(dot(q, x))) }
        .sortBy { case (id, d) => (-d, id) }.take(5).zipWithIndex
        .map { case ((id, d), i) => (qid, i + 1, id, d) }
    }.toSet
    val got = SparkEntry.queries("a41_ann_mips")(spark, sfDir)
      .as[(Long, Int, Long, Double)].collect().toSet
    assert(got == expected,
      s"a41 != mirror; only-got=${(got -- expected).take(3)} only-exp=${(expected -- got).take(3)}")
    assert(got.nonEmpty, "a41 returned nothing at spec scale — vacuous")
    // recall vs the EXACT MIPS ranking (what the reduction approximates)
    val exact = queries.flatMap { case (qid, q) =>
      kept.filter(_._1 != qid).map { case (id, x) => (qid, id, r4(dot(q, x))) }
        .sortBy { case (_, id, d) => (-d, id) }.take(5).map(t => (t._1, t._2))
    }.toSet
    val hit = got.map(t => (t._1, t._3)).count(exact.contains)
    assert(hit.toDouble / exact.size >= 0.4,
      s"MIPS band recall ${hit.toDouble / exact.size} collapsed")
    // the approximation is genuine: the band join admits strictly
    // fewer candidates than brute force scores
    val candFrac = queries.map { case (qid, q) =>
      val qb = qBands(q)
      kept.count(c => c._1 != qid &&
        cBands(c._2).zip(qb).exists { case (a, b) => a == b }).toDouble /
        (kept.length - 1)
    }.sum / queries.length
    assert(candFrac < 0.8, s"candidate fraction $candFrac ~ brute force")
    info(f"a41 recall@5=${hit.toDouble / exact.size}%.2f candFrac=$candFrac%.2f")
  }

  // ---- a42 IVF-MIPS ----

  test("a42 ivf-mips: recall ≥ 0.8 vs exact MIPS at candidate fraction < 0.3, balanced cells") {
    val (kept, dot) = mipsMirror
    def r4(x: Double) = math.rint(x * 1e4) / 1e4
    val queries = kept.filter(_._1 < 8)
    // recall vs the EXACT MIPS ranking (a41's own yardstick: its
    // measured 0.80 recall came at candidate fraction 0.42 — a42
    // must beat that recall on a strictly smaller candidate budget)
    val exact = queries.flatMap { case (qid, q) =>
      kept.filter(_._1 != qid).map { case (id, x) => (qid, id, r4(dot(q, x))) }
        .sortBy { case (_, id, d) => (-d, id) }.take(5).map(t => (t._1, t._2))
    }.toSet
    val got = SparkEntry.queries("a42_ann_ivf_mips")(spark, sfDir)
      .as[(Long, Int, Long, Double)].collect()
    val recall = got.map(t => (t._1, t._3)).count(exact.contains).toDouble / exact.size
    assert(recall >= 0.8, s"IVF-MIPS recall $recall below a41's 0.80")
    // candidate fraction: probed-cell membership over the live corpus
    val (a1, c1) = Ann.a42Index(spark, sfDir)
    val cells = a1.select("vec_id", "cell").as[(Long, Int)].collect()
    val probes = Ann.a42ProbeQueries(spark, sfDir, c1)
      .select("query_id", "probe_cells").as[(Long, Seq[Int])].collect()
    val n = cells.length
    val candFrac = probes.map { case (qid, pcs) =>
      cells.count(c => c._1 != qid && pcs.contains(c._2)).toDouble / (n - 1)
    }.sum / probes.length
    assert(candFrac < 0.3, s"candidate fraction $candFrac — pruning collapsed")
    // the deterministic Lloyd step must leave no degenerate pole
    // cell (the failure mode of unnormalized literal centroids on a
    // unit-norm corpus: 483/500 vectors in one cell, measured)
    val maxCell = cells.groupBy(_._2).values.map(_.length).max
    assert(maxCell.toDouble / n < 0.1,
      s"largest cell holds $maxCell/$n vectors — index degenerated")
    info(f"a42 recall@5=$recall%.3f candFrac=$candFrac%.3f maxCell=$maxCell")
  }

  test("a43 persisted-MIPS probe equals the a42 in-memory recompute row for row") {
    // the d35/a36 law for the MIPS artifact: writing the integer-
    // Lloyd assignment partitionBy(cell) and probing the pruned
    // read-back must change nothing
    val a42 = SparkEntry.queries("a42_ann_ivf_mips")(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    val a43 = SparkEntry.queries("a43_persisted_mips")(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    assert(a43.nonEmpty && a43 == a42,
      s"persisted probe diverged from recompute: ${a43.diff(a42).take(3)}")
  }

  // ---- a44 cell-balance stats ----

  test("a44 ledger: complete over cells, counts conserve the corpus, load factors exact") {
    val got = SparkEntry.queries("a44_cell_stats")(spark, sfDir)
      .as[(Int, Long, Double)].collect().toSeq
    val (base, c1) = Ann.a42Refine(spark, sfDir)
    val nlist = c1.count()
    assert(got.size == nlist && got.map(_._1).distinct.size == got.size,
      "one ledger row per refined centroid")
    // conservation: every routed vector lands in exactly one cell
    val n = base.count()
    assert(got.map(_._2).sum == n,
      s"cell counts ${got.map(_._2).sum} must conserve the corpus $n")
    // the ledger measures the SHIPPED routing: recompute from the
    // registered m=1 assignment
    val mirror = Ann.a42AssignTop(spark, sfDir, 1)
      .select(col("vec_id"), col("cells").getItem(0).cast("int"))
      .as[(Long, Int)].collect().groupBy(_._2).view.mapValues(_.size.toLong).toMap
    got.foreach { case (cell, v, lf) =>
      assert(mirror.getOrElse(cell, 0L) == v, s"cell $cell count != routing mirror")
      val exp = BigDecimal(v.toDouble * nlist / n)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(lf == exp, s"cell $cell load factor $lf != $exp")
    }
    // non-degenerate: the corpus actually skews (some cell above and
    // some below perfect balance)
    assert(got.exists(_._3 > 1.0) && got.exists(_._3 < 1.0),
      "load factors degenerate — no skew visible")
  }

  test("a45 split: budget, conservation, cold lists untouched, hot lists genuinely split") {
    val split = SparkEntry.queries("a45_cell_split")(spark, sfDir)
      .as[(Int, Int, Boolean, Long, Long, Double, Double)].collect().toSeq
    val ledger = SparkEntry.queries("a44_cell_stats")(spark, sfDir)
      .as[(Int, Long, Double)].collect().toSeq
    val nlist = ledger.size
    val n = ledger.map(_._2).sum
    // row shape: every cold cell once, every hot cell twice
    val hotCells = split.filter(_._3).map(_._1).distinct
    assert(hotCells.size == 8, s"split budget: ${hotCells.size} cells")
    assert(split.size == nlist + 8, s"list count: ${split.size}")
    // the hot set IS the a44 top-8 by (vectors desc, cell)
    val expectedHot = ledger.sortBy(r => (-r._2, r._1)).take(8).map(_._1).toSet
    assert(hotCells.toSet == expectedHot, "hot set != a44 top-8")
    // conservation: child counts partition the corpus
    assert(split.map(_._5).sum == n, "post-split counts must conserve the corpus")
    // cold lists pass through byte-identically vs the a44 ledger
    val a44ByCell = ledger.map(r => r._1 -> r._2).toMap
    split.filterNot(_._3).foreach { r =>
      assert(r._2 == 0 && r._5 == r._4 && r._4 == a44ByCell(r._1),
        s"cold list changed: $r") }
    // each split cell's children partition the parent, and the split
    // genuinely rebalances (both children strictly smaller; the two
    // seeds are distinct members so each child is non-empty)
    split.filter(_._3).groupBy(_._1).foreach { case (cell, rows) =>
      assert(rows.map(_._2).sorted == Seq(0, 1), s"cell $cell subs")
      val parent = rows.head._4
      assert(rows.map(_._5).sum == parent, s"cell $cell child sum")
      assert(parent == a44ByCell(cell), s"cell $cell parent vs a44")
      rows.foreach(r => assert(r._5 < parent && r._5 > 0,
        s"cell $cell: child ${r._5} must be a strict non-empty split of $parent"))
    }
    // load arithmetic: after = vectors · (nlist + 8) / n at 4 decimals
    split.foreach { r =>
      val exp = BigDecimal(r._5.toDouble * (nlist + 8) / n)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r._7 == exp, s"load_after ${r._7} != $exp for $r") }
    // the maintenance action helps: the hottest list's load strictly drops
    val maxBefore = split.map(_._6).max
    val maxAfterSplit = split.filter(_._3).map(_._7).max
    assert(maxAfterSplit < maxBefore,
      s"splitting must reduce the hottest load: $maxAfterSplit vs $maxBefore")
  }

  test("a47 curve: frontier laws, exact endpoint, and the shipped a39 point") {
    val got = SparkEntry.queries("a47_nprobe_curve")(spark, sfDir)
      .as[(Int, Long, Long, Long)].collect().toSeq
    assert(got.map(_._1) == Seq(1, 2, 4, 8, 16), s"sweep points: ${got.map(_._1)}")
    // monotone frontier: more cells probed can never lose recall and
    // always costs at least as many candidates
    got.sliding(2).foreach { case Seq(a, b) =>
      assert(a._2 <= b._2, s"recall decreased: $a -> $b")
      assert(a._3 <= b._3, s"candidates decreased: $a -> $b")
    }
    // the p=16 endpoint probes EVERY cell: it IS the exact scan, so
    // both ratios are exactly 10^6 by construction
    val full = got.last
    assert(full._2 == 1000000L, s"recall@nprobe=16 must be exact: $full")
    assert(full._4 == 1000000L, s"cand_frac@nprobe=16 must be 1: $full")
    // the curve must be non-trivial: probing 1 cell reads a strict
    // subset of the corpus
    assert(got.head._4 < 1000000L, s"nprobe=1 candidate fraction: ${got.head}")
    // cross-entry pin: the p=4 point IS the shipped operating point —
    // its recall must equal a39's registered per-query eval aggregated
    val a39 = SparkEntry.queries("a39_recall_eval")(spark, sfDir)
      .as[(Long, Int, Long)].collect().toSeq
    val a39Recall = a39.map(_._2.toLong).sum * 1000000L / (a39.size * 5L)
    val p4 = got.find(_._1 == 4).get
    assert(p4._2 == a39Recall, s"a47@4 ${p4._2} != a39 aggregate $a39Recall")
  }

  test("a46 merge: budget, cold set, conservation, survivors' own counts untouched") {
    val merged = SparkEntry.queries("a46_cell_merge")(spark, sfDir)
      .as[(Int, Long, Long, Long, Double, Double)].collect().toSeq
    val ledger = SparkEntry.queries("a44_cell_stats")(spark, sfDir)
      .as[(Int, Long, Double)].collect().toSeq
    val nlist = ledger.size
    val n = ledger.map(_._2).sum
    // exactly nlist − 8 surviving lists; the retired set is a44's
    // bottom-8 by (vectors asc, cell) and none of them survive
    assert(merged.size == nlist - 8, s"survivor count: ${merged.size}")
    val retired = ledger.sortBy(r => (r._2, r._1)).take(8).map(_._1).toSet
    assert(merged.map(_._1).toSet.intersect(retired).isEmpty,
      "a retired cell appears in the merged ledger")
    assert(merged.map(_._1).toSet ++ retired == ledger.map(_._1).toSet,
      "survivors ∪ retired != all cells")
    // conservation: survivors' own counts match a44 row-for-row, and
    // the absorbed mass is exactly the retired lists' mass
    val a44ByCell = ledger.map(r => r._1 -> r._2).toMap
    merged.foreach { r =>
      assert(r._2 == a44ByCell(r._1), s"survivor own count changed: $r")
      assert(r._4 == r._2 + r._3, s"vectors != parent + absorbed: $r") }
    val retiredMass = ledger.filter(r => retired(r._1)).map(_._2).sum
    assert(merged.map(_._3).sum == retiredMass,
      s"absorbed ${merged.map(_._3).sum} != retired mass $retiredMass")
    assert(retiredMass > 0, "test corpus must make the merge non-vacuous")
    assert(merged.map(_._4).sum == n, "post-merge counts must conserve the corpus")
    // load arithmetic: after = vectors · (nlist − 8) / n at 4 decimals
    merged.foreach { r =>
      val exp = BigDecimal(r._4.toDouble * (nlist - 8) / n)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r._6 == exp, s"load_after ${r._6} != $exp for $r") }
  }

  test("a49 knn graph: structure laws + honest recall vs brute force") {
    val graph = SparkEntry.queries("a49_knn_join")(spark, sfDir)
      .as[(Long, Int, Long, Double)].collect().toSeq
    // per-source structure: dense ranks from 1, scores non-increasing,
    // no self-edges
    graph.groupBy(_._1).values.foreach { g =>
      val sorted = g.sortBy(_._2)
      assert(sorted.map(_._2) == (1 to g.size), "non-dense ranks")
      assert(sorted.map(_._4).sliding(2).forall(p =>
        p.size < 2 || p(0) >= p(1)), "scores must be non-increasing")
      assert(g.forall(x => x._1 != x._3), "self-edge")
    }
    // honest recall@10 against an in-memory brute-force graph over
    // the full corpus (500 vecs at the spec SF): the cell-candidate
    // cut is real, and so is its measured miss rate — the a39/a41
    // in-band stance
    val vecs = Tables.embeddings(spark, sfDir)
      .select("vec_id", "embedding")
      .as[(Long, Seq[Float])].collect()
      .map { case (id, e) =>
        val n = math.sqrt(e.map(x => x.toDouble * x).sum)
        (id, e, n)
      }.filter(_._3 > 0)
    val k = 10
    val brute = vecs.map { case (id, e, n) =>
      id -> vecs.filter(_._1 != id).map { case (jd, f, m) =>
        val dot = e.zip(f).map { case (a, b) => a.toDouble * b }.sum
        (jd, dot / (n * m))
      }.sortBy { case (jd, c) => (-c, jd) }.take(k).map(_._1)
    }.toMap
    val got = graph.groupBy(_._1).view.mapValues(_.map(_._3).toSet)
    assert(got.size == vecs.length, "every vector must have a neighborhood")
    // honest numbers (the a41/a47 stance — measured, printed,
    // floored). This corpus is STRUCTURELESS at the spec SF (max
    // pair cosine < 0.5 — no planted twins), so absolute recall is
    // bounded by geometry, and the meaningful metric is the LIFT
    // over a random candidate set of the same size: how much does
    // the quantizer concentrate true neighbors per candidate
    // scanned?
    val twin = got.count { case (src, nb) => nb(brute(src).head) }.toDouble / got.size
    val recall = got.map { case (src, nb) =>
      (nb & brute(src).toSet).size }.sum.toDouble / (got.size * k)
    // the actual candidate fraction the cell cut scanned, from the
    // same building blocks the operator uses
    import graft.ann.Ann
    val (base, c1) = Ann.a42Refine(spark, sfDir)
    val idx = Ann.a42AssignTopFrom(base, c1, 1)
      .select(col("vec_id").as("dst"), col("cells").getItem(0).as("cell"))
    val qry = Ann.a42AssignTopFrom(base, c1, Ann.a49Probes)
      .select(col("vec_id").as("src"), explode(col("cells")).as("cell"))
    val nCand = qry.join(idx, Seq("cell"))
      .filter(col("src") =!= col("dst")).select("src", "dst").distinct().count()
    val frac = nCand.toDouble / (got.size.toDouble * (vecs.length - 1))
    val lift = recall / frac
    info(f"a49 twin capture: $twin%.4f, tail recall@10: $recall%.4f, " +
      f"candidate fraction: $frac%.4f, lift over random: $lift%.1f×")
    assert(frac < 0.15, f"candidate fraction $frac%.4f — the cut is not cutting")
    assert(lift >= 4.0,
      f"lift $lift%.1f below 4× — cells are not concentrating neighbors")
    assert(twin >= 0.5 && recall >= 0.3 && recall < 1.0,
      f"measured floors regressed: twin=$twin%.4f recall=$recall%.4f")
  }

  test("a51 range search: threshold exact on candidates, honest radius recall vs brute") {
    import graft.ann.Ann
    val got = SparkEntry.queries("a51_range_search")(spark, sfDir)
      .as[(Long, Long, Double)].collect().toSeq
    assert(got.nonEmpty, "radius result must be non-empty at the spec SF")
    assert(got.forall(_._3 >= Ann.a51Tau), "a sub-threshold row returned")
    assert(got.forall(r => r._1 != r._2), "self-match")
    // result sets genuinely VARY per query — the property top-k
    // cannot express
    val sizes = got.groupBy(_._1).view.mapValues(_.size).values.toSeq
    assert(sizes.distinct.size > 1, s"degenerate uniform result sizes: $sizes")

    // routed == brute ∩ candidates: the threshold never drops a
    // candidate the routing surfaced (misses come from routing ONLY)
    val candPairs = Ann.a49Scored(spark, sfDir, col("vec_id") < 8)
      .select("src", "dst").as[(Long, Long)].collect().toSet
    val vecs = Tables.embeddings(spark, sfDir)
      .select("vec_id", "embedding")
      .as[(Long, Seq[Float])].collect()
      .map { case (id, e) =>
        (id, e, math.sqrt(e.map(x => x.toDouble * x).sum))
      }.filter(_._3 > 0)
    val brute = (for {
      (qid, qe, qn) <- vecs.filter(_._1 < 8)
      (cid, ce, cn) <- vecs if cid != qid
      cos = BigDecimal(qe.zip(ce).map { case (a, b) => a.toDouble * b }.sum /
        (qn * cn)).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      if cos >= Ann.a51Tau
    } yield (qid, cid, cos)).toSeq
    val expected = brute.filter(p => candPairs((p._1, p._2)))
      .sortBy(p => (p._1, -p._3, p._2))
    assert(got == expected,
      "routed radius result != brute radius restricted to candidates")
    // honest radius recall (the a41/a47 measured-and-floored stance)
    val recall = expected.size.toDouble / brute.size
    info(f"a51 radius recall: $recall%.4f (${expected.size}/${brute.size} matches surfaced)")
    assert(recall >= 0.3 && recall < 1.0,
      f"radius recall floor regressed: $recall%.4f")
  }

  test("a50 merge: file union serves the full build; routing survives transit untouched") {
    val probe = SparkEntry.queries("a50_index_merge")(spark, sfDir)
      .collect().toSeq
    // merge-then-probe == build-from-everything (a36 builds the full
    // index directly and probes through the same shared path)
    val direct = SparkEntry.queries("a36_ann_persisted_ivf")(spark, sfDir)
      .collect().toSeq
    assert(probe == direct, "merged shards must serve the full-build probe")
    // the merged artifact holds every vector with its ORIGINAL
    // routing — the merge never re-reads or re-routes
    val merged = spark.read.parquet(
        graft.sources.Export.scratch("a50_merged", sfDir))
      .select("vec_id", "cell").as[(Long, Int)].collect().sorted.toSeq
    val routed = Ann.ivfRoutedCorpus(spark, sfDir)
      .select("vec_id", "cell").as[(Long, Int)].collect().sorted.toSeq
    assert(merged == routed, "merged rows must equal the routed corpus")
    // and the shards genuinely partition the corpus (no row lost or
    // duplicated by the file copy)
    assert(merged.size == routed.size && merged.map(_._1).distinct.size == merged.size)
  }

  test("a53 index time travel: v1 pin, append carries v1's files, delete isolation across commits") {
    import org.apache.spark.sql.functions._
    val root = Ann.a53Build(spark, sfDir, "a53spec_index")
    val corpus = Ann.ivfRoutedCorpus(spark, sfDir)
    val prior = corpus.filter(col("vec_id") % 4 =!= 0)
    // v1 pin: probe AS OF 1 == the probe tail run directly over the
    // prior slice in memory (same queries: as-of-1, the day batch's
    // vectors do not exist, so they neither match nor query)
    val v1 = Ann.a53ProbeAsOf(spark, root, 1, Ann.ivfProbeQueries(prior))
      .collect().toSeq
    val direct = Ann.probeIvfIndex(
      prior.select("vec_id", "embedding", "norm", "cell"),
      Ann.ivfProbeQueries(prior)).collect().toSeq
    assert(v1.nonEmpty && v1 == direct, "AS OF 1 != in-memory prior-slice probe")
    // append monotonicity: manifest 2's data set contains manifest
    // 1's files verbatim (commit 2 wrote new files, rewrote none)
    def manifest(k: Int): Set[(String, String)] =
      spark.read.parquet(s"$root/manifest_$k")
        .as[(String, String)].collect().toSet
    val (m1, m2, m3) = (manifest(1), manifest(2), manifest(3))
    assert(m1.subsetOf(m2) && m2.size > m1.size,
      "commit 2 must append files, never rewrite")
    // commit 3 is a delete FILE only: same data files as v2
    assert(m3.filter(_._1 == "data") == m2.filter(_._1 == "data"),
      "commit 3 must not touch data files")
    assert(m3.exists(_._1 == "delete"), "commit 3 must carry a delete file")
    // delete isolation: AFTER commit 3 landed, AS OF 2 still serves
    // tombstoned vectors as neighbors; AS OF 3 never does
    val v2n = Ann.a53ProbeAsOf(spark, root, 2, Ann.ivfProbeQueries(corpus))
      .select("neighbor_id").as[Long].collect().toSet
    val v3n = Ann.a53ProbeAsOf(spark, root, 3,
        Ann.ivfProbeQueries(corpus.filter(not(expr(Ann.a38DeletedPred)))))
      .select("neighbor_id").as[Long].collect().toSet
    assert(v2n.exists(_ % 7 == 3), "no tombstoned neighbor AS OF 2 — isolation vacuous")
    assert(!v3n.exists(_ % 7 == 3), "a tombstoned neighbor leaked AS OF 3")
  }

  test("q94 orphan GC: every version byte-equal across GC; orphan gone, manifests intact, non-vacuous") {
    import org.apache.spark.sql.functions._
    val root = Ann.a53Build(spark, sfDir, "q94spec_index")
    val corpus = Ann.ivfRoutedCorpus(spark, sfDir)
    val live = corpus.filter(not(expr(Ann.a38DeletedPred)))
    def queriesFor(k: Int) = k match {
      case 1 => Ann.ivfProbeQueries(corpus.filter(col("vec_id") % 4 =!= 0))
      case 2 => Ann.ivfProbeQueries(corpus)
      case _ => Ann.ivfProbeQueries(live)
    }
    val before = (1 to 3).map(k =>
      Ann.a53ProbeAsOf(spark, root, k, queriesFor(k)).collect().toSeq)
    val orphan = Ann.q94PlantOrphan(root)
    // non-vacuity: under a NAIVE whole-directory read the leftover
    // duplicates rows — the corruption manifest-scoped reads (and,
    // after GC, everyone) never see
    val naive = spark.read.parquet(s"$root/data").count()
    val committed = spark.read.parquet(s"$root/manifest_3")
      .filter(col("kind") === "data").count()
    assert(naive > 0 && committed > 0)
    val removed = Ann.q94RemoveOrphans(spark, root)
    assert(removed == Seq(orphan), s"GC removed $removed, planted $orphan")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(orphan)),
      "orphan still on disk")
    val naiveAfter = spark.read.parquet(s"$root/data").count()
    assert(naive > naiveAfter, "the planted orphan never polluted a naive read")
    // every manifest-referenced file survived the GC
    val referenced = spark.read.parquet(s"$root/manifest_3")
      .filter(col("kind") === "data").select("path").as[String].collect()
    referenced.foreach(p =>
      assert(java.nio.file.Files.exists(java.nio.file.Paths.get(p)),
        s"GC deleted a referenced file: $p"))
    // and every version reads byte-identically across the whole cycle
    (1 to 3).zip(before).foreach { case (k, b) =>
      val after = Ann.a53ProbeAsOf(spark, root, k, queriesFor(k)).collect().toSeq
      assert(after == b, s"version $k changed across GC")
      assert(after.nonEmpty, s"version $k empty")
    }
  }

  test("q94 orphan GC keeps the files of every manifest, a 4th commit's included") {
    val root = Ann.a53Build(spark, sfDir, "q94m4spec_index")
    // a 4th commit: a new data file in the layout plus a manifest
    // that references it beside commit 3's files
    val victim = java.nio.file.Paths.get(
      graft.sources.Export.listParquet(s"$root/data").head)
    val added = victim.getParent.resolve("commit4-data.parquet")
    java.nio.file.Files.copy(victim, added)
    val m3 = spark.read.parquet(s"$root/manifest_3").as[(String, String)].collect()
    (m3 :+ ("data" -> added.toString)).toSeq.toDF("kind", "path")
      .coalesce(1).write.parquet(s"$root/manifest_4")
    val orphan = Ann.q94PlantOrphan(root)
    val removed = Ann.q94RemoveOrphans(spark, root)
    assert(removed == Seq(orphan), s"GC removed $removed, planted $orphan")
    assert(java.nio.file.Files.exists(added),
      "GC deleted a file only the 4th manifest references")
  }

  test("a52 selective compaction: hybrid == full compaction; cold files untouched; hot cells clean") {
    import org.apache.spark.sql.functions._
    val hybrid = SparkEntry.queries("a52_cell_compaction")(spark, sfDir)
      .as[(Long, Int, Long, Double)].collect().toSeq
    // hybrid compaction must serve exactly a38's full-compaction probe
    val full = SparkEntry.queries("a38_ann_delete")(spark, sfDir)
      .as[(Long, Int, Long, Double)].collect().toSeq
    assert(hybrid.nonEmpty && hybrid == full,
      "hybrid compaction != full compaction")
    // both trigger classes populated
    val corpus = Ann.ivfRoutedCorpus(spark, sfDir)
    val (hot, nCells) = Ann.a52HotCells(corpus)
    assert(hot.nonEmpty && hot.size < nCells, s"degenerate split: $hot of $nCells")
    // hot-cell rewrites hold no tombstoned row
    val hybridDir = graft.sources.Export.scratch("a52_hybrid", sfDir)
    val hotRows = spark.read.parquet(hybridDir)
      .filter(col("cell").isin(hot.map(Int.box): _*))
    assert(hotRows.filter(expr(Ann.a38DeletedPred)).isEmpty,
      "a tombstoned row survived a hot-cell rewrite")
    // cold-cell files carried byte-identically (content hash per
    // file, keyed by cell-QUALIFIED relative path — a bare basename
    // collides across cell dirs because partitionBy writes the same
    // part-file name into every cell; review-pass finding)
    val gen1 = graft.sources.Export.scratch("a52_index", sfDir)
    def hashes(dir: String, cold: String => Boolean): Map[String, String] = {
      val it = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      try {
        import scala.jdk.CollectionConverters._
        it.iterator().asScala.filter(_.toString.endsWith(".parquet"))
          .filter(p => cold(p.getParent.getFileName.toString))
          .map { p =>
            val bytes = java.nio.file.Files.readAllBytes(p)
            val h = java.security.MessageDigest.getInstance("MD5").digest(bytes)
              .map("%02x".format(_)).mkString
            val key = p.getParent.getFileName.toString + "/" +
              p.getFileName.toString.stripPrefix("s0_")
            key -> h
          }.toMap
      } finally it.close()
    }
    val hotDirs = hot.map(c => s"cell=$c").toSet
    val before = hashes(gen1, d => !hotDirs.contains(d))
    val after = hashes(hybridDir, d => !hotDirs.contains(d))
    assert(before.nonEmpty && before == after,
      "cold-cell files must carry byte-identically")
  }

  test("a54 retrain decision: retrained quantizer IS a42's production build; health laws") {
    import org.apache.spark.sql.functions._
    val out = SparkEntry.queries("a54_retrain_decision")(spark, sfDir)
      .as[(String, Long, Long, Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    val (stale, retr) = (out("stale"), out("retrained"))
    // both regimes routed the whole corpus in one shared basis
    assert(stale._3 == retr._3 && stale._3 > 0)
    // the published decision is consistent with the distortions it
    // summarizes, and identical on both rows (one decision per scan)
    assert(stale._7 == retr._7 &&
      retr._7 == (retr._6 <= stale._6),
      "recommend_retrain must equal the integer-distortion comparison")
    // at THIS corpus the candidate does win (it trained on the
    // population being measured) — the expected-case pin, now as an
    // assertion on data rather than an operator abort (ADVICE r14)
    assert(retr._7, "retrained build should win at the test corpus")
    // the drift split is real: stale trained on a strict subset
    assert(stale._2 < retr._2 && retr._2 == retr._3)
    // occupancy sanity: cells used, peak load ≥ mean load
    assert(retr._4 > 1 && retr._5 * retr._4 >= retr._3)
    // the retrained quantizer must BE the production a42 build —
    // a54's recommendation is to swap in exactly what a42 ships
    val base = Ann.a42Base(spark, sfDir)
    val fromA54 = Ann.a42RefineFrom(base, lit(true))
      .collect().map(r => r.getInt(0) -> r.getSeq[Long](1)).toMap
    val (_, fromA42) = Ann.a42Refine(spark, sfDir)
    val prod = fromA42.collect().map(r => r.getInt(0) -> r.getSeq[Long](1)).toMap
    assert(fromA54 == prod, "retrained centroids != a42 production build")
  }

  test("a55 grid: the m=8 point IS a32's shipped pipeline; distortion strictly decreasing") {
    val out = SparkEntry.queries("a55_pq_tradeoff")(spark, sfDir)
      .as[(Int, Int, Int, Long, Long, Long, Long)].collect().toSeq
    assert(out.map(_._1) == Seq(2, 4, 8))
    assert(out.map(_._4) == out.map(_._4).sorted.reverse &&
      out.map(_._4).distinct.size == 3, "distortion must strictly decrease")
    // the m=8 grid point ranks EXACTLY like the shipped a32 operator
    // (the sweep measures what ships, the a39 stance)
    val swept = Ann.rankedTopK(spark,
      Ann.pqScored(spark, sfDir, Ann.a32Cfg)).collect().toSeq
    val shipped = SparkEntry.queries("a32_ann_pq")(spark, sfDir).collect().toSeq
    assert(swept == shipped, "a55's m=8 point != a32's shipped ranking")
  }
}
