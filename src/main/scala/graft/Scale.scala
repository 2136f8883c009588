package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-ladder instrument: execution evidence ABOVE
  * the sf0.1 gate corpus. Synthesizes ~sf1 as a deterministic 10×
  * key-remapped replication of sf0.1 (written once to scratch), runs
  * the heavy families at BOTH SFs, and fail-stops any superlinear
  * candidate growth. Results land in SCALING.md.
  *
  * Synthesis rules (copy i of 10; copy 0 is the identity, so
  * sf1 ⊇ sf0.1 row-for-row):
  *   - every key column shifts by i × (max_key + 1) — copies are
  *     disjoint key ranges, so per-key densities (orders/customer,
  *     events/user) are PRESERVED and group counts scale linearly,
  *     which is what "the same corpus, 10× bigger" means;
  *   - documents: copy i>0 prefixes EVERY token with its copy tag —
  *     token-space key remapping. The rewrite is a bijection on each
  *     copy's shingle space, so WITHIN-copy Jaccard (and therefore
  *     the copy's near-dup pair structure) is preserved EXACTLY,
  *     while cross-copy shingle spaces are DISJOINT (Jaccard 0 —
  *     zero cross-copy candidates beyond band-hash collisions): the
  *     10 copies model ten disjoint shards of the same distribution,
  *     which is what "the same corpus, 10× bigger" means for text.
  *     Two rejected alternatives, both MEASURED wrong on this ladder
  *     and recorded in SCALING.md: verbatim replication makes every
  *     doc a 0.99-Jaccard near-dup of its 9 clones (quadratic
  *     planted structure no real crawl has), and PARTIAL rewrites
  *     (20-40% of tokens) leave cross-copy Jaccard ≈ 0.4-0.67 —
  *     under the 0.71 verify threshold but high enough that the
  *     corpus' giant planted cluster puts its entire 10×-sized
  *     cross-copy pair pool through the banding at 13-23% hit rate
  *     (measured 23.4× candidate growth; the fail-stop below caught
  *     it). n_chars is recomputed after the rewrite;
  *   - embeddings: copy i rotates each vector by i positions
  *     (i ≤ 9 < dim 64, never the identity) — distinct geometry per
  *     copy, same norm and cluster granularity.
  *
  * The growth laws this instrument (and the in-operator density
  * audits [[graft.dedup.Dedup.d23CandidateAudit]]) enforce: LSH band
  * candidates and verified pairs grow ≤ copies × 1.5 — linear in the
  * corpus with 50% slack for band collisions; anything superlinear
  * means the banding degenerated and 100 TB would melt. */
object Scale {

  private[graft] val Copies = 10

  private def keyShift(c: org.apache.spark.sql.Column, stride: Long, i: Int) =
    c + lit(stride * i)

  /** Write the replicated table set to `out`. Idempotent via a
    * marker file that RECORDS (base, copies) — a scratch dir
    * synthesized from a different base is re-synthesized, not
    * silently reused. Strides are computed
    * from the base's own max keys, never hardcoded, so the ladder
    * can point at any corpus (including chaining from a synthesized
    * one) without key collisions. Only the tables the heavy families
    * read are replicated. */
  private[graft] def synthesize(s: SparkSession, base: String,
      out: String): Unit = {
    val marker = java.nio.file.Paths.get(s"$out/_SYNTH_OK")
    val markerBody = s"base=$base copies=$Copies\n"
    if (java.nio.file.Files.exists(marker) &&
        java.nio.file.Files.readString(marker) == markerBody) return
    graft.sources.Export.deleteTree(out)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))

    def replicate(src: DataFrame, name: String,
        body: (DataFrame, Int) => DataFrame): Unit = {
      (0 until Copies).map(i => body(src, i))
        .reduce(_.unionByName(_))
        .write.mode("overwrite").parquet(s"$out/$name.parquet")
      System.err.println(s"[scale] synthesized $name")
    }
    def raw(name: String): DataFrame = Tables.parquet(s, s"$base/$name.parquet")
    // stride = max(key) + 1, read from the base itself
    def strideOf(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).head.getLong(0) + 1L

    val docs = raw("documents")
    val docStride = strideOf(docs, "doc_id")
    replicate(docs, "documents", { (df, i) =>
      val shifted = df.withColumn("doc_id", keyShift(col("doc_id"), docStride, i))
      if (i == 0) shifted
      else shifted
        .withColumn("text", expr(
          s"""array_join(transform(split(text, ' '),
             | t -> concat('c$i', t)), ' ')""".stripMargin))
        .withColumn("n_chars", length(col("text")).cast("long"))
    })
    val embs = raw("embeddings")
    val vecStride = strideOf(embs, "vec_id")
    replicate(embs, "embeddings", { (df, i) =>
      val shifted = df.withColumn("vec_id", keyShift(col("vec_id"), vecStride, i))
      if (i == 0) shifted
      else shifted.withColumn("embedding", expr(
        s"concat(slice(embedding, ${i + 1}, size(embedding) - $i), " +
          s"slice(embedding, 1, $i))"))
    })
    // events go through Tables.events, NOT a raw read: the loader
    // normalizes the two shipped ts physical layouts (nanos-as-long
    // vs micros) to one timestamp column, so the synthesized table
    // is layout-stable regardless of the base's generation
    val evs = Tables.events(s, base)
    val (evStride, userStride) =
      (strideOf(evs, "event_id"), strideOf(evs, "user_id"))
    replicate(evs, "events", (df, i) => df
      .withColumn("event_id", keyShift(col("event_id"), evStride, i))
      .withColumn("user_id", keyShift(col("user_id"), userStride, i)))
    val ords = raw("orders")
    val (okStride, ckStride) =
      (strideOf(ords, "o_orderkey"), strideOf(ords, "o_custkey"))
    replicate(ords, "orders", (df, i) => df
      .withColumn("o_orderkey", keyShift(col("o_orderkey"), okStride, i))
      .withColumn("o_custkey", keyShift(col("o_custkey"), ckStride, i)))
    replicate(raw("lineitem"), "lineitem", (df, i) => df
      .withColumn("l_orderkey", keyShift(col("l_orderkey"), okStride, i)))
    java.nio.file.Files.writeString(marker, markerBody)
  }

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, math.rint((System.nanoTime() - t0) / 1e6) / 1e3)
  }

  /** Force a face's full execution (the bench's noop-sink stance). */
  private def run(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    val base = Session.sfDir
    val sf1 = sys.env.getOrElse("SPARK_GRAFT_SF1_DIR",
      s"${sys.props("java.io.tmpdir")}/graft_scale_sf1")
    val spark = Session.local()
    synthesize(spark, base, sf1)
    // build/probe split active here exactly as in Bench: wrapped
    // entries (q92/q102/a43) construct once per (dir) and the timed
    // second call is the served read
    BuildCache.enable()
    val D = graft.dedup.Dedup
    val A = graft.ann.Ann
    val R = graft.operators.Relational

    case class Point(sf: String, dir: String) {
      val docs: Long = Tables.documents(spark, dir).count()
      val (candidates, candSec) = timed(D.d23CandidatePairs(spark, dir).count())
      val (d23Pairs, d23Sec) = timed(
        SparkEntry.queries("d23_dedup_minhash")(spark, dir).count())
      val (d25bPairs, d25bSec) = timed(
        SparkEntry.queries("d25b_ngram_banded")(spark, dir).count())
      // ANN probes: a42 is the in-memory build+probe; a43 builds the
      // persisted index once (BuildCache) then times the pruned probe
      run(SparkEntry.queries("a43_persisted_mips")(spark, dir)) // build
      val (_, a43ProbeSec) = timed(
        run(SparkEntry.queries("a43_persisted_mips")(spark, dir)))
      val (_, a42Sec) = timed(
        run(SparkEntry.queries("a42_ann_ivf_mips")(spark, dir)))
      // layouts
      val (_, q33Sec) = timed(run(R.q33BucketedJoin(spark, dir)))
      val (_, q34Sec) = timed(run(R.q34Zorder(spark, dir)))
      run(SparkEntry.queries("q102_layout_matrix")(spark, dir)) // build
      val (_, q102ProbeSec) = timed(
        run(SparkEntry.queries("q102_layout_matrix")(spark, dir)))
      // time travel: chain build once, then the checkpoint-routed read
      run(SparkEntry.queries("q92_checkpointed_travel")(spark, dir)) // build
      val (_, q92ProbeSec) = timed(
        run(SparkEntry.queries("q92_checkpointed_travel")(spark, dir)))
      def json: String =
        s"""{"sf":"$sf","docs":$docs,"candidates":$candidates,
           |"cand_sec":$candSec,"d23_pairs":$d23Pairs,"d23_sec":$d23Sec,
           |"d25b_pairs":$d25bPairs,"d25b_sec":$d25bSec,
           |"a43_probe_sec":$a43ProbeSec,"a42_sec":$a42Sec,
           |"q33_sec":$q33Sec,"q34_sec":$q34Sec,
           |"q102_probe_sec":$q102ProbeSec,"q92_probe_sec":$q92ProbeSec}"""
          .stripMargin.replace("\n", "")
    }

    val p01 = Point("sf0.1", base)
    System.err.println(s"[scale] sf0.1 done")
    println(s"[scale-point] ${p01.json}")
    val p1 = Point("sf1", sf1)
    System.err.println(s"[scale] sf1 done")
    println(s"[scale-point] ${p1.json}")

    // the growth fail-stops: candidates and verified pairs must grow
    // ≤ linearly in the corpus (50% slack for band collisions)
    val slack = 1.5
    def growth(a: Long, b: Long): Double =
      if (a > 0) b.toDouble / a else Double.PositiveInfinity
    val candG = growth(p01.candidates, p1.candidates)
    val pairG = growth(p01.d23Pairs, p1.d23Pairs)
    require(candG <= Copies * slack,
      f"superlinear candidate growth: $candG%.1f× for ${Copies}× corpus")
    require(pairG <= Copies * slack,
      f"superlinear verified-pair growth: $pairG%.1f× for ${Copies}× corpus")
    // the same density law the operators carry (audited at both SFs)
    D.d23CandidateAudit(spark, base)
    D.d23CandidateAudit(spark, sf1)
    println(s"""{"metric":"scale","copies":$Copies,"cand_growth":${math.rint(candG * 100) / 100},"pair_growth":${math.rint(pairG * 100) / 100},"points":[${p01.json},${p1.json}]}""")
    spark.stop()
  }
}
