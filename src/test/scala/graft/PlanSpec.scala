package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FormattedMode

/** Locks in the physical-plan properties the engine is designed
  * around: filter pushdown to the parquet scan, column pruning,
  * broadcast of dimension tables, and shuffle counts. These are the
  * properties that keep the plans correct at 100 TB; a regression
  * here (e.g. a lost pushdown after a refactor) would not change
  * results, only destroy scalability — exactly what result-checking
  * tests can't catch. */
class PlanSpec extends SparkSpec {

  private def planOf(name: String): (String, String) = {
    val df: DataFrame = SparkEntry.queries(name)(spark, sfDir)
    (df.queryExecution.executedPlan.toString,
      df.queryExecution.explainString(FormattedMode))
  }

  test("q01 pushes the shipdate filter into the parquet scan and prunes columns") {
    val (_, fmt) = planOf("q01_agg_filter")
    assert(fmt.contains("PushedFilters"), "expected pushed filters")
    assert(fmt.contains("LessThanOrEqual(l_shipdate"), "shipdate predicate must reach the scan")
    // pruning: untouched wide columns must not be read
    assert(!fmt.contains("l_comment") && !fmt.contains("l_shipmode"),
      "unused columns must be pruned from ReadSchema")
  }

  test("q03 broadcasts both dimension tables (fact side never shuffles for the join)") {
    val (plan, _) = planOf("q03_join_enrich")
    assert(plan.linesIterator.count(_.contains("BroadcastHashJoin")) == 2,
      s"expected 2 broadcast joins:\n$plan")
  }

  test("q04 4-way left join broadcasts all dims") {
    val (plan, _) = planOf("q04_multiway_left_join")
    assert(plan.linesIterator.count(_.contains("BroadcastHashJoin")) >= 2)
    assert(!plan.contains("CartesianProduct"))
  }

  test("q08 latest-per-key is a single shuffle (one window, no extra exchange)") {
    val (plan, _) = planOf("q08_latest_per_key")
    assert(plan.linesIterator.count(_.contains("Exchange")) <= 2,
      s"SCD1 must not re-shuffle beyond the key partition + presentation sort:\n$plan")
  }

  test("q32 SCD2's two window passes share ONE key exchange") {
    // lag change-detection and the lead/row_number version windows
    // both partition on user_id with the same ordering — Catalyst
    // must plan one hashpartitioning exchange and pipeline the two
    // window operators over it; the only other exchange allowed is
    // the final presentation sort's (one partition for a small input,
    // range-partitioned for a large one).
    val (plan, _) = planOf("q32_scd2")
    assert(plan.linesIterator.count(_.contains("Exchange")) <= 2,
      s"SCD2 must reuse one user_id shuffle across both window passes:\n$plan")
    assert(plan.linesIterator.count(l =>
      l.contains("Exchange") && l.contains("hashpartitioning")) == 1,
      s"expected exactly one key exchange:\n$plan")
  }

  test("q33 bucketed join: sort-merge with ZERO exchange on the join key, bucketed scans") {
    // the whole point of the layout: both sides were written
    // bucketBy(8, orderkey), so the join must read bucket-aligned
    // splits and never shuffle either fact table. The only allowed
    // exchanges are the priority rollup and the presentation sort.
    val (plan, fmt) = planOf("q33_bucketed_join")
    assert(plan.contains("SortMergeJoin"), s"expected a sort-merge join:\n$plan")
    assert(!plan.linesIterator.exists(l => l.contains("Exchange") &&
      (l.contains("o_orderkey") || l.contains("l_orderkey"))),
      s"bucketed fact-fact join must not shuffle on the join key:\n$plan")
    assert(fmt.contains("SelectedBucketsCount") || fmt.contains("Bucketed: true"),
      "scans must actually be bucketed reads")
  }

  test("d33 bloom probe path has NO join at all — a literal-bitmap filter plus one rollup") {
    // d29 matches via a broadcast semi join; d33's entire selling
    // point is that the match is a scan-stage bit probe against a
    // plan literal: no join operator of any kind on the corpus path.
    // All exchanges sit on the post-probe HIT stream (a vanishing
    // fraction of the corpus): the (doc,gram) distinct, the per-doc
    // rollup, and the presentation sort.
    val (plan, _) = planOf("d33_bloom_decontaminate")
    assert(!plan.contains("Join"), s"bloom probe must not join:\n$plan")
    assert(plan.linesIterator.count(_.contains("Exchange")) <= 3,
      s"only distinct + rollup + presentation sort may exchange:\n$plan")
  }

  test("d29 decontamination matches via a broadcast LEFT SEMI join (corpus never shuffles to match)") {
    val (plan, _) = planOf("d29_decontaminate")
    assert(plan.linesIterator.exists(l =>
      l.contains("BroadcastHashJoin") && l.contains("LeftSemi")),
      s"eval gram set must broadcast into a semi join:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"))
  }

  test("d30 repeated-gram rollup is partial-aggregable: no count-distinct Expand, equi-joins only") {
    // the min≠max formulation exists precisely so the corpus-sized
    // gram rollup partial-aggregates map-side; a count(distinct
    // doc_id) would plan an Expand + double shuffle. The attach-back
    // join must be an equi-join on the gram key (AQE may legitimately
    // broadcast the repeated list at TEST scale — at corpus scale it
    // degrades to the gram-keyed shuffle join, the same unhinted
    // stance as the dedup verify stages).
    val (plan, _) = planOf("d30_repeated_ngrams")
    assert(!plan.contains("Expand"),
      s"min≠max rollup must not plan a count-distinct Expand:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"))
    assert(plan.contains("partial_min") || plan.contains("min("),
      s"expected a map-side partial min/max rollup:\n$plan")
  }

  test("d31 passage scrub: no count-distinct Expand, equi-joins only, anti-join keyed on (doc, pos)") {
    // same partial-aggregable min≠max stance as d30, plus: the
    // kept-token stage must be a genuine ANTI equi-join — a
    // non-equi (range) formulation of "position covered by some
    // window" would plan a nested loop and die at corpus scale.
    val (plan, _) = planOf("d31_passage_scrub")
    assert(!plan.contains("Expand"),
      s"min≠max rollup must not plan a count-distinct Expand:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"covered-position membership must stay an equi-join:\n$plan")
    assert(plan.contains("LeftAnti"),
      s"kept tokens must come from an anti equi-join:\n$plan")
  }

  test("t38 keyphrase: df without a count-distinct Expand; doc-keyed top-k window") {
    // df counts rows of the already-distinct (doc, gram) count table,
    // so no distinct aggregate (and no Expand) may appear; the only
    // nested loop is the 1-row doc-count broadcast (sweep-justified).
    val (plan, _) = planOf("t38_keyphrase")
    assert(!plan.contains("Expand"),
      s"df must count rows of the tf table, not count-distinct docs:\n$plan")
    assert(!plan.contains("CartesianProduct"))
    val bnlj = plan.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
    assert(bnlj <= 1, s"only the 1-row N broadcast may nested-loop:\n$plan")
    assert(plan.contains("row_number"),
      s"top-k must be a doc-keyed rank window:\n$plan")
  }

  test("t39 bigram LM: dictionary enrichment before the single corpus probe join") {
    // c1 and ppm attach to the DICTIONARY (c12 table) and the
    // corpus-sized bigram stream joins once on the gram key — an
    // equi-join; the only nested loop is the 1-row vocabulary-size
    // broadcast (sweep-justified).
    val (plan, _) = planOf("t39_bigram_lm")
    assert(!plan.contains("CartesianProduct"))
    val bnlj = plan.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
    assert(bnlj <= 1, s"only the 1-row V broadcast may nested-loop:\n$plan")
  }

  test("t40 pipeline: reused operators' intermediate orderings are eliminated (one final Sort)") {
    // t30/t35 end in presentation ORDER BYs; composed under joins
    // those sorts are dead weight and EliminateSorts must drop them —
    // a surviving mid-plan Sort would be a materialization barrier
    // the 100 TB chain doesn't need. Exactly the final doc_id Sort
    // may remain.
    val (plan, _) = planOf("t40_pipeline")
    // global=true marks presentation sorts; join-local sorts (global=
    // false, e.g. under a sort-merge join) are legitimate
    val globalSorts = "Sort \\[[^\\]]*\\], true".r.findAllIn(plan).size
    assert(globalSorts == 1,
      s"expected exactly 1 global Sort, found $globalSorts:\n$plan")
    assert(!plan.contains("CartesianProduct"))
    // per-row stages (quality score, scrub, sample draw) must be
    // inline scan-stage expressions, not re-joins of the component
    // operators: only the main scan and t35's aggregate input may
    // read the corpus
    val scans = plan.linesIterator.count(l =>
      l.contains("FileScan") && l.contains("documents.parquet"))
    assert(scans <= 2,
      s"expected ≤ 2 documents scans (main + t35 agg), found $scans:\n$plan")
  }

  test("d23 candidate generation contains no cartesian product and no pair-dedup aggregate") {
    val (plan, _) = planOf("d23_dedup_minhash")
    assert(!plan.contains("CartesianProduct"), "LSH must be an equi-join, not all-pairs")
    assert(!plan.contains("BroadcastNestedLoopJoin"), "LSH must be an equi-join")
  }

  test("capped minhash candidate stage plans as an equi-join (lazy, no execution)") {
    // d27's edge generator — audited on the LAZY candidate form so
    // the plan check never runs the full capped pipeline
    val plan = graft.dedup.Dedup.cappedCandidatePairs(spark, sfDir, 500)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"capped candidate generation must be an equi-join:\n$plan")
  }

  test("connected-components round plans as equi-joins (lazy, no iteration)") {
    import spark.implicits._
    val edges = Seq((5L, 1L), (9L, 5L), (7L, 3L)).toDF("hi", "lo")
    val plan = graft.dedup.Dedup.ccRound(edges)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"CC round must never plan a cartesian:\n$plan")
  }

  test("d23b oracle-checked minhash is an equi-join with map-side partial min aggregation") {
    val (plan, _) = planOf("d23b_minhash_oracle")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      "LSH candidate generation must be an equi-join")
    assert(plan.linesIterator.count(l => l.contains("HashAggregate")) >= 2,
      "signature mins must partial-aggregate before the exchange")
  }

  test("d24b oracle-checked simhash is an equi-join on the chunk key") {
    val (plan, _) = planOf("d24b_simhash_oracle")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      "simhash candidate generation must be an equi-join")
  }

  test("d25b/d25c band-blocked ngram jaccard contain no cartesian product") {
    Seq("d25b_ngram_banded", "d25c_ngram_banded_oracle").foreach { name =>
      val (plan, _) = planOf(name)
      assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
        s"$name: band-blocked candidate generation must be an equi-join")
    }
  }

  test("d28 bucketed embedding near-dup is an equi-join on the band key, never all-pairs") {
    val (plan, _) = planOf("d28_embed_neardup_lsh")
    assert(!plan.contains("CartesianProduct"),
      "bucketed embedding dedup must be an equi-join, not all-pairs")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      "bucketed embedding dedup must be an equi-join")
    // VERDICT r3 #1: the production path must have NO single-task
    // stage — at corpus scale the old repartition(1) presentation
    // funnel pushed every verified pair through one task
    // a one-partition sort gathers inside its job, with no exchange to
    // show for it, so the OnePartition node is rejected as well
    assert(!plan.contains("SinglePartition") && !plan.contains("OnePartition"),
      s"d28 must not contain a single-partition exchange or gather:\n$plan")
  }

  test("dedup pair pipelines have no single-partition exchange (d25/d26/d28)") {
    // the repartition(1) presentation sorts were dropped in round 4;
    // this pins that none creeps back into any pair-producing entry,
    // neither as an exchange nor as a one-partition sort's gather
    Seq("d25_ngram_jaccard", "d26_embed_neardup", "d28_embed_neardup_lsh",
      "d23_dedup_minhash", "d23b_minhash_oracle", "d24_dedup_simhash",
      "d24b_simhash_oracle", "d25b_ngram_banded",
      "d25c_ngram_banded_oracle").foreach { name =>
      val (plan, _) = planOf(name)
      assert(!plan.contains("SinglePartition") && !plan.contains("OnePartition"),
        s"$name grew a single-partition exchange or gather:\n$plan")
    }
  }

  test("a27 broadcasts the query vectors; the corpus scan is never exchanged before scoring") {
    val (plan, _) = planOf("a27_ann_brute")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"queries side must broadcast:\n$plan")
  }

  test("a35 label-filters via hash join and never exchanges the corpus before the coarse scan") {
    // The production filtered-ANN claim in code: the label equi-key
    // must become a BroadcastHashJoin (not a post-scoring filter),
    // and the corpus side of the coarse scan must be scan→score with
    // no Exchange between the parquet read and the join (queries +
    // SQ8 stats broadcast; corpus never shuffled).
    val (plan, _) = planOf("a35_ann_filtered_rerank")
    assert(plan.contains("BroadcastHashJoin"),
      s"label equi-key must hash-join against the broadcast queries:\n$plan")
    assert(plan.contains("Scan parquet"), "expected a parquet corpus scan")
    // every Exchange must be: a broadcast (queries/stats/candidates),
    // a single-partition one (a presentation sort below the broadcast
    // threshold gathers inside its own job with none; a global
    // aggregate's final stage still has one), the final presentation
    // sort's rangepartitioning above the threshold, or a
    // hashpartitioning ON query_id — the post-partial-agg top-C
    // stream, which the bounded-buffer aggregator caps at <=C rows
    // per (query, map task) BEFORE it crosses the wire. Nothing may
    // shuffle the scored corpus stream itself (that key would be
    // vec_id/label).
    plan.split("\n").filter(_.contains("Exchange")).foreach { l =>
      assert(l.contains("Broadcast") || l.contains("rangepartitioning") ||
        l.contains("SinglePartition") ||
        (l.contains("hashpartitioning") &&
          (l.contains("query_id") || l.contains("value#") ||
            l.contains("i#"))),
        s"unexpected corpus/score shuffle: $l")
      // "value#" is groupByKey's serialized key column — the typed
      // top-C aggregator keyed on query_id; "i#" is the per-DIMENSION
      // stats rollup (64 rows, bounded by dimensionality not data)
      // feeding the 1-row SQ8 bounds broadcast
    }
  }

  test("d36 rank is bucketed two-level, never one corpus window per cell") {
    // The r9 perf_weak: a row_number window partitioned by `cell`
    // alone funnels the whole corpus through 16 reducers with a full
    // per-cell sort. The scale form ranks within (cell, dbkt) — dbkt
    // a fixed md5-uniform draw range, balanced at any skew — and adds
    // a broadcast prefix offset. Pin it: every corpus-side row_number
    // window must carry dbkt in its partition spec, and the offset
    // table must come back as a broadcast join, not a shuffle.
    Seq("d36_cluster_sample", "t50_epoch_shuffle",
        "t53_stratified_split", "t54_release_manifest").foreach { name =>
      val (plan, _) = planOf(name)
      val rnWindows = plan.split("\n").filter(l =>
        l.contains("Window") && l.contains("row_number"))
      assert(rnWindows.nonEmpty, s"$name: expected a row_number window:\n$plan")
      rnWindows.foreach { l =>
        assert(l.contains("dbkt"),
          s"$name: row_number window must partition by (key, dbkt), not the key alone: $l")
      }
      assert(plan.contains("BroadcastHashJoin"),
        s"$name: prefix offsets must broadcast back onto the ranked stream:\n$plan")
    }
  }

  test("a36 probes the persisted IVF index through partition pruning on the cell directories") {
    // the whole point of partitionBy(cell): the probe's literal cell
    // set must land in the scan's PartitionFilters (plan-time file
    // skipping — the invlist seek), not in a post-scan Filter
    for (entry <- Seq("a36_ann_persisted_ivf", "a37_ann_ivf_insert",
        "a43_persisted_mips", "a50_index_merge")) {
      val (_, fmt) = planOf(entry)
      val scanBlock = fmt.linesIterator
        .filter(l => l.contains("PartitionFilters")).toSeq
      assert(scanBlock.exists(_.contains("cell")),
        s"$entry: expected a cell partition filter on the index scan:\n$fmt")
    }
  }

  test("sweep: no query plan contains an unintended cartesian or nested-loop join") {
    // Every BNLJ below is a deliberate broadcast of a tiny side:
    //   a27  exact brute-force baseline — 8 query vectors broadcast
    //   a29  IVF cell routing via array_contains — 8 query rows
    //   a29b same routing shape with literal centroids (oracle twin)
    //   d26  exact all-pairs verification baseline (d28 = scale path)
    //   q28  date-spine span attach — 1-row min/max bounds
    //   t38  corpus doc-count N attach — 1-row aggregate broadcast
    //   t39  vocabulary-size V attach — 1-row aggregate broadcast
    //   a30  per-dim bound stats (1 row) + 8 query vectors broadcast
    //   a31  same stats/query broadcasts in its coarse (a30) stage
    //   s39  eval gram set — 1-row arrays_overlap anti join (the
    //        stateless stream-static shape, deliberately kept in batch)
    //   a32  PQ/ADC scan — the same 8-query-row broadcast as a27/a30
    //        (codes side scans, query LUTs broadcast)
    //   t44  total-token-count attach — 1-row aggregate broadcast
    //        (the q28/t38/t39 scalar-attach shape)
    //   t48  corpus-total attach onto the 5-row language counts —
    //        the same 1-row scalar-attach cross, feeding the 5-row
    //        threshold broadcast
    //   a35  a31's coarse-stage broadcasts, label-restricted: the
    //        1-row SQ8 stats cross + the 8-query broadcast (the
    //        label equi-key itself hash-joins; only the tiny sides
    //        are BNLJ)
    // Nothing may use CartesianProduct, and no NEW query may grow a
    // BNLJ without being justified here.
    //   a39  composes a27 + a29b unchanged (that is its contract —
    //        measure the shipped pipelines), so it inherits their
    //        justified 8-query-row broadcasts
    //   a40  is a27's scatter stage sharded — same justified
    //        8-query-row broadcast non-equi join
    val allowedBnlj = Set("a27_ann_brute", "a29_ann_ivf", "a29b_ann_ivf_oracle",
      "a39_recall_eval", "a40_ann_shard", "a41_ann_mips",
      // a42's cross joins are all 1-row broadcasts (max-norm scalar,
      // packed 96-centroid array) — the q30 watermark stance
      "a42_ann_ivf_mips",
      // d46 rides a42's build (same 1-row broadcasts)
      "d46_semantic_dedup",
      // a44 rides a42's build + a 1-row totals cross
      "a44_cell_stats",
      // a45 rides a42's build + a 1-row totals cross; its seed
      // frame (16 rows) joins by cell equi-key
      "a45_cell_split",
      // a46 rides the same build + totals cross; its survivor
      // centroids (88 rows) broadcast for the re-routing scan
      "a46_cell_merge",
      // a47's cross is the 1-row total-pairs broadcast onto the
      // 5-row curve; the scoring join itself is a cell equi-join
      "a47_nprobe_curve",
      "d26_embed_neardup",
      "q28_date_spine", "t38_keyphrase", "t39_bigram_lm", "a30_ann_sq",
      // q45/q46's cross joins are 1-row broadcasts (the quintile
      // boundary frame / the order-total scalar) — the q28 stance
      "q45_rfm", "q46_copurchase",
      // q45b crosses TWO 1-row boundary frames (exact instrument +
      // sampled product) onto the rollup — the q45/q68 stance; each
      // boundary frame itself assembles three 1-row aggregates
      "q45b_rfm_sketch",
      // q57's cross joins are the 1-row series-median and series-MAD
      // broadcasts attached to the |days|-sized ledger — the q28/q45
      // scalar stance (s57 presents through the same body)
      "q57_anomaly", "s57_stream_anomaly",
      // q59's cross joins are the 1-row frozen-decile-edge broadcast
      // onto the two window scans; its unpartitioned windows run
      // over the TEN bin rows — the q28/q45 scalar stance
      "q59_psi_drift", "s58_stream_psi",
      // q65's cross join is the 1-row horizon-date broadcast onto
      // the per-customer frame; its unpartitioned windows run over
      // the |durations|-row KM summary — the q28/q45 scalar stance
      "q65_survival",
      // q67's cross join is the 1-row grand-total broadcast onto
      // the |parts|-row ranked stream; the rangeCumsum's own offset
      // join is a <=32-row broadcast equi-join on partition id
      "q67_abc_pareto",
      // q70's cross join is the 1-row outstanding-total broadcast
      // onto the 6-bucket rollup — the q64/q67 scalar stance
      "q70_aging",
      // q71's cross join is the 1-row X̄/MR̄ stats broadcast onto the
      // |days|-sized ledger — the q57 bounded-series stance
      "q71_xmr_control",
      // t59's cross join is the 1-row corpus length-stats broadcast
      // onto the matched postings — the q28/q45 scalar stance
      "t59_bm25",
      // t61's cross join is the 1-row doc-count broadcast onto the
      // bounded vocab-pair rollup — the t59/q28 scalar stance
      "t61_cooccurrence",
      // t62's cross joins are the 1-row lo/hi span broadcast onto the
      // doc and first-occurrence rollups — the q28 scalar stance
      "t62_vocab_growth",
      // (t63's former 1-row sizes cross join became a bounded driver
      // read + literals in r14 — the ADVICE fail-stop rework)
      // q72's cross join is the 1-row MAE/MAPE summary broadcast
      // onto the |days|-row backtest — the q57/q71 bounded-series
      // stance
      "q72_forecast_backtest",
      // a49 rides a42's build (1-row packed-centroid broadcasts); its
      // candidate and scoring joins are cell/vec_id equi-joins
      "a49_knn_join",
      // a51 rides the SAME a49Scored body (a42's 1-row broadcasts);
      // the radius filter adds no join at all
      "a51_range_search",
      // q51's cross joins are the 1-row node-count broadcast attached
      // to the rank vector each iteration — the q45/q46 stance; the
      // rank/edge joins themselves are src-keyed equi-joins
      "q51_pagerank",
      // d52's cross joins are five 1-row metric scalars (the d51
      // assembly stance); the sketches build via TakeOrdered, the
      // exact leg is one gram-keyed equi-join
      "d52_corpus_overlap",
      // d54 assembles six cells through d52's pair frame — the same
      // five 1-row metric scalars per cell; set/sketch joins are
      // gram-keyed equi-joins over persisted per-corpus sets
      "d54_overlap_matrix",
      // d51's all-pairs truth leg is the declared-quadratic EVAL
      // (the a39/d26 stance: sampled at corpus scale), and its
      // metric assembly crosses three 1-row counts
      "d51_neardup_eval",
      // d53 sweeps banding configs over d51's truth leg (same
      // declared-quadratic eval, same sampled-at-scale parameter)
      // and assembles each point from the same three 1-row counts
      "d53_banding_curve",
      // t58 rides t39's scoring (the same 1-row vocab broadcast)
      "t58_ccnet_buckets",
      "a31_ann_rerank", "s39_stream_decontaminate", "a32_ann_pq", "t44_vocab",
      "t48_mixture_resample", "a35_ann_filtered_rerank")
    // Entries whose DataFrame CONSTRUCTION executes real work (q30/q31
    // write full exports, d27/d27b iterate connected components to a
    // fixpoint) are skipped: a plan sweep must inspect plans, not
    // re-run the correctness suite. Their join shapes are audited
    // piecewise instead — the lazy capped-candidate and CC-round
    // tests above and the dedicated q30/q31 plan test below.
    // (q33 writes its bucketed tables at construction — its zero-
    // shuffle join is pinned by the dedicated test above; d33 runs
    // the bitmap-build job at construction — its no-join probe path
    // is pinned by the dedicated test below)
    // (q34/q35/s42 likewise write their clustered layout / snapshots /
    // pre-cutoff gold at construction — q34's skip behavior is pinned
    // by ExportSpec's bucket-rectangle audit, q35/s42's join shapes
    // are plain keyed joins pinned by their oracles and specs)
    // (d35 writes its fingerprint index snapshot at construction —
    // its join shapes are one keyed left join + one batch window,
    // pinned by its oracle and the DedupSpec recompute property)
    val eagerEntries = Set("q30_incremental_export", "q31_export_roundtrip",
      // q42 writes its hour-partitioned JSONL export at construction;
      // same audited sink machinery as q31
      "q42_jsonl_roundtrip",
      "d27_dedup_components", "d27b_components_oracle", "d32_embed_dedup",
      "q33_bucketed_join", "d33_bloom_decontaminate",
      "q34_zorder", "q35_snapshot_diff", "s42_apply_changes",
      "d35_incremental_dedup",
      // d37/d38 persist their band indexes at construction; their
      // joins are the d23b/d28 band equi-joins + shared verifies,
      // pinned by their oracles and the DedupSpec restricted-
      // recompute properties
      "d37_incremental_neardup", "d38_incremental_embed_neardup",
      // d39 persists its label index and iterates CC at construction;
      // the per-round plan is the audited d27 machinery
      "d39_incremental_components",
      // d40 persists d35's fingerprint index at construction; its
      // stages are the already-pinned s43 anti join + batch window +
      // scan-stage quality gate
      "d40_daily_admit",
      // q53 iterates the audited d27 CC machinery to a fixpoint at
      // construction; its own joins are two component-keyed
      // aggregates over the shared q46 pair body
      "q53_communities",
      // d43 is the shared d35Classified (persisted index at
      // construction) + the scan-stage quality leg
      "d43_admission_audit",
      // s46 persists its gen-0 card partials at construction; the
      // per-merge plan is t56's audited aggregate + fp equi-join
      "s46_stream_card",
      // s43 persists d35's fingerprint index at construction; its one
      // join is the stream-static left anti probe, pinned by the
      // oracle and the StreamingSpec stream==batch property
      "s43_stream_index_dedup",
      // m36 iterates connected components to a fixpoint at
      // construction (the d27/d32 machinery, whose per-round plan is
      // audited by the lazy ccRound test)
      "m36_media_dedup_closure",
      // a43 writes the partitioned MIPS index at construction; its
      // pruned probe is pinned by the partition-filter test above
      "a43_persisted_mips",
      // a36 writes its partitioned IVF index at construction; its
      // probe-side pruning is pinned by the dedicated test below
      "a36_ann_persisted_ivf",
      // a37 writes the day-0 index AND appends the day-1 batch at
      // construction; its probe is the same shared probePersistedIvf
      // path the a36 pruning test pins
      "a37_ann_ivf_insert",
      // a50 builds two shard indexes and file-merges them at
      // construction; its probe is the same shared probePersistedIvf
      // path, pinned by the a36 pruning test (a50 included there)
      "a50_index_merge",
      // d41 persists the benchmark band index at construction; its
      // probe is a broadcast band equi-join feeding the shared
      // verify, pinned by its oracle and the DedupSpec cross-split
      // recompute property
      "d41_fuzzy_decontaminate",
      // s44 persists d37's band index at construction; its probe→
      // verify→anti chain is the audited d37 machinery, pinned by
      // the oracle and the StreamingSpec micro-batch property
      "s44_stream_neardup_admit",
      // s48 persists the history quantizer artifact (cells index,
      // centroids, max-norm scalar) at construction; its probe→
      // verify→anti chain is the d46 machinery, pinned by the
      // oracle and the StreamingSpec micro-batch property
      "s48_stream_semantic_admit",
      // d47 persists the postings artifact and its compacted
      // successor at construction; probe/mask shapes are d35's
      // bucketed join + a delete-sized broadcast anti join, pinned
      // by the rebuild oracle and the DedupSpec flip-set law
      "d47_index_forget",
      // s49 folds bounded ≤k-counter sketch generations through
      // parquet artifacts at construction (each collect is the
      // k-bounded sketch state itself); its windows run over
      // state-sized tables, pinned by the oracle and the
      // StreamingSpec fold-equals-batch property
      "s49_stream_heavy_hitters",
      // s50 folds witness-state generations through parquet
      // artifacts at construction; per-batch plans are three
      // user-keyed equi-joins/aggs, pinned by the q44 oracle and
      // the StreamingSpec fold-equals-batch property
      "s50_stream_funnel",
      // s51 folds SCD2 dimension generations through parquet
      // artifacts at construction; per-batch plans are one
      // user-keyed window + open-slice joins, pinned by the q32
      // oracle and the StreamingSpec fold-equals-batch property
      "s51_stream_scd2",
      // s52 folds activity-pair-set generations through parquet
      // artifacts at construction; per-batch plans are one
      // user-keyed union-distinct, pinned by the q48 oracle and
      // the StreamingSpec shuffled-redelivery fold property
      "s52_stream_retention",
      // s53 folds HLL register + exact-anchor generations through
      // parquet artifacts at construction; per-batch plans are a
      // (day,j)-keyed max-merge and a user-keyed union-distinct,
      // pinned by the q49 oracle and the StreamingSpec
      // shuffled-redelivery fold property
      "s53_stream_hll",
      // s54 folds transition-count + last-event generations through
      // parquet artifacts at construction; per-batch plans are one
      // user-keyed window over (seed ∪ batch) + a |types|²-keyed
      // sum-merge, pinned by the q50 oracle and the StreamingSpec
      // fold-equals-batch property
      "s54_stream_transitions",
      // s55 folds profile-summary + distinct-value generations
      // through parquet artifacts at construction; per-batch plans
      // are one col_name-keyed merge of scan-stage partials + a
      // union-distinct, pinned by the q52 oracle and the
      // StreamingSpec fold-equals-batch property
      "s55_stream_profile",
      // s56 folds credit-ledger + touch-buffer generations through
      // parquet artifacts at construction; per-batch plans are one
      // user-keyed lookback credit join + a |channels|-row sum-
      // merge, pinned by the q55 oracle and the StreamingSpec
      // fold-equals-batch property
      "s56_stream_attribution",
      // s57 folds daily-ledger generations through parquet artifacts
      // at construction; per-batch plans are one map-side-combined
      // rollup + a day-keyed sum-merge, pinned by the q57 oracle and
      // the StreamingSpec shuffled-slicing fold property
      "s57_stream_anomaly",
      // s58 persists its frozen-edge/reference artifact and folds
      // bin-ledger generations through parquet at construction;
      // per-batch plans are one broadcast bin-count + a 10-row
      // sum-merge, pinned by the q59 oracle and the StreamingSpec
      // shuffled-slicing fold property
      "s58_stream_psi",
      // s59 folds digit-ledger generations through parquet at
      // construction; per-batch plans are one map-side-combined
      // digit count + a 9-row sum-merge, pinned by the q63 oracle
      // and the StreamingSpec shuffled-slicing fold property
      "s59_stream_benford",
      // s60 folds sample + exact-anchor generations through parquet
      // at construction; per-batch plans are one (grp, draw)-keyed
      // rank window over (≤ k-per-group state ∪ batch) + a
      // union-distinct, pinned by the q68 oracle and QuantileSpec's
      // merge-law/idempotency/fold-equals-batch properties
      "s60_stream_quantiles",
      // q74 writes its year-partitioned export at construction; its
      // read-back pruning is pinned by the dedicated PartitionFilters
      // test below (the q30/q31 eager-export stance)
      "q74_pruned_export",
      // q75 fragments and then compacts its layout at construction
      // (both writes fail-stop on file-count deviation inside
      // q75Compact); the layout contract is pinned by the dedicated
      // bin-pack test below on the spec's own run
      "q75_compaction",
      // q76 writes its clustered layout + stats sidecar at
      // construction and reads an explicit kept-file list; the
      // no-skipped-row law and the numFiles==kept pin live in
      // ExportSpec's dedicated test
      "q76_data_skipping",
      // q79 writes + appends its layout and maintains the manifest at
      // construction; manifest==rebuild and the only-new-files cost
      // pin live in ExportSpec's dedicated test
      "q79_incremental_stats",
      // q80 appends its two schema generations at construction; the
      // union-schema / null-fill / no-rewrite contract is pinned by
      // ExportSpec's dedicated test
      "q80_schema_evolution",
      // s64 folds the bounded clock sample through parquet
      // generations at construction; per-batch plans are one
      // bounded-state rank over (k-row state ∪ batch clocks), pinned
      // by the t60 oracle and the residue-sliced fold
      "s64_stream_weighted_sample",
      // q77 persists its base snapshot + three change logs at
      // construction (the q35/s42 eager-artifact stance); the AS OF
      // read is one union + one latest-per-key window, pinned by the
      // direct-snapshot oracle and the InvariantSpec all-version
      // closure
      "q77_time_travel",
      // q92 persists a 6-version chain + two checkpoints at
      // construction (the q77 stance, deeper); the AS OF read is one
      // bounded union + one latest-per-key window, pinned by the
      // direct-snapshot oracle and the InvariantSpec checkpoint
      // closure + scan-set test
      "q92_checkpointed_travel",
      // q93 persists the same chain + checkpoints at construction;
      // the feed is one window-net keyed pass + a semi-restricted
      // checkpoint-routed pre-image join, pinned by the q35-shape
      // oracle and the InvariantSpec all-pairs equivalence
      "q93_change_feed",
      // q78 builds its own chain, checkpoints, and deletes in place
      // at construction; the surviving-version identity and fail-fast
      // horizon are pinned by the InvariantSpec vacuum test
      "q78_retention",
      // q81 writes its chain + the compensating restore log at
      // construction; the diff join is one user-keyed equi-join of
      // two MV-sized snapshots, pinned by the target-version oracle
      // and the InvariantSpec restore test
      "q81_restore",
      // q82 writes its layout + bloom sidecar at construction and
      // reads an explicit kept-file list; the no-false-negative and
      // numFiles==kept pins live in ExportSpec's dedicated test
      "q82_bloom_skipping",
      // q83 writes its physical layout + both mapping manifests at
      // construction; the metadata-only rename and pushdown-survival
      // pins live in ExportSpec's dedicated test
      "q83_column_mapping",
      // q84 writes both partition-spec generations at construction;
      // per-spec pruning and the boundary no-lost-row law are pinned
      // by ExportSpec's dedicated test
      "q84_partition_evolution",
      // s69 appends its three schema generations at construction; the
      // no-rewrite / legacy-bucket contract is pinned by the
      // StreamingSpec mid-stream evolution test
      "s69_stream_schema_evolution",
      // s70 appends three batches and maintains the bloom sidecar at
      // construction; incremental==rebuild and pruning engagement are
      // pinned by the StreamingSpec live-bloom test
      "s70_stream_skipping",
      // q87 writes its source table, clone manifests, and divergent
      // append at construction; zero-copy, divergence, and source
      // isolation are pinned by ExportSpec's dedicated test
      "q87_shallow_clone",
      // s71 folds its two day ledgers + 1-row watermark through
      // parquet generations at construction; per-trigger plans are a
      // broadcast 1-row watermark cross (the q28 scalar stance) +
      // day-keyed sum-merges, pinned by the arrival-schedule oracle
      // and the StreamingSpec direct-classification replay
      "s71_stream_late_data",
      // s65 folds the s57 day ledger + a batch-id txn log through
      // parquet generations at construction (with a deliberate
      // duplicate delivery); per-batch plans are the s57 sum-merge
      // plus an O(|batches|) ledger lookup, pinned by the full-stream
      // oracle and the StreamingSpec replay-identity test
      "s65_exactly_once",
      // s66 folds the customer RFM ledger through parquet generations
      // at construction; per-batch plans are one customer-keyed exact
      // merge, presentation the q45b boundary pass (two 1-row
      // broadcasts), pinned by the cents oracle and the StreamingSpec
      // residue-fold test
      "s66_stream_rfm",
      // s67 folds four overlap artifacts (two gram sets, two k-row
      // sketches) through parquet generations at construction;
      // presentation is d52's five 1-row metric scalars, pinned by
      // the d52 oracle and the StreamingSpec merge-law test
      "s67_stream_overlap",
      // s68 appends three micro-batches into its day-partitioned sink
      // and compacts at construction; the growth curve, closed-form
      // file target, and layout invariance are pinned by the
      // StreamingSpec sink-compaction test
      "s68_stream_compaction",
      // q88 writes its MV and compressed A-state artifacts at
      // construction (the q38 stance, two-sided); its legs are
      // broadcast-dim equi-joins + map-side merges, pinned by the
      // full-join oracle and the ExportSpec three-leg test
      "q88_join_mv",
      // q89 runs the whole commit protocol at construction (chain
      // writes + bounded log reads); the ledger is a 4-row driver
      // frame, pinned by the protocol oracle and the InvariantSpec
      // independent replay
      "q89_optimistic_commit",
      // a52 builds its index, copies cold cells, and rewrites hot
      // cells at construction; the probe is the shared
      // probePersistedIvf path, pinned by a38's oracle and the
      // AnnSpec byte-identity test
      "a52_cell_compaction",
      // a53 builds the 3-commit versioned layout + manifests at
      // construction; its probes are the shared probeIvfIndex path
      // over manifest-scoped file lists, pinned by the two-version
      // oracle and the AnnSpec isolation test
      "a53_index_time_travel",
      // q94 builds the a53 layout, plants + GCs the orphan at
      // construction; its probe is the shared manifest-scoped path,
      // pinned by a38's oracle and the AnnSpec byte-equality cycle
      "q94_orphan_gc",
      // s72 folds the three join-MV artifacts through parquet
      // generations at construction; per-batch legs are broadcast-dim
      // equi-joins through q88's shared bodies, pinned by the q88
      // oracle and the StreamingSpec late-dim-pickup test
      "s72_stream_join_mv",
      // s73 folds the FIFO backlogs + pairs ledger through parquet
      // generations at construction; per-batch plans are q90's banded
      // intersection over batch × backlog, pinned by the q90 oracle
      // and the StreamingSpec open-set-law test
      "s73_stream_fifo",
      // s74 folds the snapshot MV + versioned ledger through parquet
      // generations at construction; per-batch plans are the s42
      // keyed merge + an O(batch) append, pinned by the q77 oracle
      // and the StreamingSpec per-version triple closure
      "s74_stream_asof",
      // s75 runs the same s74 fold at construction; the feed is one
      // ledger-window keyed pass + the shared cdfFromNet assembly,
      // pinned by the q35-shape oracle and the StreamingSpec
      // all-pairs equivalence
      "s75_stream_cdf",
      // s63 folds q69's session table through parquet generations at
      // construction; per-batch plans are one user-keyed window over
      // (1 seed row per user ∪ batch) + user-keyed open-slice joins,
      // pinned by the q69 oracle and the StreamingSpec MemoryStream
      // chain with the planted boundary-extension case
      "s63_stream_sessions",
      // s62 folds the same q57 daily ledger through parquet
      // generations at construction (the s57/s61 fold); presentation
      // is q72's shifted-date self-join + 1-row summary broadcast
      "s62_stream_forecast",
      // s61 folds the q57 daily ledger through parquet generations at
      // construction; per-batch plans are one map-side-combined
      // rollup + a day-keyed sum-merge, presentation the q71 1-row
      // stats broadcast, pinned by the q71 oracle and the
      // InvariantSpec fold-equals-batch assertion
      "s61_stream_xmr",
      // t51 runs its K merge rounds at construction (each round's
      // argmax is one bounded 1-row driver action — the learned
      // parameter, the q30/a36 stance); per-round plans are a
      // map-side-combined pair count + a scan-stage fold, pinned by
      // the oracle and the TextOpsSpec independent-trainer equality
      "t51_bpe_merges",
      // d42 iterates d32's connected components at construction (the
      // audited d27 machinery); its own additions are one keyed
      // quality join + a cluster-sized window, pinned by the oracle
      "d42_quality_keep",
      // a38 writes gen-1, tombstones, and the compacted gen-2 at
      // construction; its probe is the shared probePersistedIvf
      // path the a36 pruning test pins
      "a38_ann_delete",
      // t52 runs t51's shared training loop at construction; its own
      // addition is one scan-stage stats projection over the final
      // fold, pinned by the oracle and the count-law spec
      "t52_bpe_apply",
      // t57 runs the batched training loop at construction (one
      // ≤ scanM+1-row bounded driver action per pass instead of
      // t51's per-round 1-row argmax); per-pass plans are the same
      // map-side-combined pair count + a scan-stage CHAIN of folds,
      // pinned by t51's sequential oracle byte-exactly
      "t57_bpe_batched",
      // q38 writes its MV partial-aggregate state at construction;
      // its merge is one keyed re-aggregation of state ∪ delta,
      // pinned by the full-recompute oracle and the ExportSpec
      // equality
      "q38_mv_maintenance",
      // s47 persists its gen-0 audit-counter partial at construction
      "s47_stream_expectations",
      // s45 writes the same MV state at construction and folds two
      // slices through q38's shared merge, pinned by the q38Sql
      // oracle and the StreamingSpec generation-chain property
      "s45_stream_mv_refresh",
      // r14 second wave: s76 stages+audits three batches and s77
      // folds vector generations at construction (their join shapes
      // are the audited q96/q95 bodies, pinned by the shared oracles
      // and the StreamingSpec stream==batch / per-version closures);
      // a54 runs two deterministic index builds (the audited a42
      // machinery; its 1-row/96-row crosses are the a42 stance);
      // q100 writes the partitioned table twice; q101 writes the
      // clustered layout + its index table (face joins are plain
      // keyed equi/semi joins pinned by their oracles and
      // ExportSpec); m41 runs the decode-identity fail-stop
      // (exceptAll over the mapPartitions decode) at construction
      "s76_stream_wap", "s77_stream_mor", "a54_retrain_decision",
      "q100_replace_where", "q101_record_index", "m41_metadata_scrub",
      // s78 folds clustered append commits + index generations at
      // construction; its lookup is q101's audited probe shape
      "s78_stream_record_index",
      // q102 writes three clustered layouts + two-column sidecars
      // and evaluates the 3×3 prune matrix at construction; its
      // face is a 9-row driver-built ledger
      "q102_layout_matrix",
      // a55 runs the a27 truth leg (its justified BNLJ) + three PQ
      // pipelines + distortion scans at construction; face is a
      // 3-row driver-built curve
      "a55_pq_tradeoff",
      // s79 folds the profile-MV generations at construction; its
      // face is q98's audited rollup + broadcast-dim join
      "s79_stream_pseudonymize")
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot(q => eagerEntries(q._1)).foreach { case (name, fn) =>
      val df = fn(spark, sfDir)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"$name grew a cartesian product")
      if (!allowedBnlj(name))
        assert(!plan.contains("BroadcastNestedLoopJoin"),
          s"$name grew a nested-loop join — broadcast-justify it or fix the plan")
      // no DECIMAL in driver-visible output: the driver's hash
      // canonicalizes decimals asymmetrically (DuckDB→float64, Spark
      // parquet→object Decimal — VERDICT r9), so a decimal-typed
      // output column can NEVER match. Exact decimal arithmetic stays
      // internal; emit string/double/long (q13/q33/q34 stance).
      // ONE recursive guard (SchemaGuards — nested decimals in
      // array/map/struct included) shared with Verify, which enforces
      // the same invariant for the eager entries this sweep skips.
      val decCols = SchemaGuards.decimalColumns(df.schema)
      assert(decCols.isEmpty,
        s"$name emits DECIMAL column(s) ${decCols.mkString(",")} — driver hash cannot match; cast to string/double/long")
    }
  }

  test("q30/q31 export plans: watermark BNLJ is the only nested loop, no cartesian") {
    // dedicated coverage for the two entries the sweep skips as
    // eager — constructed ONCE here (one cheap sf0.001 export write
    // each), then plan-audited: q30's only BNLJ must be the 1-row
    // watermark broadcast; q31's read-back plan must be join-free
    val (plan30, _) = planOf("q30_incremental_export")
    assert(!plan30.contains("CartesianProduct"))
    assert(plan30.linesIterator.count(_.contains("BroadcastNestedLoopJoin")) <= 1,
      s"q30 may only nested-loop the 1-row watermark:\n$plan30")
    val (plan31, _) = planOf("q31_export_roundtrip")
    assert(!plan31.contains("CartesianProduct") &&
      !plan31.contains("BroadcastNestedLoopJoin"),
      s"q31 read-back must be join-free:\n$plan31")
  }

  test("date-partitioned layout: a date predicate becomes a PartitionFilter and skips files") {
    // the 100 TB linchpin SURVEY §5 assumes: lakehouse tables are
    // date-partitioned (the reference partitions everything by
    // block_date) and a date predicate must prune PARTITIONS at
    // planning time — not filter rows after a full scan. Pin both
    // halves: the predicate lands in PartitionFilters (not just
    // PushedFilters), and the executed scan reads strictly fewer
    // files than the table holds.
    import org.apache.spark.sql.functions.{col, to_date}
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val dir = java.nio.file.Files.createTempDirectory("graftpart").toString
    Tables.events(spark, sfDir)
      .withColumn("event_date", to_date(col("ts")))
      .write.mode("overwrite").partitionBy("event_date").parquet(dir)
    val back = spark.read.parquet(dir)
    val pick = back.selectExpr("max(event_date)").head.getDate(0)
    val q = back.filter(col("event_date") === pick).groupBy("event_type").count()
    val fmt = q.queryExecution.explainString(FormattedMode)
    val partLine = fmt.linesIterator.find(_.contains("PartitionFilters"))
    assert(partLine.exists(_.contains("event_date")),
      s"date predicate must be a partition filter, got:\n$fmt")
    q.collect()
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      // materialized AQE stages hold their subtree in `plan`, not
      // `children` — a bare children-walk stops at the stage boundary
      case q: QueryStageExec        => scans(q.plan)
      case s: FileSourceScanExec    => Seq(s)
      case other                    => other.children.flatMap(scans)
    }
    val scan = scans(q.queryExecution.executedPlan).head
    val filesRead = scan.metrics("numFiles").value
    val totalFiles = {
      val it = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      try it.filter(_.toString.endsWith(".parquet")).count()
      finally it.close()
    }
    val totalPartitions = back.selectExpr("count(distinct event_date)").head.getLong(0)
    assert(totalPartitions > 1, "fixture must span multiple dates to prove pruning")
    assert(filesRead >= 1 && filesRead < totalFiles,
      s"scan must skip unselected partitions: read $filesRead of $totalFiles files")
  }

  test("q74's year read-back prunes partitions at plan time (the export's own layout)") {
    // q74's contract is the layout, not just the answer: the year
    // filter on the read-back must land in PartitionFilters and the
    // executed scan must skip the other years' files — on the very
    // directory the registered entry writes
    val out = graft.sources.Export.q74Write(spark, sfDir)
    val back = spark.read.parquet(out)
    val q = graft.sources.Export.q74YearRollup(back)
    val fmt = q.queryExecution.explainString(FormattedMode)
    val partLine = fmt.linesIterator.find(_.contains("PartitionFilters"))
    assert(partLine.exists(_.contains("o_year")),
      s"year predicate must be a partition filter, got:\n$fmt")
    q.collect()
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case s: QueryStageExec        => scans(s.plan)
      case s: FileSourceScanExec    => Seq(s)
      case other                    => other.children.flatMap(scans)
    }
    val filesRead = scans(q.queryExecution.executedPlan).head
      .metrics("numFiles").value
    val totalFiles = {
      val it = java.nio.file.Files.walk(java.nio.file.Paths.get(out))
      try it.filter(_.toString.endsWith(".parquet")).count()
      finally it.close()
    }
    assert(back.selectExpr("count(distinct o_year)").head.getLong(0) > 1)
    assert(filesRead >= 1 && filesRead < totalFiles,
      s"q74 scan must skip other years: read $filesRead of $totalFiles files")
  }

  test("q75 compaction: pathological input, exact closed-form output count, strict shrink") {
    // run the registered machinery itself and re-assert the layout
    // contract from outside (q75Compact's requires are the fail-stop;
    // this pins the numbers on a spec-visible run)
    val E = graft.sources.Export
    val r = E.q75Compact(spark, sfDir)
    // (a) the input really was the small-files pathology: every year
    //     directory held many fragments
    val years = spark.read.parquet(r.fragDir)
      .selectExpr("count(distinct o_year)").head.getLong(0)
    assert(years > 1, "fixture must span multiple years")
    assert(r.fragFiles >= years * 8,
      s"fragmented layout too healthy: ${r.fragFiles} files over $years years")
    // (b) compacted count is exactly the closed-form target and a
    //     strict shrink (q75Compact already required it; re-pin here)
    assert(r.outFiles == r.targetFiles && r.outFiles < r.fragFiles,
      s"expected ${r.targetFiles}, got ${r.outFiles} (frag ${r.fragFiles})")
    // (c) the rewrite is a BIN-PACK, not coalesce-to-one: at the
    //     sf0.01 gate corpus the 64 KiB target splits year partitions
    //     into multiple files (sf0.001's years each fit one file, so
    //     prove the splitting claim where the data supports it)
    val r01 = E.q75Compact(spark, "/root/testdata/sf0.01")
    val years01 = spark.read.parquet(r01.outDir)
      .selectExpr("count(distinct o_year)").head.getLong(0)
    assert(r01.outFiles > years01,
      s"sf0.01 must bin-pack into multiple files per year: " +
        s"${r01.outFiles} files over $years01 years")
    // (d) compaction is invisible to readers: identical rollup
    val a = E.q75YearRollup(spark.read.parquet(r.outDir)).collect().toSeq
    val b = E.q75YearRollup(
      spark.read.parquet(r.fragDir)).collect().toSeq
    assert(a == b, "compacted and fragmented rollups must agree")
  }

  test("native expressions appear in the optimized plans (not HOF fallbacks)") {
    val (plan26, _) = planOf("d26_embed_neardup")
    assert(plan26.contains("float_dot") || plan26.contains("FloatDot"),
      "d26 must use the native dot product")
    val (plan24, _) = planOf("d24_dedup_simhash")
    assert(plan24.contains("simhash64") || plan24.contains("SimHash64"),
      "d24 must use the native simhash")
  }
}
