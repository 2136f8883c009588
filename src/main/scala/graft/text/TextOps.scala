package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Entry, Par, Tables}

/** Text-analysis operators for the LLM training-data pipeline:
  * language ID, quality scoring, token counting, fingerprinting.
  *
  * All four are pure per-row projections over `documents` — they
  * parallelize embarrassingly (no shuffle except the final
  * presentation ORDER BY, which at 100 TB would be dropped or
  * replaced by a write partitioned on the derived column).
  * Everything is built from codegen'd `functions._` — no UDFs —
  * and each has an exactly-equivalent DuckDB oracle.
  */
object TextOps {

  private def tokens(c: Column): Column = split(c, " ")

  /** Adjacent-token pairs as structs of (w1, gram) — the ONE
    * definition of bigram formation (sliding zip of the token array
    * with its own tail), shared by t35/t38/t39 so separator, bounds,
    * and tokenization can never drift between the repetition gate,
    * the keyphrase extractor, and the LM scorer. */
  private[graft] def bigramPairs(toks: Column): Column =
    zip_with(
      slice(toks, lit(1), size(toks) - 1),
      slice(toks, lit(2), size(toks) - 1),
      (x, y) => struct(x.as("w1"), concat(x, lit(" "), y).as("gram")))

  /** Just the bigram strings of [[bigramPairs]]. */
  private[graft] def bigrams(toks: Column): Column =
    transform(bigramPairs(toks), p => p.getField("gram"))

  /** THE canonical exact-dedup key: md5 over whitespace-normalized,
    * lowercased text. Single definition shared by t32 and d22 so
    * fingerprints always match the keys dedup actually groups on. */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(lower(trim(text)), "\\s+", " ").cast("binary"))

  /** Per-language stopword lists for the n-gram/stopword heuristic.
    * Deterministic and engine-portable: both Spark and DuckDB count
    * list-membership hits over whitespace tokens. */
  private val stop: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "is", "to"),
    "es" -> Seq("el", "la", "de", "que", "los", "una"),
    "fr" -> Seq("le", "la", "et", "les", "des", "une"),
    "de" -> Seq("der", "die", "und", "das", "ein", "nicht"))

  private def hits(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isin(words.map(lit): _*)))

  /** t29: language identification via stopword-hit argmax.
    * Ties break in fixed order en>es>fr>de; zero hits → 'und'. */
  def t29LangId(s: SparkSession, dir: String): DataFrame = {
    val toks = tokens(col("text"))
    val Seq(en, es, fr, de) =
      Seq("en", "es", "fr", "de").map(l => hits(toks, stop(l)))
    Tables.documents(s, dir)
      .select(
        col("doc_id"),
        en.as("hits_en"), es.as("hits_es"), fr.as("hits_fr"), de.as("hits_de"),
        when(en === 0 && es === 0 && fr === 0 && de === 0, "und")
          .when(en >= es && en >= fr && en >= de, "en")
          .when(es >= fr && es >= de, "es")
          .when(fr >= de, "fr")
          .otherwise("de").as("pred_lang"))
      .orderBy("doc_id")
  }

  private def stopList(l: String): String =
    stop(l).map(w => s"'$w'").mkString("[", ",", "]")

  val t29Sql: String =
    s"""SELECT doc_id,
       | CAST(hits_en AS INT) AS hits_en, CAST(hits_es AS INT) AS hits_es,
       | CAST(hits_fr AS INT) AS hits_fr, CAST(hits_de AS INT) AS hits_de,
       | CASE WHEN hits_en=0 AND hits_es=0 AND hits_fr=0 AND hits_de=0 THEN 'und'
       |      WHEN hits_en>=hits_es AND hits_en>=hits_fr AND hits_en>=hits_de THEN 'en'
       |      WHEN hits_es>=hits_fr AND hits_es>=hits_de THEN 'es'
       |      WHEN hits_fr>=hits_de THEN 'fr'
       |      ELSE 'de' END AS pred_lang
       |FROM (
       | SELECT doc_id,
       |  len(list_filter(string_split(text,' '), t -> list_contains(${stopList("en")}, t))) AS hits_en,
       |  len(list_filter(string_split(text,' '), t -> list_contains(${stopList("es")}, t))) AS hits_es,
       |  len(list_filter(string_split(text,' '), t -> list_contains(${stopList("fr")}, t))) AS hits_fr,
       |  len(list_filter(string_split(text,' '), t -> list_contains(${stopList("de")}, t))) AS hits_de
       | FROM documents)
       |ORDER BY doc_id""".stripMargin

  private def distinctRatio(toks: Column): Column =
    size(array_distinct(toks)).cast("double") / size(toks)

  private def stopRatioEn(toks: Column): Column =
    hits(toks, stop("en")).cast("double") / size(toks)

  /** t30's composite quality score in basis points — single
    * definition shared by t30 and t40's gate (the [[fingerprint]]
    * precedent), so the pipeline can never drift from the component
    * operator. Basis points via floor(x*1e4 + 0.5): ROUND(x,4) ties
    * at the 5th decimal resolve differently across engines (Spark
    * BigDecimal HALF_UP on the binary expansion vs DuckDB), but
    * floor/mul/add are IEEE-deterministic on identical doubles. */
  private[graft] def qualityScoreBp(toks: Column): Column =
    floor((least(size(toks).cast("double") / 100.0, lit(1.0)) * 0.5
        + distinctRatio(toks) * 0.3
        + (lit(1.0) - stopRatioEn(toks)) * 0.2) * 10000.0 + 0.5)
      .cast("int")

  /** t30: quality scoring — length, word count, distinct-token ratio,
    * stopword ratio, mean word length, and a composite score. */
  def t30Quality(s: SparkSession, dir: String): DataFrame = {
    val toks = tokens(col("text"))
    val nWords = size(toks)
    val meanWordLen =
      (length(col("text")) - (nWords - 1)).cast("double") / nWords
    Tables.documents(s, dir)
      .select(
        col("doc_id"),
        length(col("text")).as("text_len"),
        nWords.as("n_words"),
        round(distinctRatio(toks), 4).as("distinct_ratio"),
        round(stopRatioEn(toks), 4).as("stop_ratio"),
        round(meanWordLen, 4).as("mean_word_len"),
        qualityScoreBp(toks).as("quality_score_bp"))
      .orderBy("doc_id")
  }

  val t30Sql: String =
    s"""SELECT doc_id,
       | CAST(text_len AS INT) AS text_len, CAST(n_words AS INT) AS n_words,
       | ROUND(distinct_ratio,4) AS distinct_ratio,
       | ROUND(stop_ratio,4) AS stop_ratio,
       | ROUND(mean_word_len,4) AS mean_word_len,
       | CAST(floor((least(n_words/100.0, 1.0)*0.5 + distinct_ratio*0.3 + (1.0-stop_ratio)*0.2) * 10000.0 + 0.5) AS INT) AS quality_score_bp
       |FROM (
       | SELECT doc_id, length(text) AS text_len,
       |  len(string_split(text,' ')) AS n_words,
       |  CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE)/len(string_split(text,' ')) AS distinct_ratio,
       |  CAST(len(list_filter(string_split(text,' '), t -> list_contains(${stopList("en")}, t))) AS DOUBLE)
       |    / len(string_split(text,' ')) AS stop_ratio,
       |  CAST(length(text) - (len(string_split(text,' ')) - 1) AS DOUBLE)
       |    / len(string_split(text,' ')) AS mean_word_len
       | FROM documents)
       |ORDER BY doc_id""".stripMargin

  /** The t30 quality-score oracle body shared with s41's
    * gate-at-ingest oracle (the piiBodySql stance): per-doc passthrough
    * columns plus quality_score_bp, arithmetic shape identical to
    * t30Sql so the two can never drift. */
  private[graft] val qualityBodySql: String =
    s"""SELECT doc_id, lang, source, n_chars,
       | CAST(floor((least(n_words/100.0, 1.0)*0.5 + distinct_ratio*0.3 + (1.0-stop_ratio)*0.2) * 10000.0 + 0.5) AS INT) AS quality_score_bp
       |FROM (
       | SELECT doc_id, lang, source, n_chars,
       |  len(string_split(text,' ')) AS n_words,
       |  CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE)/len(string_split(text,' ')) AS distinct_ratio,
       |  CAST(len(list_filter(string_split(text,' '), t -> list_contains(${stopList("en")}, t))) AS DOUBLE)
       |    / len(string_split(text,' ')) AS stop_ratio
       | FROM documents)""".stripMargin

  /** t31: token counting — whitespace tokens, regex word-ish tokens
    * (a BPE-ish `[a-z0-9]+` chunking), and a chars/4 subword estimate
    * (the standard ~4-chars-per-token heuristic). */
  def t31Tokens(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(
        col("doc_id"),
        size(tokens(col("text"))).as("ws_tokens"),
        regexp_count(col("text"), lit("[a-z0-9]+")).as("regex_tokens"),
        ceil(length(col("text")).cast("double") / 4.0).cast("long").as("est_subwords"))
      .orderBy("doc_id")

  val t31Sql: String =
    """SELECT doc_id,
      | CAST(len(string_split(text,' ')) AS INT) AS ws_tokens,
      | CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS INT) AS regex_tokens,
      | CAST(ceil(length(text)/4.0) AS BIGINT) AS est_subwords
      |FROM documents ORDER BY doc_id""".stripMargin

  /** t32: document fingerprint — md5 over whitespace-normalized,
    * lowercased text (the canonical exact-dedup key), plus a short
    * 16-hex prefix used for bucketing at scale. */
  def t32Fingerprint(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(
        col("doc_id"),
        fingerprint(col("text")).as("fingerprint"),
        substring(fingerprint(col("text")), 1, 16).as("fp_bucket"))
      .orderBy("doc_id")

  val t32Sql: String =
    """SELECT doc_id, fingerprint, substring(fingerprint,1,16) AS fp_bucket
      |FROM (
      | SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint
      | FROM documents)
      |ORDER BY doc_id""".stripMargin

  /** t33: sketch-based corpus statistics — HLL++ approximate
    * distinct counts and a bounded-memory approximate median per
    * language, alongside their exact counterparts. At 100 TB the
    * exact variants need a full shuffle of the distinct keys; the
    * sketches are fixed-size mergeable state (one partial per
    * partition), which is the only viable shape for interactive
    * corpus dashboards. Rows-only check (sketch values are
    * engine-specific); the spec bounds the error vs exact. */
  def t33SketchStats(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .groupBy(col("lang"))
      .agg(
        approx_count_distinct(col("source"), 0.02).as("approx_sources"),
        countDistinct(col("source")).as("exact_sources"),
        percentile_approx(col("n_chars"), lit(0.5), lit(1000)).as("approx_median_chars"),
        count(lit(1)).as("docs_count"))

  /** t33b: the DuckDB-expressible half of t33 —
    * exact per-language corpus stats (distinct sources, exact
    * interpolated median, total chars, doc count), upgrading the
    * groupBy pipeline from rows-only to oracle-checked; the sketch
    * columns stay in t33, error-bounded against these exact values
    * by TextOpsSpec. Same b-variant idiom as d23b/d24b/d27b. */
  def t33bExactStats(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .groupBy(col("lang"))
      .agg(
        countDistinct(col("source")).as("exact_sources"),
        // exact linear-interpolated median: Spark percentile and
        // DuckDB quantile_cont both evaluate at rank (n-1)·p, and
        // integer inputs make the interpolation exact in binary
        // (x.0 or x.5) — cross-engine hash-safe without rounding
        expr("percentile(n_chars, 0.5)").as("exact_median_chars"),
        sum(col("n_chars")).as("total_chars"),
        count(lit(1)).as("docs_count"))
      .orderBy("lang")

  val t33bSql: String =
    """SELECT lang,
      | count(DISTINCT source) AS exact_sources,
      | quantile_cont(CAST(n_chars AS DOUBLE), 0.5) AS exact_median_chars,
      | CAST(sum(n_chars) AS BIGINT) AS total_chars,
      | count(*) AS docs_count
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  /** t34: text scrubbing — the normalization stage of a training
    * pipeline: digit bucketing, punctuation strip, whitespace
    * collapse, lowercase; emits cleaned text + how much was removed
    * (regexes restricted to the Java∩RE2 common dialect so both
    * engines agree). */
  /** t34's normalization chain — single definition shared by t34 and
    * t40 so the pipeline can never drift from the component op. */
  private[graft] def scrubbed(text: Column): Column =
    trim(regexp_replace(regexp_replace(regexp_replace(
      lower(text),
      "[0-9]+", "0"),           // bucket numbers
      "[^a-z0-9 ]", ""),        // strip punctuation/symbols
      " +", " "))               // collapse spaces

  def t34Scrub(s: SparkSession, dir: String): DataFrame = {
    val cleaned = scrubbed(col("text"))
    Tables.documents(s, dir)
      .select(
        col("doc_id"),
        cleaned.as("clean_text"),
        length(col("text")).as("orig_len"),
        length(cleaned).as("clean_len"),
        (length(col("text")) - length(cleaned)).as("removed_chars"))
      .orderBy("doc_id")
  }

  val t34Sql: String =
    """SELECT doc_id,
      | trim(regexp_replace(regexp_replace(regexp_replace(lower(text),
      |   '[0-9]+', '0', 'g'),
      |   '[^a-z0-9 ]', '', 'g'),
      |   ' +', ' ', 'g')) AS clean_text,
      | CAST(length(text) AS INT) AS orig_len,
      | CAST(length(trim(regexp_replace(regexp_replace(regexp_replace(lower(text),
      |   '[0-9]+', '0', 'g'),
      |   '[^a-z0-9 ]', '', 'g'),
      |   ' +', ' ', 'g'))) AS INT) AS clean_len,
      | CAST(length(text) - length(trim(regexp_replace(regexp_replace(regexp_replace(lower(text),
      |   '[0-9]+', '0', 'g'),
      |   '[^a-z0-9 ]', '', 'g'),
      |   ' +', ' ', 'g'))) AS INT) AS removed_chars
      |FROM documents ORDER BY doc_id""".stripMargin

  /** t35: intra-document repetition filter — the MassiveText-style
    * repetition gate of a training-data pipeline (Rae et al. 2021,
    * "Scaling Language Models", §A.1.1), adapted to this corpus:
    * documents are single-line, so the duplicate-LINE family
    * degenerates and the token/2-gram family carries the signal.
    * Per doc: most-frequent-token fraction, most-frequent-bigram
    * fraction, duplicate-bigram fraction (occurrences of bigrams
    * seen ≥ 2×), each in IEEE-deterministic basis points (see t30's
    * rounding note), plus the filter verdict.
    *
    * Shape at scale: ONE explode of a (kind, gram) stream and a
    * two-level aggregate — a wordcount. The (doc_id, k, g) count
    * partial-aggregates map-side, the per-doc rollup carries four
    * longs per doc; no per-doc state ever materializes a frequency
    * map wider than the exchange row. Thresholds (15% top token,
    * 12% top bigram, 25% duplicated bigram mass) flag ~8% of the
    * synthetic corpus with zero short-doc artifacts (a 10-token doc
    * of all-unique bigrams scores 1/9 ≈ 11.1% and must NOT trip the
    * bigram gate); a real deployment tunes them per corpus. */
  def t35Repetition(s: SparkSession, dir: String): DataFrame = {
    val toks = tokens(col("text"))
    val grams = bigrams(toks)
    // spread before the explode (the a33/a42Base rationale): the scan
    // stage carries the tokenize + 2×|tokens| explode + the MAP-SIDE
    // partial of the (doc,k,g) count — heavy per-row work that inherits
    // the scan's splits, and the gate corpus is ONE parquet split, so
    // the whole wordcount's map side ran in one task. Scale-safe: the
    // added exchange moves (doc_id, text) rows, strictly FEWER bytes
    // than the gram-keyed exchange the groupBy below already pays.
    val kg = Par.spread(Tables.documents(s, dir), col("doc_id")).select(
      col("doc_id"), size(toks).as("n_tokens"),
      explode(concat(
        transform(toks, t => struct(lit(1).as("k"), t.as("g"))),
        transform(grams, g => struct(lit(2).as("k"), g.as("g"))))).as("kg"))
    val counts = kg
      .groupBy(col("doc_id"), col("n_tokens"),
        col("kg.k").as("k"), col("kg.g").as("g"))
      .agg(count(lit(1)).as("c"))
    val st = counts.groupBy("doc_id", "n_tokens").agg(
      max(when(col("k") === 1, col("c"))).as("max_tok"),
      coalesce(max(when(col("k") === 2, col("c"))), lit(0L)).as("max_gram"),
      coalesce(sum(when(col("k") === 2, col("c"))), lit(0L)).as("n_grams"),
      coalesce(sum(when(col("k") === 2 && col("c") >= 2, col("c"))), lit(0L))
        .as("dup_grams"))
    def bp(num: Column, den: Column): Column =
      floor(num.cast("double") * 10000.0 / den + 0.5).cast("int")
    val topTok = bp(col("max_tok"), col("n_tokens"))
    val topGram = bp(col("max_gram"), greatest(col("n_grams"), lit(1L)))
    val dupGram = bp(col("dup_grams"), greatest(col("n_grams"), lit(1L)))
    st.select(
      col("doc_id"),
      col("n_tokens").cast("int").as("n_tokens"),
      topTok.as("top_token_bp"),
      topGram.as("top_bigram_bp"),
      dupGram.as("dup_bigram_bp"),
      (topTok > 1500 || topGram > 1200 || dupGram > 2500).as("repetitive"))
      .orderBy("doc_id")
  }

  val t35Sql: String =
    """WITH d AS (SELECT doc_id, string_split(text,' ') AS a FROM documents),
      |g AS (
      | SELECT doc_id, len(a) AS n_tokens, 1 AS k, unnest(a) AS g FROM d
      | UNION ALL
      | SELECT doc_id, len(a) AS n_tokens, 2 AS k,
      |   unnest(list_transform(range(1, len(a)), i -> a[i] || ' ' || a[i+1])) AS g FROM d),
      |c AS (SELECT doc_id, n_tokens, k, g, count(*) AS c FROM g GROUP BY 1,2,3,4),
      |st AS (
      | SELECT doc_id, n_tokens,
      |  max(CASE WHEN k=1 THEN c END) AS max_tok,
      |  coalesce(max(CASE WHEN k=2 THEN c END), 0) AS max_gram,
      |  coalesce(sum(CASE WHEN k=2 THEN c END), 0) AS n_grams,
      |  coalesce(sum(CASE WHEN k=2 AND c>=2 THEN c END), 0) AS dup_grams
      | FROM c GROUP BY 1,2)
      |SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens,
      | CAST(floor(max_tok*10000.0/n_tokens + 0.5) AS INT) AS top_token_bp,
      | CAST(floor(max_gram*10000.0/greatest(n_grams,1) + 0.5) AS INT) AS top_bigram_bp,
      | CAST(floor(dup_grams*10000.0/greatest(n_grams,1) + 0.5) AS INT) AS dup_bigram_bp,
      | (floor(max_tok*10000.0/n_tokens + 0.5) > 1500
      |  OR floor(max_gram*10000.0/greatest(n_grams,1) + 0.5) > 1200
      |  OR floor(dup_grams*10000.0/greatest(n_grams,1) + 0.5) > 2500) AS repetitive
      |FROM st ORDER BY doc_id""".stripMargin

  /** t36: deterministic stratified sampling — per-language sampling
    * rates applied via a content-independent hash draw, the standard
    * way a training pipeline downweights overrepresented languages /
    * sources when composing a mixture (e.g. the per-source sampling
    * of Gopher/MassiveText and The Pile).
    *
    * The draw is md5(doc_id)'s first 7 hex digits as a uniform
    * 28-bit integer (the d23b dual-dialect idiom) compared against
    * floor(rate·2^28) — deterministic, reproducible across engines
    * and runs, and stable under repartitioning, unlike rand(seed)
    * which is seed-per-partition. Rates here: en 1/2, es+fr 1/4,
    * de 1/8, other 1/16.
    *
    * Scale: a pure filter projection — no shuffle, predicate runs in
    * the scan stage, and downstream sees a corpus whose language mix
    * is reweighted without any coordination. */
  /** t36's deterministic 28-bit hash draw and per-language keep
    * thresholds — single definitions shared by t36 and t40. */
  private[graft] val sampleDraw: Column = expr(
    "cast(conv(substring(md5(cast(doc_id as string)), 1, 7), 16, 10) as bigint)")

  private[graft] def sampleThreshold(lang: Column): Column =
    when(lang === "en", 134217728L)          // 2^28 / 2
      .when(lang.isin("es", "fr"), 67108864L) // 2^28 / 4
      .when(lang === "de", 33554432L)         // 2^28 / 8
      .otherwise(16777216L)                   // 2^28 / 16

  def t36Sample(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir)
      .withColumn("sample_key", sampleDraw)
      .filter(col("sample_key") < sampleThreshold(col("lang")))
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        col("sample_key"))
      .orderBy("doc_id")
  }

  val t36Sql: String =
    """SELECT doc_id, lang, source, n_chars, sample_key
      |FROM (
      | SELECT doc_id, lang, source, n_chars,
      |  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7)) AS BIGINT) AS sample_key
      | FROM documents)
      |WHERE sample_key < CASE WHEN lang = 'en' THEN 134217728
      |                        WHEN lang IN ('es','fr') THEN 67108864
      |                        WHEN lang = 'de' THEN 33554432
      |                        ELSE 16777216 END
      |ORDER BY doc_id""".stripMargin

  /** Per-language token budget for t37 — calibrated so selection is
    * partial at every test SF (each language carries ≥ ~3.5k tokens
    * at sf0.001; a real run parameterizes this per mixture spec). */
  private[graft] val tokenBudget = 2000L

  /** t37: token-budget mixture selection — keep, per language, the
    * prefix of a deterministic hash-priority ordering whose running
    * token total stays within the budget. This is the "take N
    * tokens of language X" step of composing a training mixture:
    * reproducible (hash priority, not rand), prefix-greedy (a doc
    * that would cross the budget is excluded, and so is everything
    * after it in priority order — a prefix rule, not a knapsack).
    *
    * Scale shape: the naive formulation is ONE window cumsum per
    * language — a single sorted task per language, which dies on a
    * 100 TB monolingual corpus. Implemented instead as a two-phase
    * cumulative sum: (1) per-(lang, 2-hex-digit priority bucket)
    * token totals — a 256-rows-per-language aggregate — get a
    * running offset via a window over that TINY rollup; (2) the
    * within-bucket cumsum windows over (lang, bucket) — 256-way
    * parallel per language, each task seeing ~1/256 of a language —
    * and adds the broadcast offset. Because the bucket is a prefix
    * of the priority, offset + within-bucket cumsum IS the global
    * cumsum; the DuckDB oracle computes the naive single-window
    * form, so the gate cross-checks the decomposition exactly. */
  def t37TokenBudget(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(s, dir).select(
      col("doc_id"), col("lang"),
      size(tokens(col("text"))).cast("long").as("ws_tokens"),
      md5(col("doc_id").cast("string").cast("binary")).as("priority"))
      .withColumn("bucket", substring(col("priority"), 1, 2))
    val offsets = base.groupBy("lang", "bucket")
      .agg(sum("ws_tokens").as("btok"))
      .withColumn("cum_before", coalesce(
        sum(col("btok")).over(Window.partitionBy("lang").orderBy("bucket")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("lang", "bucket", "cum_before")
    val wIn = Window.partitionBy("lang", "bucket").orderBy("priority", "doc_id")
    base.join(broadcast(offsets), Seq("lang", "bucket"))
      .withColumn("cum_tokens", col("cum_before") + sum(col("ws_tokens")).over(wIn))
      .filter(col("cum_tokens") <= tokenBudget)
      .select(col("lang"), col("doc_id"), col("ws_tokens"), col("cum_tokens"))
      .orderBy("lang", "doc_id")
  }

  val t37Sql: String =
    s"""WITH base AS (
       | SELECT doc_id, lang,
       |  CAST(len(string_split(text,' ')) AS BIGINT) AS ws_tokens,
       |  md5(CAST(doc_id AS VARCHAR)) AS priority
       | FROM documents)
       |SELECT lang, doc_id, ws_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens
       |FROM (
       | SELECT lang, doc_id, ws_tokens,
       |  sum(ws_tokens) OVER (PARTITION BY lang ORDER BY priority, doc_id
       |                       ROWS UNBOUNDED PRECEDING) AS cum_tokens
       | FROM base)
       |WHERE cum_tokens <= $tokenBudget
       |ORDER BY lang, doc_id""".stripMargin

  /** t38: keyphrase extraction — per-document top-3 bigrams by
    * TF-IDF. TF is the in-doc bigram count over the doc's bigram
    * total; IDF is the LINEAR ratio N/df (not log(N/df)): a rational
    * of exact integers, so the score is one IEEE-correctly-rounded
    * division in both engines and the cross-engine gate stays
    * byte-exact — no transcendental whose last ulp differs between
    * Java's fdlibm and DuckDB's libm. (Linear idf reweights ranking
    * vs the classic log form; for keyphrase top-k it is the same
    * family of signal, and the choice is documented, not hidden.)
    * Ties break on the bigram string, so top-3 is deterministic.
    *
    * Scale shape (100 TB): two wordcount-shaped aggregates (per-doc
    * bigram counts, then df over the count table — both partial-
    * aggregable map-side), one dictionary-sized equi-join to attach
    * df (vocab², corpus-independent — AQE broadcasts it when it
    * fits), a 1-row broadcast for N, and a doc-keyed window whose
    * per-group state is one document's vocabulary. No count-distinct
    * (df counts rows of the already-distinct (doc, gram) table). */
  def t38Keyphrase(s: SparkSession, dir: String): DataFrame = {
    val toks = tokens(col("text"))
    val grams = bigrams(toks)
    // spread before the explode — the t35 rationale verbatim (1-split
    // scan ran the tokenize + bigram explode + tf partial-agg in one
    // task; the added (doc_id, text) exchange is bounded by the gram
    // exchange the tf groupBy pays).
    val base = Par.spread(Tables.documents(s, dir), col("doc_id")).select(
      col("doc_id"), size(toks).minus(1).cast("long").as("n_grams"),
      explode(grams).as("gram"))
    val tf = base.groupBy("doc_id", "n_grams", "gram")
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("gram").agg(count(lit(1)).as("df"))
    val nDocs = Tables.documents(s, dir)
      .agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(df, Seq("gram"))
      .crossJoin(broadcast(nDocs))
      // exact-int rational tf·1e4·N / (n_grams·df) while the products
      // stay < 2^53 (holds up to ~1e9-doc corpora at these tf caps);
      // beyond that the quotient is merely correctly-rounded — both
      // engines still agree bit-for-bit (identical IEEE op sequence),
      // but the integer-exactness invariant relaxes
      .withColumn("score_bp",
        floor(col("tf") * 10000.0 * col("n_docs")
          / (col("n_grams") * col("df")) + 0.5).cast("int"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score_bp").desc, col("gram"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("doc_id"), col("rk"), col("gram").as("keyphrase"),
        col("tf"), col("df"), col("score_bp"))
      .orderBy("doc_id", "rk")
  }

  val t38Sql: String =
    """WITH d AS (SELECT doc_id, string_split(text,' ') AS a FROM documents),
      |bg AS (
      | SELECT doc_id, CAST(len(a)-1 AS BIGINT) AS n_grams,
      |  a[i] || ' ' || a[i+1] AS gram
      | FROM (SELECT doc_id, a, unnest(generate_series(1, len(a)-1)) AS i FROM d)),
      |tf AS (SELECT doc_id, n_grams, gram, count(*) AS tf FROM bg GROUP BY 1,2,3),
      |df AS (SELECT gram, count(*) AS df FROM tf GROUP BY 1),
      |n AS (SELECT count(*) AS n_docs FROM documents),
      |scored AS (
      | SELECT tf.doc_id, tf.gram, tf.tf, df.df,
      |  CAST(floor(tf.tf * 10000.0 * (SELECT n_docs FROM n)
      |       / (tf.n_grams * df.df) + 0.5) AS INT) AS score_bp
      | FROM tf JOIN df USING (gram)),
      |ranked AS (
      | SELECT doc_id, gram, tf, df, score_bp,
      |  row_number() OVER (PARTITION BY doc_id ORDER BY score_bp DESC, gram) AS rk
      | FROM scored)
      |SELECT doc_id, CAST(rk AS INT) AS rk, gram AS keyphrase,
      | CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df, score_bp
      |FROM ranked WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin

  /** Low-quality gate for t39 in ppm of transition probability —
    * calibrated on the synthetic corpus so the flag is non-vacuous
    * (≈7% flagged at sf0.01; a real deployment tunes per corpus). */
  private[graft] val t39LowQualityPpm = 33000L

  /** t39: corpus-trained bigram-LM quality scoring — the CCNet-style
    * perplexity gate of a training pipeline (Wenzek et al. 2020
    * train a KenLM and drop the worst-perplexity tail) restated
    * self-contained: train add-one-smoothed bigram transition
    * probabilities on the corpus itself, score each document by its
    * mean transition probability, flag the low tail. Probabilities
    * are quantized to exact-integer ppm — floor((c12+1)·1e6 /
    * (c1+V)) — so per-doc sums are exact long arithmetic: no
    * float-sum ordering hazard across partitions and no logarithm
    * whose ulp differs across engines (the classical log-domain
    * perplexity is a monotone transform of the same per-transition
    * signal; ppm keeps the cross-engine gate byte-exact). c1 is the
    * context count (occurrences of w1 as a bigram prefix), so the
    * smoothed conditional sums to ≤ 1 per context.
    *
    * Scale shape (100 TB): the transition-count table is ONE
    * wordcount over the bigram stream (map-side partials); c1 is a
    * rollup OF THAT TABLE (dictionary-sized input, not the corpus);
    * both attach to the dictionary before the single probe join, so
    * the corpus-sized stream is shuffled once on the gram key. V and
    * doc count are 1-row broadcasts. Per-doc rollup carries three
    * longs; docs with <2 tokens pass through unflagged via the
    * doc-keyed left join (nothing to score). */
  /** t39's per-doc LM scores (doc_id, n_bigrams, sum_ppm, min_ppm,
    * avg_ppm) — ONE scoring definition shared by t39's gate and
    * t58's CCNet bucketing, so flag and bucket can never disagree
    * about a document's fluency. */
  private[graft] def t39PerDoc(s: SparkSession, dir: String): DataFrame = {
    val toks = tokens(col("text"))
    val bg = Tables.documents(s, dir)
      .select(col("doc_id"), explode(bigramPairs(toks)).as("g"))
      .select(col("doc_id"), col("g.w1").as("w1"), col("g.gram").as("gram"))
    val c12 = bg.groupBy("w1", "gram").agg(count(lit(1)).as("c12"))
    val c1 = c12.groupBy("w1").agg(sum("c12").as("c1"))
    val vocab = Tables.documents(s, dir)
      .select(explode(tokens(col("text"))).as("tok"))
      .agg(countDistinct(col("tok")).as("v"))
    val dict = c12.join(c1, Seq("w1")).crossJoin(broadcast(vocab))
      // exact-int rational (c12+1)·1e6 / (c1+V) while (c12+1)·1e6 stays
      // < 2^53 (holds to ~9e9 occurrences of a single bigram); beyond
      // that both engines still agree bit-for-bit (identical IEEE op
      // sequence), but the integer-exactness invariant relaxes
      .withColumn("ppm",
        floor((col("c12") + 1) * 1000000.0 / (col("c1") + col("v")))
          .cast("long"))
      .select("gram", "ppm")
    bg.join(dict, Seq("gram"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum("ppm").as("sum_ppm"),
        min("ppm").as("min_ppm"))
      .withColumn("avg_ppm",
        floor(col("sum_ppm") * 1.0 / col("n_bigrams") + 0.5).cast("long"))
  }

  def t39BigramLm(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir).select(col("doc_id"))
      .join(t39PerDoc(s, dir), Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        col("avg_ppm"), col("min_ppm"),
        coalesce(col("avg_ppm") < t39LowQualityPpm, lit(false))
          .as("low_quality"))
      .orderBy("doc_id")
  }

  /** t39's scoring CTE chain (d … per_doc) — one SQL body shared by
    * t39's and t58's oracles, mirroring the shared [[t39PerDoc]]. */
  private val t39ScoreCte: String =
    """d AS (SELECT doc_id, lang, string_split(text,' ') AS a FROM documents),
      |bg AS (
      | SELECT doc_id, a[i] AS w1, a[i] || ' ' || a[i+1] AS gram
      | FROM (SELECT doc_id, a, unnest(generate_series(1, len(a)-1)) AS i FROM d)),
      |c12 AS (SELECT w1, gram, count(*) AS c12 FROM bg GROUP BY 1,2),
      |c1 AS (SELECT w1, sum(c12) AS c1 FROM c12 GROUP BY 1),
      |v AS (SELECT count(*) AS v FROM (SELECT DISTINCT unnest(a) AS tok FROM d)),
      |dict AS (
      | SELECT c12.gram,
      |  CAST(floor((c12.c12+1) * 1000000.0 / (c1.c1 + (SELECT v FROM v))) AS BIGINT) AS ppm
      | FROM c12 JOIN c1 USING (w1)),
      |per_doc AS (
      | SELECT bg.doc_id, count(*) AS n_bigrams, sum(ppm) AS sum_ppm, min(ppm) AS min_ppm
      | FROM bg JOIN dict USING (gram) GROUP BY 1)""".stripMargin

  val t39Sql: String =
    s"""WITH $t39ScoreCte
       |SELECT d.doc_id,
       | CAST(coalesce(p.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       | CAST(floor(p.sum_ppm * 1.0 / p.n_bigrams + 0.5) AS BIGINT) AS avg_ppm,
       | CAST(p.min_ppm AS BIGINT) AS min_ppm,
       | coalesce(floor(p.sum_ppm * 1.0 / p.n_bigrams + 0.5) < $t39LowQualityPpm, false) AS low_quality
       |FROM d LEFT JOIN per_doc p USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin

  /** t58: CCNet perplexity bucketing — the step the CCNet pipeline
    * (Wenzek et al. 2020) runs AFTER LM scoring: split each
    * language's documents into head/middle/tail terciles by LM
    * fluency, so downstream consumers can train on 'head', ablate on
    * 'middle', and drop or re-weight 'tail'. t39 flags documents
    * against a FIXED ppm threshold; t58 ranks them against EACH
    * OTHER — the distribution-relative cut CCNet actually ships
    * (a fixed threshold goes stale as the corpus mix drifts;
    * terciles cannot). Fluency is t39's avg_ppm through the shared
    * [[t39PerDoc]] (bigram-less docs take fluency −1: no evidence of
    * fluency sorts to the tail bottom, deterministically); rank =
    * fluency DESC, doc_id — most-predictable first; buckets by the
    * t53 exact floor-division quotas (head = first n/3, middle to
    * 2n/3, tail the rest — disjoint, exhaustive, integer-exact).
    *
    * Scale: the rank is [[graft.functions.Ranks.bucketedRank]] with
    * the VALUE as the draw (dbkt = −fluency >> 13, i.e. fixed
    * 8192-ppm score bands): exactness needs only shiftright
    * monotonicity, which holds for ANY draw — the hash-uniformity
    * precondition buys balance, not correctness, so here balance
    * degrades to the width of the densest score band rather than
    * being guaranteed; the languages × bands offset table stays
    * tiny and broadcast. Oracle: the plain one-window form (the
    * d36/t50 cross-form proof again). */
  def t58CcnetBuckets(s: SparkSession, dir: String): DataFrame = {
    val scored = Tables.documents(s, dir).select(col("doc_id"), col("lang"))
      .join(t39PerDoc(s, dir).select("doc_id", "avg_ppm"), Seq("doc_id"), "left")
      .withColumn("fluency", coalesce(col("avg_ppm"), lit(-1L)))
    val counts = scored.groupBy("lang").agg(count(lit(1)).as("n"))
    graft.functions.Ranks
      .bucketedRank(scored, col("lang"), -col("fluency"), col("doc_id"),
        bucketShift = 13, rankName = "rank_l")
      .withColumn("rank", col("rank_l").cast("int")).drop("rank_l")
      .join(broadcast(counts), "lang")
      .withColumn("bucket", expr(
        """CASE WHEN rank <= n div 3 THEN 'head'
          |     WHEN rank <= 2 * n div 3 THEN 'middle'
          |     ELSE 'tail' END""".stripMargin))
      .select("doc_id", "lang", "fluency", "rank", "bucket")
      .orderBy("doc_id")
  }

  /** DuckDB oracle for t58: the shared scoring CTEs, the identical
    * −1 fluency default, and the plain one-window rank + quota CASE. */
  val t58Sql: String =
    s"""WITH $t39ScoreCte,
       |sc AS (
       | SELECT d.doc_id, d.lang,
       |  coalesce(CAST(floor(p.sum_ppm * 1.0 / p.n_bigrams + 0.5) AS BIGINT), -1) AS fluency
       | FROM d LEFT JOIN per_doc p USING (doc_id)),
       |r AS (
       | SELECT doc_id, lang, fluency,
       |  CAST(row_number() OVER (PARTITION BY lang
       |    ORDER BY fluency DESC, doc_id) AS INT) AS rank,
       |  count(*) OVER (PARTITION BY lang) AS n
       | FROM sc)
       |SELECT doc_id, lang, fluency, rank,
       | CASE WHEN rank <= n // 3 THEN 'head'
       |      WHEN rank <= 2 * n // 3 THEN 'middle'
       |      ELSE 'tail' END AS bucket
       |FROM r ORDER BY doc_id""".stripMargin

  /** Quality floor for t40 in t30's basis points — calibrated so the
    * gate drops ≈5% of the synthetic corpus (min 4300, median 6033);
    * a real deployment tunes per corpus. */
  private[graft] val t40QualityMinBp = 5000

  /** t40: the preprocessing front-end END-TO-END — one declarative
    * plan chaining the individual operators a training pipeline runs
    * in sequence: quality gate (t30's score ≥ [[t40QualityMinBp]]) ∧
    * repetition gate (t35's verdict) → normalization scrub (t34's
    * chain) → exact dedup on the canonical fingerprint, keep-min doc
    * (d22 semantics) → deterministic stratified sampling (t36's hash
    * draw and rates). Output: the surviving mixture with per-doc
    * clean-token counts. This is the integration proof that the
    * pieces compose without materialization barriers: Catalyst fuses
    * the scrub into the scan-stage projection, the gates are plain
    * predicates, and the intermediate orderings of the reused
    * operators are eliminated (spec-pinned: one final Sort).
    *
    * Scale shape (100 TB): the quality score, scrub, and sample draw
    * are evaluated INLINE on the main scan via the shared expression
    * helpers ([[qualityScoreBp]], [[scrubbed]], [[sampleDraw]]) —
    * never by re-joining the per-row component operators back on
    * doc_id, which would be an extra corpus-sized self-join. The only
    * corpus join is the unavoidable one: t35's verdict (a genuine
    * aggregate) attaches on doc_id. Dedup is a keep-min WINDOW over
    * the fingerprint — one fp-keyed shuffle — rather than d22's
    * groupBy + semi-join, which in this composed plan would recompute
    * the entire gated upstream (t35 aggregate included) on both join
    * sides; the plan spec pins the corpus-scan count at 2. The
    * sample is a pure filter. */
  def t40Pipeline(s: SparkSession, dir: String): DataFrame = {
    val toks = tokens(col("text"))
    // spread (the t35 rationale): the gate projection is heavy per-row
    // work (tokenize + quality score + scrub regexes + downstream
    // fingerprint md5) that ran in the 1-split scan's single task; the
    // fingerprint window below already exchanges the gated rows, so
    // the added exchange is bounded by an existing one.
    val gated = Par.spread(Tables.documents(s, dir), col("doc_id"))
      .select(col("doc_id"), col("lang"),
        qualityScoreBp(toks).as("quality_score_bp"),
        scrubbed(col("text")).as("clean_text"))
      .join(t35Repetition(s, dir).select("doc_id", "repetitive"),
        Seq("doc_id"))
      .filter(col("quality_score_bp") >= t40QualityMinBp && !col("repetitive"))
      .drop("repetitive")
    val wFp = Window.partitionBy("fp").orderBy("doc_id")
    val deduped = gated.withColumn("fp", fingerprint(col("clean_text")))
      .withColumn("rn", row_number().over(wFp))
      .filter(col("rn") === 1)
      .drop("rn", "fp")
    deduped.withColumn("sample_key", sampleDraw)
      .filter(col("sample_key") < sampleThreshold(col("lang")))
      .select(col("doc_id"), col("lang"),
        size(split(col("clean_text"), " ")).as("clean_tokens"),
        col("quality_score_bp"), col("sample_key"))
      .orderBy("doc_id")
  }

  /** DuckDB oracle for t40: the t30/t34/t35/d22/t36 oracle fragments
    * composed into one CTE chain — each fragment byte-exact on its
    * own gate, so a t40 mismatch isolates a composition bug. */
  /** The t30 quality score as a SQL expression over a pre-split
    * token-list column `a` — ONE formula text shared by t40Sql's
    * gate CTE and d40's daily-admit oracle, so the two gates cannot
    * drift. */
  private[graft] val qualityScoreOverASql: String =
    s"""CAST(floor((least(len(a)/100.0, 1.0)*0.5
       |   + (CAST(len(list_distinct(a)) AS DOUBLE)/len(a))*0.3
       |   + (1.0 - CAST(len(list_filter(a, x -> list_contains(${stopList("en")}, x))) AS DOUBLE)/len(a))*0.2
       |   ) * 10000.0 + 0.5) AS INT)""".stripMargin

  val t40Sql: String =
    s"""WITH t AS (SELECT doc_id, lang, text, string_split(text,' ') AS a FROM documents),
       |q AS (
       | SELECT doc_id,
       |  $qualityScoreOverASql AS quality_score_bp
       | FROM t),
       |g AS (
       | SELECT doc_id, len(a) AS n_tokens, 1 AS k, unnest(a) AS gr FROM t
       | UNION ALL
       | SELECT doc_id, len(a) AS n_tokens, 2 AS k,
       |   unnest(list_transform(range(1, len(a)), i -> a[i] || ' ' || a[i+1])) AS gr FROM t),
       |c AS (SELECT doc_id, n_tokens, k, gr, count(*) AS c FROM g GROUP BY 1,2,3,4),
       |st AS (
       | SELECT doc_id, n_tokens,
       |  max(CASE WHEN k=1 THEN c END) AS max_tok,
       |  coalesce(max(CASE WHEN k=2 THEN c END), 0) AS max_gram,
       |  coalesce(sum(CASE WHEN k=2 THEN c END), 0) AS n_grams,
       |  coalesce(sum(CASE WHEN k=2 AND c>=2 THEN c END), 0) AS dup_grams
       | FROM c GROUP BY 1,2),
       |rep AS (
       | SELECT doc_id,
       |  (floor(max_tok*10000.0/n_tokens + 0.5) > 1500
       |   OR floor(max_gram*10000.0/greatest(n_grams,1) + 0.5) > 1200
       |   OR floor(dup_grams*10000.0/greatest(n_grams,1) + 0.5) > 2500) AS repetitive
       | FROM st),
       |gated AS (
       | SELECT t.doc_id, t.lang, q.quality_score_bp,
       |  trim(regexp_replace(regexp_replace(regexp_replace(lower(t.text),
       |    '[0-9]+', '0', 'g'),
       |    '[^a-z0-9 ]', '', 'g'),
       |    ' +', ' ', 'g')) AS clean_text
       | FROM t JOIN q USING (doc_id) JOIN rep USING (doc_id)
       | WHERE q.quality_score_bp >= $t40QualityMinBp AND NOT rep.repetitive),
       |f AS (SELECT gated.*, md5(regexp_replace(lower(trim(clean_text)), '\\s+', ' ', 'g')) AS fp FROM gated),
       |keep AS (SELECT fp, min(doc_id) AS doc_id FROM f GROUP BY fp),
       |ded AS (SELECT f.* FROM f JOIN keep ON keep.fp = f.fp AND keep.doc_id = f.doc_id),
       |samp AS (
       | SELECT doc_id, lang, clean_text, quality_score_bp,
       |  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7)) AS BIGINT) AS sample_key
       | FROM ded)
       |SELECT doc_id, lang,
       | CAST(len(string_split(clean_text,' ')) AS INT) AS clean_tokens,
       | quality_score_bp, sample_key
       |FROM samp
       |WHERE sample_key < CASE WHEN lang = 'en' THEN 134217728
       |                        WHEN lang IN ('es','fr') THEN 67108864
       |                        WHEN lang = 'de' THEN 33554432
       |                        ELSE 16777216 END
       |ORDER BY doc_id""".stripMargin

  /** t41 chunking geometry: 64-token windows every 48 tokens
    * (16-token overlap) — the embedding-index shape; a real run
    * parameterizes both. */
  private[graft] val chunkSize = 64
  private[graft] val chunkStride = 48

  /** t41: overlapping token-window chunking — split every document
    * into `chunkSize`-token windows starting every `chunkStride`
    * tokens (RAG/embedding-index preprocessing: chunks small enough
    * to embed, overlapping so no span is cut mid-context). Emits one
    * row per (doc, window) with the window's token count and
    * reassembled text; the final window is the natural remainder.
    *
    * Scale shape (100 TB): a pure per-row explode — tokenize once,
    * `sequence(0, n-1, stride)` for the start offsets, `slice` +
    * `array_join` per chunk. No shuffle at all except the
    * presentation sort (dropped at scale for a partitioned write);
    * output volume is the size×stride overlap factor (~4/3 here),
    * which is the operator's real cost and the user's dial. */
  def t41Chunk(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), tokens(col("text")).as("toks"))
      .withColumn("n_tok", size(col("toks")))
      .withColumn("start",
        explode(sequence(lit(0), col("n_tok") - 1, lit(chunkStride))))
      .select(
        col("doc_id"), col("lang"),
        // integer div (the t42 stance): same convention, exact
        // semantics with no double round-trip
        expr(s"start div $chunkStride").cast("int").as("chunk_idx"),
        col("start").as("start_tok"),
        least(lit(chunkSize), col("n_tok") - col("start")).cast("int")
          .as("chunk_tokens"),
        array_join(slice(col("toks"), col("start") + 1, lit(chunkSize)), " ")
          .as("chunk_text"))
      .orderBy("doc_id", "chunk_idx")
  }

  val t41Sql: String =
    s"""WITH t AS (SELECT doc_id, lang, string_split(text,' ') AS a FROM documents),
       |s AS (
       | SELECT doc_id, lang, a, len(a) AS n,
       |  unnest(generate_series(0, CAST(len(a) AS BIGINT) - 1, $chunkStride)) AS start
       | FROM t)
       |SELECT doc_id, lang,
       | CAST(start // $chunkStride AS INT) AS chunk_idx,
       | CAST(start AS INT) AS start_tok,
       | CAST(least($chunkSize, n - start) AS INT) AS chunk_tokens,
       | array_to_string(list_slice(a, start + 1, least(start + $chunkSize, n)), ' ') AS chunk_text
       |FROM s ORDER BY doc_id, chunk_idx""".stripMargin

  /** t42 context-window capacity in whitespace tokens. */
  private[graft] val packBudget = 2048L

  /** t42 bucket width: doc_id >> shift. The offsets rollup carries
    * ~N/2^shift rows (broadcast + one tiny window) and each
    * within-bucket window sorts ~2^shift docs, so the shift is the
    * SQRT DIAL of the two-phase decomposition: pick ≈ log2(√N).
    * 6 suits the test SFs (8–80 buckets over 500–5000 docs); a
    * 10^10-doc corpus would run ~17 (130k-doc buckets, 75k-row
    * rollup). Unlike t37's fixed 256 hash-prefix buckets, the
    * order-key prefix must scale with N — the dial, its formula,
    * and why are the contract here. */
  private[graft] val packBucketShift = 6

  /** t42: sequence packing — assign every document its position in
    * the GPT-style packed training layout: documents concatenated in
    * a fixed deterministic order (lang, then doc_id) and the token
    * stream sliced into `packBudget`-token context windows. For each
    * doc: the running token count before it (`cum_before`), the
    * context window its first token lands in (`bin_id`), and the
    * offset within that window (`bin_offset`) — exactly what a
    * trainer needs to build packed examples without re-scanning.
    *
    * Scale shape (100 TB): the naive form is one window cumsum per
    * language (single sorted task — dies on a monolingual corpus).
    * Implemented as t37's two-phase cumulative sum with the bucket
    * now a PREFIX OF THE ORDER KEY (doc_id >> 6): per-(lang, bucket)
    * token totals get a running offset via a window over the tiny
    * rollup, the within-bucket cumsum parallelizes per bucket, and
    * offset + within-bucket sum IS the global cumsum. The DuckDB
    * oracle computes the naive single-window form, so the gate
    * cross-checks the decomposition exactly. */
  def t42Pack(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(s, dir).select(
      col("doc_id"), col("lang"),
      size(tokens(col("text"))).cast("long").as("ws_tokens"))
      .withColumn("bucket", shiftright(col("doc_id"), packBucketShift))
    val offsets = base.groupBy("lang", "bucket")
      .agg(sum("ws_tokens").as("btok"))
      .withColumn("bucket_before", coalesce(
        sum(col("btok")).over(Window.partitionBy("lang").orderBy("bucket")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("lang", "bucket", "bucket_before")
    val wIn = Window.partitionBy("lang", "bucket").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    base.join(broadcast(offsets), Seq("lang", "bucket"))
      .withColumn("cum_before",
        col("bucket_before") + coalesce(sum(col("ws_tokens")).over(wIn), lit(0L)))
      .select(col("lang"), col("doc_id"), col("ws_tokens"), col("cum_before"),
        // integer div, not a double round-trip: a 100 TB token
        // stream passes 2^53 where double division can mis-floor
        expr(s"cum_before div $packBudget").as("bin_id"),
        (col("cum_before") % packBudget).as("bin_offset"))
      .orderBy("lang", "doc_id")
  }

  val t42Sql: String =
    s"""WITH base AS (
       | SELECT doc_id, lang,
       |  CAST(len(string_split(text,' ')) AS BIGINT) AS ws_tokens
       | FROM documents),
       |c AS (
       | SELECT lang, doc_id, ws_tokens,
       |  coalesce(sum(ws_tokens) OVER (PARTITION BY lang ORDER BY doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
       | FROM base)
       |SELECT lang, doc_id, ws_tokens,
       | CAST(cum_before AS BIGINT) AS cum_before,
       | CAST(cum_before // $packBudget AS BIGINT) AS bin_id,
       | CAST(cum_before % $packBudget AS BIGINT) AS bin_offset
       |FROM c ORDER BY lang, doc_id""".stripMargin

  /** PII patterns shared by t43's count and redact stages. Written
    * in the Java∩RE2 regex dialect intersection (the t34 stance):
    * character classes, bounded repetition, \d and \b only — no
    * lookaround, so Spark's Java engine and DuckDB's RE2 match
    * identically. */
  private[graft] val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[graft] val phoneRe = "\\+\\d{8,15}"
  private[graft] val ipRe =
    "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** t43: PII detection + redaction — the scrub-before-training step
    * every published pipeline runs (emails, plus-prefixed phone
    * numbers, IPv4s → typed placeholders, with per-doc counts for
    * the audit trail). Pure per-row projection: zero shuffles,
    * embarrassingly parallel, same scale shape as t34.
    *
    * The synthetic corpus carries no PII (zero digits anywhere), so
    * the entry PLANTS deterministic PII derived from doc_id — the
    * mediaTable stance: both engines derive the identical enriched
    * text in-dialect, making the cross-engine gate a NON-VACUOUS
    * check of regex semantics, counts, and redaction order rather
    * than an identity map over clean text. Redaction order matters
    * and is pinned: emails first (their local part may contain
    * digits), then phones, then IPs. */
  /** The t43 projection over ANY (doc_id, lang, text) frame — a pure
    * stateless per-row select, which is exactly why s40 can run it
    * unchanged at the stream boundary (the s39/d29 sharing stance:
    * one definition, so stream and batch can never disagree). */
  private[graft] def piiCols(docs: DataFrame): DataFrame = {
    val did = col("doc_id")
    val enriched = concat(
      col("text"),
      when(did % 5 === 0, concat(lit(" contact user"), did.cast("string"),
        lit("@example.com now"))).otherwise(lit("")),
      when(did % 7 === 0, concat(lit(" from 10."), (did % 256).cast("string"),
        lit(".0."), (did % 100).cast("string"), lit(" logged"))).otherwise(lit("")),
      when(did % 11 === 0, concat(lit(" call +1555"),
        lpad((did % 10000).cast("string"), 7, "0"), lit(" soon"))).otherwise(lit("")))
    docs
      .select(did, col("lang"), enriched.as("enriched"))
      .select(
        col("doc_id"), col("lang"),
        regexp_count(col("enriched"), lit(emailRe)).cast("int").as("n_emails"),
        regexp_count(col("enriched"), lit(phoneRe)).cast("int").as("n_phones"),
        regexp_count(col("enriched"), lit(ipRe)).cast("int").as("n_ips"),
        regexp_replace(regexp_replace(regexp_replace(col("enriched"),
          emailRe, "<EMAIL>"), phoneRe, "<PHONE>"), ipRe, "<IP>")
          .as("redacted_text"))
  }

  def t43Pii(s: SparkSession, dir: String): DataFrame =
    piiCols(Tables.documents(s, dir)).orderBy("doc_id")

  /** The t43 oracle body (no presentation sort) — shared with s40's
    * quarantine-feed oracle, mirroring the piiCols sharing. */
  private[graft] val piiBodySql: String =
    s"""WITH e AS (
       | SELECT doc_id, lang,
       |  text
       |   || CASE WHEN doc_id % 5 = 0
       |      THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now'
       |      ELSE '' END
       |   || CASE WHEN doc_id % 7 = 0
       |      THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR)
       |        || '.0.' || CAST(doc_id % 100 AS VARCHAR) || ' logged'
       |      ELSE '' END
       |   || CASE WHEN doc_id % 11 = 0
       |      THEN ' call +1555' || lpad(CAST(doc_id % 10000 AS VARCHAR), 7, '0') || ' soon'
       |      ELSE '' END AS enriched
       | FROM documents)
       |SELECT doc_id, lang,
       | CAST(len(regexp_extract_all(enriched, '$emailRe')) AS INT) AS n_emails,
       | CAST(len(regexp_extract_all(enriched, '$phoneRe')) AS INT) AS n_phones,
       | CAST(len(regexp_extract_all(enriched, '$ipRe')) AS INT) AS n_ips,
       | regexp_replace(regexp_replace(regexp_replace(enriched,
       |   '$emailRe', '<EMAIL>', 'g'), '$phoneRe', '<PHONE>', 'g'),
       |   '$ipRe', '<IP>', 'g') AS redacted_text
       |FROM e""".stripMargin

  val t43Sql: String = piiBodySql + "\nORDER BY doc_id"

  /** t44 vocabulary width: the top-V tokens reported. The dial a
    * tokenizer-training run would set to its vocab budget. */
  private[graft] val t44TopV = 100

  /** The top-V (token, freq, doc_freq) stage shared by t44 (which
    * adds rank + coverage) and t45 (which needs token→rank only) —
    * one definition so the applied vocab can never drift from the
    * reported one. */
  private def t44Top(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
    val freqs = toks.groupBy("token").agg(count(lit(1)).as("freq"))
    val dfreq = toks.select("token", "doc_id").distinct()
      .groupBy("token").agg(count(lit(1)).as("doc_freq"))
    freqs.join(dfreq, "token")
      .orderBy(col("freq").desc, col("token")).limit(t44TopV)
  }

  /** t44: corpus vocabulary / Zipf statistics — the vocab-induction
    * front-end of tokenizer training (BPE/WordPiece start from
    * exactly this table): the top-V tokens by corpus frequency with
    * document frequency, rank, and exact-integer ppm coverage +
    * cumulative coverage (how much of the token stream the top-V
    * vocabulary explains).
    *
    * Scale shape (100 TB): term frequency is wordcount — map-side
    * partial counts, one shuffle on the token key. Document
    * frequency counts the DISTINCT (token, doc) table (t38's stance
    * — never a count-distinct agg). Top-V runs as orderBy+limit =
    * TakeOrderedAndProject: a bounded top-k that keeps ≤ V rows per
    * partition before one ≤ V·P-row gather, never a global sort of
    * the vocabulary. The cumulative window then orders V rows — its
    * input is bounded by the REPORT size, not the corpus, which is
    * why a window t37 had to two-phase away is legitimate here.
    * Coverage math is pure integer (×1e6, `div`), so both engines
    * agree exactly; the total-token count attaches as a broadcast
    * 1-row cross join (a scalar, never a shuffle key). */
  def t44Vocab(s: SparkSession, dir: String): DataFrame = {
    val total = Tables.documents(s, dir)
      .select(explode(tokens(col("text"))).as("token"))
      .agg(count(lit(1)).as("total_tokens"))
    val w = Window.orderBy(col("freq").desc, col("token"))
    t44Top(s, dir).crossJoin(broadcast(total))
      .withColumn("rank", row_number().over(w))
      .withColumn("cum_freq", sum(col("freq")).over(w))
      .select(
        col("token"), col("rank"), col("freq"), col("doc_freq"),
        expr("freq * 1000000 div total_tokens").as("coverage_ppm"),
        expr("cum_freq * 1000000 div total_tokens").as("cum_coverage_ppm"))
      .orderBy("rank")
  }

  /** DuckDB oracle for t44: identical tokenization, tie-break, and
    * integer (// vs div) coverage math; sums cast back to BIGINT
    * (DuckDB widens SUM to HUGEINT). */
  val t44Sql: String =
    s"""WITH toks AS (
       | SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
       |freqs AS (SELECT token, count(*) AS freq FROM toks GROUP BY token),
       |dfreq AS (
       | SELECT token, count(*) AS doc_freq
       | FROM (SELECT DISTINCT token, doc_id FROM toks) GROUP BY token),
       |total AS (SELECT count(*) AS total_tokens FROM toks),
       |top AS (
       | SELECT f.token, f.freq, d.doc_freq,
       |  row_number() OVER (ORDER BY f.freq DESC, f.token) AS rank
       | FROM freqs f JOIN dfreq d USING (token)
       | ORDER BY f.freq DESC, f.token LIMIT $t44TopV)
       |SELECT token, CAST(rank AS INT) AS rank, freq, doc_freq,
       | freq * 1000000 // (SELECT total_tokens FROM total) AS coverage_ppm,
       | CAST(CAST(sum(freq) OVER (ORDER BY rank) AS BIGINT) * 1000000
       |   // (SELECT total_tokens FROM total) AS BIGINT) AS cum_coverage_ppm
       |FROM top ORDER BY rank""".stripMargin

  /** t45: vocabulary application — the tokenize step that follows
    * t44's induction: every corpus token maps to its vocab id
    * (= t44 rank; 0 is UNK), yielding per-doc id sequences and the
    * out-of-vocabulary rate (exact ppm) — the signal a pipeline
    * watches to size its vocab or flag domain drift.
    *
    * Scale shape (100 TB): the vocab is top-V rows — it BROADCASTS,
    * and the corpus token stream maps through a broadcast LEFT join
    * in its scan stage (never shuffled to match). The only
    * corpus-keyed exchange is the per-doc rollup; the id sequence
    * reassembles position-ordered inside the aggregation (sorted
    * struct collect, bounded by one document), emitted as CSV so the
    * driver compare — which can't hash array cells — gets a scalar. */
  def t45VocabApply(s: SparkSession, dir: String): DataFrame = {
    val w = Window.orderBy(col("freq").desc, col("token"))
    val vocab = t44Top(s, dir)
      .withColumn("tok_id", row_number().over(w))
      .select("token", "tok_id")
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"),
        posexplode(tokens(col("text"))).as(Seq("pos", "token")))
    toks.join(broadcast(vocab), Seq("token"), "left")
      .withColumn("tok_id", coalesce(col("tok_id"), lit(0)))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("tok_id") === 0, 1L).otherwise(0L)).as("n_oov"),
        expr("""array_join(transform(array_sort(collect_list(struct(pos, tok_id))),
               |  s -> cast(s.tok_id as string)), ',')""".stripMargin).as("ids_csv"))
      .withColumn("oov_ppm", expr("n_oov * 1000000 div n_tokens"))
      .select("doc_id", "n_tokens", "n_oov", "oov_ppm", "ids_csv")
      .orderBy("doc_id")
  }

  /** DuckDB oracle for t45: t44's vocab CTE chain (same literals and
    * tie-breaks), LEFT-joined token stream, position-ordered
    * string_agg, integer-div ppm. */
  val t45Sql: String =
    s"""WITH toks0 AS (
       | SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
       |freqs AS (SELECT token, count(*) AS freq FROM toks0 GROUP BY token),
       |top AS (
       | SELECT token, row_number() OVER (ORDER BY freq DESC, token) AS tok_id
       | FROM freqs ORDER BY freq DESC, token LIMIT $t44TopV),
       |toks AS (
       | SELECT doc_id, i AS pos, t[i] AS token
       | FROM (SELECT doc_id, string_split(text, ' ') AS t,
       |        unnest(generate_series(1, len(string_split(text, ' ')))) AS i
       |       FROM documents)),
       |mapped AS (
       | SELECT toks.doc_id, toks.pos,
       |  CAST(coalesce(top.tok_id, 0) AS INT) AS tok_id
       | FROM toks LEFT JOIN top ON toks.token = top.token)
       |SELECT doc_id,
       | count(*) AS n_tokens,
       | CAST(sum(CASE WHEN tok_id = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       | CAST(sum(CASE WHEN tok_id = 0 THEN 1 ELSE 0 END) * 1000000
       |   // count(*) AS BIGINT) AS oov_ppm,
       | string_agg(CAST(tok_id AS VARCHAR), ',' ORDER BY pos) AS ids_csv
       |FROM mapped GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** t46: the Gopher document-quality rules (Rae et al. 2021,
    * Appendix A1.1 — the rule set MassiveText ships and most modern
    * corpus pipelines inherit), as per-rule audit flags plus the
    * conjunctive keep verdict — unlike t30's weighted score, these
    * are hard pass/fail gates:
    *  - word count in [50, 100 000];
    *  - mean word length in [3, 10] — restated as the exact integer
    *    comparison 3·n ≤ word_chars ≤ 10·n (word_chars = text length
    *    minus separators on this single-space corpus), so no
    *    float division crosses engines;
    *  - ≥ 80% of words contain an alphabetic character, restated
    *    5·alpha_words ≥ 4·n;
    *  - ≥ 2 distinct required stopwords. Gopher's English list
    *    (the/be/to/of/and/that/have/with) barely intersects this
    *    synthetic vocabulary, which would make the rule a constant —
    *    so the required list is the SAME shared English stopword
    *    table t29/t30 score against (the [[qualityScoreBp]] sharing
    *    stance), keeping the gate non-vacuous and the engine's
    *    stopword notion single-sourced. Gopher's symbol-ratio and
    *    line-shape rules need symbols/newlines this corpus has
    *    neither of; their engine shape (per-token regex counts) is
    *    already pinned by t30/t43.
    *
    * Everything is integer arithmetic on scan-stage projections —
    * zero shuffles, byte-exact cross-engine. */
  def t46GopherRules(s: SparkSession, dir: String): DataFrame = {
    val toks = tokens(col("text"))
    val n = size(toks)
    val wordChars = length(col("text")) - (n - 1)
    val alphaWords = size(filter(toks, t => t.rlike("[a-zA-Z]")))
    val reqStops = size(filter(
      array(stop("en").map(lit): _*), w => array_contains(toks, w)))
    Tables.documents(s, dir)
      .select(col("doc_id"),
        n.as("n_words"), wordChars.as("word_chars"),
        alphaWords.as("alpha_words"), reqStops.as("req_stops"))
      .withColumn("rule_wc", col("n_words").between(50, 100000))
      .withColumn("rule_mwl",
        col("word_chars") >= col("n_words") * 3 &&
          col("word_chars") <= col("n_words") * 10)
      .withColumn("rule_alpha", col("alpha_words") * 5 >= col("n_words") * 4)
      .withColumn("rule_stop", col("req_stops") >= 2)
      .withColumn("keep",
        col("rule_wc") && col("rule_mwl") && col("rule_alpha") && col("rule_stop"))
      .orderBy("doc_id")
  }

  val t46Sql: String =
    s"""SELECT doc_id, n_words, word_chars, alpha_words, req_stops,
       | (n_words BETWEEN 50 AND 100000) AS rule_wc,
       | (word_chars >= n_words * 3 AND word_chars <= n_words * 10) AS rule_mwl,
       | (alpha_words * 5 >= n_words * 4) AS rule_alpha,
       | (req_stops >= 2) AS rule_stop,
       | ((n_words BETWEEN 50 AND 100000)
       |  AND word_chars >= n_words * 3 AND word_chars <= n_words * 10
       |  AND alpha_words * 5 >= n_words * 4
       |  AND req_stops >= 2) AS keep
       |FROM (
       | SELECT doc_id,
       |  CAST(len(string_split(text,' ')) AS INT) AS n_words,
       |  CAST(length(text) - (len(string_split(text,' ')) - 1) AS INT) AS word_chars,
       |  CAST(len(list_filter(string_split(text,' '),
       |    t -> regexp_matches(t, '[a-zA-Z]'))) AS INT) AS alpha_words,
       |  CAST(len(list_filter(${stopList("en")},
       |    w -> list_contains(string_split(text,' '), w))) AS INT) AS req_stops
       | FROM documents)
       |ORDER BY doc_id""".stripMargin

  /** t47: content-defined chunking (Rabin/CDC — the chunker of
    * dedup-aware storage and of shift-resistant corpus chunking;
    * FastCDC's core loop without the min/max clamps): a chunk
    * boundary falls AFTER token position e whenever the 4-token
    * window ending at e hashes to 0 mod 16 (mean chunk ≈ 16 tokens).
    * Because boundaries depend only on window CONTENT, inserting or
    * deleting a token re-synchronizes at the next content boundary
    * and every later chunk survives byte-identical — the property
    * t41's fixed-stride windows lack (one inserted token shifts
    * every downstream t41 chunk). TextOpsSpec pins exactly that:
    * prepend a token, all chunks after the first are unchanged.
    *
    * The window key is the SHARED [[graft.dedup.Dedup.gramKeys]]
    * 60-bit md5 expression (the d29/d30/d31/s39 stance) so chunking
    * can never key windows differently than the gram ops — and so
    * the whole operator replays in DuckDB (RollingHash64, the O(1)
    * production fingerprint, has no SQL twin — same split as
    * d23/d23b). Everything is a scan-stage projection + in-row
    * explode: ZERO shuffles; each chunk carries its md5 content key,
    * ready for d22-style hash-groupBy dedup. */
  def t47CdcChunk(s: SparkSession, dir: String): DataFrame = {
    val w = 4; val div = 16
    // spread before the chunking chain (the t35 rationale): window
    // keys, boundary transforms, posexplode and per-chunk md5 otherwise
    // all run in the 1-split scan's single task. Rows unchanged.
    Tables.documents(s, dir)
      .select(col("doc_id"), col("text"))
      .transform(Par.spread(_, col("doc_id")))
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .withColumn("gk", graft.dedup.Dedup.gramKeys(col("toks"), w))
      // boundary ends: window STARTING at s ends at s+w-1; gk is
      // empty (guarded) when the doc is shorter than one window
      .withColumn("ends", expr(
        s"""filter(transform(sequence(1, greatest(size(toks) - ${w - 1}, 1)),
           |  s -> IF(s <= size(gk) AND element_at(gk, s) % $div = 0, s + ${w - 1}, -1)),
           |  x -> x > 0)""".stripMargin))
      .withColumn("cuts", expr("concat(array(0), ends, array(size(toks)))"))
      // adjacent-equal cuts (a boundary at the doc end) yield empty
      // chunks — dropped by width, keeping cut order untouched
      .select(col("doc_id"),
        posexplode(expr(
          """filter(transform(sequence(1, size(cuts) - 1),
            |  j -> struct(
            |    element_at(cuts, j + 1) - element_at(cuts, j) AS width,
            |    concat_ws(' ', slice(toks, element_at(cuts, j) + 1,
            |      element_at(cuts, j + 1) - element_at(cuts, j))) AS txt)),
            |  x -> x.width > 0)""".stripMargin)).as(Seq("i0", "ch")))
      .select(col("doc_id"), (col("i0") + 1).as("chunk_i"),
        col("ch.width").as("n_tokens"),
        md5(col("ch.txt").cast("binary")).as("chunk_key"),
        col("ch.txt").as("chunk_text"))
      .orderBy("doc_id", "chunk_i")
  }

  /** DuckDB oracle for t47: same shared 60-bit window key (d30Sql's
    * spelling), same end positions, same cut list with empty chunks
    * dropped by width, row_number in cut order. */
  val t47Sql: String =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |ends AS (
      | SELECT doc_id, t, len(t) AS n,
      |  list_filter(list_transform(generate_series(1, greatest(len(t) - 3, 0)),
      |    s -> CASE WHEN CAST(('0x' || substr(md5(array_to_string(t[s:s+3], ' ')), 1, 15)) AS BIGINT) % 16 = 0
      |              THEN s + 3 ELSE -1 END), x -> x > 0) AS e
      | FROM toks),
      |cuts AS (SELECT doc_id, t, ([0] || e || [n]) AS c FROM ends),
      |chunks AS (
      | SELECT doc_id, j, c[j+1] - c[j] AS width,
      |  array_to_string(t[c[j]+1 : c[j+1]], ' ') AS chunk_text
      | FROM (SELECT doc_id, t, c, unnest(generate_series(1, len(c) - 1)) AS j
      |       FROM cuts)
      | WHERE c[j+1] > c[j])
      |SELECT doc_id,
      | CAST(row_number() OVER (PARTITION BY doc_id ORDER BY j) AS INT) AS chunk_i,
      | CAST(width AS INT) AS n_tokens,
      | md5(chunk_text) AS chunk_key, chunk_text
      |FROM chunks ORDER BY doc_id, chunk_i""".stripMargin

  /** t48: mixture resampling — the data-mixing step that turns a
    * crawled language distribution into a TARGET training mixture
    * (The Pile's per-source epochs, Gopher/MassiveText's source
    * weights, the lever DoReMi tunes): given target shares in ppm
    * and a total output budget of half the corpus, each language's
    * keep probability is p_l = target_l·out_total / (10⁶·cnt_l),
    * capped at 1, and docs are kept by t36's SHARED deterministic
    * 28-bit hash draw (the sampleDraw stance — t48 derives the
    * RATES t36 hard-codes). Everything is exact integer arithmetic:
    * thresholds are floor-divisions of DECIMAL(38,0) products —
    * 2²⁸·ppm·(total/2) passes 2⁶³ at only ~1.7·10⁵ docs, so the
    * numerator runs in
    * decimal on the Spark side and HUGEINT on the DuckDB side
    * (where sum(BIGINT) already promotes); identical left-assoc
    * order, so the gate pins rate derivation AND selection
    * byte-exactly at any corpus size that fits 38 digits.
    *
    * Fully declarative — per-language counts and the corpus total
    * are aggregates joined back in-plan (broadcast: 5 rows), never
    * a driver loop; the draw filter runs in the scan stage. */
  private val t48TargetPpm: Map[String, Long] = Map(
    "en" -> 400000L, "de" -> 150000L, "es" -> 150000L,
    "fr" -> 150000L, "zh" -> 150000L)

  private def t48Target(lang: Column): Column =
    t48TargetPpm.foldLeft(lit(0L)) { case (acc, (l, ppm)) =>
      when(lang === l, ppm).otherwise(acc)
    }

  def t48MixtureResample(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val counts = docs.groupBy("lang").agg(count(lit(1)).as("cnt"))
    // `div` (integer floor division), never `/`: the numerator
    // product exceeds 2^53, where double division loses exactness —
    // and exceeds 2^63 at ~172k docs, so it runs in decimal(38,0)
    val withTarget = counts
      .crossJoin(counts.agg(sum(col("cnt")).as("total")))
      .withColumn("target_ppm", t48Target(col("lang")))
      .select(col("lang"),
        least(lit(1L << 28),
          expr("""(CAST(268435456 AS DECIMAL(38,0)) * target_ppm * (total div 2))
                 | div (1000000L * cnt)""".stripMargin))
          .as("keep_threshold"))
    docs
      .withColumn("sample_key", sampleDraw)
      .join(broadcast(withTarget), Seq("lang"))
      .filter(col("sample_key") < col("keep_threshold"))
      .select("doc_id", "lang", "source", "sample_key", "keep_threshold")
      .orderBy("doc_id")
  }

  val t48Sql: String = {
    val target = t48TargetPpm.toSeq.sortBy(_._1).map { case (l, p) =>
      s"WHEN '$l' THEN $p" }.mkString("CASE lang ", " ", " ELSE 0 END")
    s"""WITH cnts AS (SELECT lang, count(*) AS cnt FROM documents GROUP BY lang),
       |thr AS (
       | SELECT lang, least(CAST(268435456 AS BIGINT),
       |   (CAST(268435456 AS BIGINT) * ($target) * ((SELECT sum(cnt) FROM cnts) // 2))
       |     // (CAST(1000000 AS BIGINT) * cnt)) AS keep_threshold
       | FROM cnts)
       |SELECT doc_id, lang, source, sample_key, CAST(keep_threshold AS BIGINT) AS keep_threshold
       |FROM (
       | SELECT d.doc_id, d.lang, d.source,
       |  CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 7)) AS BIGINT) AS sample_key,
       |  thr.keep_threshold
       | FROM documents d JOIN thr ON d.lang = thr.lang)
       |WHERE sample_key < keep_threshold
       |ORDER BY doc_id""".stripMargin
  }

  /** t49 feature-hash dimensionality. */
  private val t49D = 512

  /** Literal weight vector for the t49 linear scorer, emitted as the
    * SAME %.17g decimal strings into both dialects so both engines
    * parse bit-identical doubles (the a32 codebook stance: TRAINED
    * weights move accuracy, never the featurize/score semantics this
    * entry pins — and literals keep the whole pipeline
    * DuckDB-replayable where a trained model never is). */
  private[graft] val t49WeightStrs: Seq[String] = {
    val rng = new scala.util.Random(24601)
    Seq.fill(t49D)(rng.nextGaussian() * 0.5)
      .map(v => String.format(java.util.Locale.ROOT, "%.17g", Double.box(v)))
  }

  /** t49: learned quality classifier — the fastText-style linear
    * filter every published pretrain pipeline runs after the
    * heuristics (CCNet's LM filter, LLaMA's "quality classifier",
    * the model-based complement of t30's ratio heuristics and t46's
    * hard Gopher gates): hashed bag-of-features (unigrams + the
    * SHARED [[bigrams]] definition), one literal weight per bucket,
    * mean-pooled dot product = logit, keep at logit ≥ 0 (= p ≥ 0.5
    * without evaluating the sigmoid — exp() is libm-dependent and
    * would break cross-engine byte equality; the DECISION and the
    * logit are exactly portable, the probability is monotone in
    * them).
    *
    * Feature hash is the sampleDraw md5 idiom per token (md5 → 7 hex
    * digits → mod D), identical in both dialects; summation is a
    * sequential left fold in document order on both sides (Spark
    *  aggregate HOF = DuckDB list_sum — the a30/a31 precedent), so
    * the logit matches bit-for-bit. Scan-stage only: zero shuffles,
    * the weight vector rides the plan as a literal (at 100 TB: a
    * ~4 KB broadcast, the same shape as shipping a real fastText
    * model to executors — never a join, never a driver loop). */
  def t49QualityClassifier(s: SparkSession, dir: String): DataFrame = {
    val w = t49WeightStrs.map(_ + "d").mkString("array(", ",", ")")
    def bucketSum(arrExpr: String): String =
      s"""aggregate(transform($arrExpr, t ->
         |  element_at($w,
         |    cast(cast(conv(substring(md5(t), 1, 7), 16, 10) as bigint)
         |      % $t49D as int) + 1)),
         | 0.0d, (a, v) -> a + v)""".stripMargin
    // spread before the feature hashing (the t35 rationale): one md5
    // per token AND per bigram — the whole classifier — otherwise runs
    // in the 1-split scan's single task. Rows unchanged.
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("text"))
      .transform(Par.spread(_, col("doc_id")))
      .withColumn("toks", tokens(col("text")))
      .withColumn("grams", bigrams(col("toks")))
      .withColumn("n_feats",
        (size(col("toks")) + size(col("grams"))).cast("int"))
      .withColumn("logit",
        (expr(bucketSum("toks")) + expr(bucketSum("grams"))) / col("n_feats"))
      .select(col("doc_id"), col("lang"), col("n_feats"),
        round(col("logit"), 4).as("logit"),
        (col("logit") >= 0.0).as("keep"))
      .orderBy("doc_id")
  }

  val t49Sql: String = {
    val w = t49WeightStrs.mkString("[", ",", "]")
    def bucketSum(arrExpr: String): String =
      s"""coalesce(list_sum(list_transform($arrExpr, t ->
         |  ($w)[CAST(CAST(('0x' || substr(md5(t), 1, 7)) AS BIGINT)
         |        % $t49D AS INT) + 1])), 0.0)""".stripMargin
    s"""WITH d AS (
       | SELECT doc_id, lang, string_split(text, ' ') AS a FROM documents),
       |f AS (
       | SELECT doc_id, lang, a,
       |  list_transform(generate_series(1, len(a) - 1),
       |    i -> a[i] || ' ' || a[i+1]) AS g
       | FROM d),
       |sc AS (
       | SELECT doc_id, lang,
       |  CAST(len(a) + len(g) AS INT) AS n_feats,
       |  (${bucketSum("a")} + ${bucketSum("g")})
       |    / (len(a) + len(g)) AS logit_raw
       | FROM f)
       |SELECT doc_id, lang, n_feats, ROUND(logit_raw, 4) AS logit,
       | logit_raw >= 0.0 AS keep
       |FROM sc ORDER BY doc_id""".stripMargin
  }

  /** t50 shard count. */
  private[graft] val t50Shards = 8L

  /** t50: epoch shard shuffle — the deterministic global training-
    * order shuffle every pretraining run performs before writing
    * shards: each document gets a shard and an exact position within
    * it, both pure functions of doc_id (the t36 [[sampleDraw]] md5
    * draw — ONE shared definition), so the epoch order is fully
    * replayable with no RNG state, resumable mid-epoch, and stable
    * under recompute — the property a 100 TB shard-writing job needs
    * when it retries.
    *
    * shard = draw mod S routes uniformly regardless of doc_id
    * clustering; position is the rank of draw within the shard — a
    * uniform random permutation of the shard's members. The rank is
    * the shared [[graft.functions.Ranks.bucketedRank]] two-level
    * form (the d36 stance): never one corpus window per shard, so
    * the job scales past S reducers. At 100 TB the output is written
    * `partitionBy(shard)` sorted by pos — exactly the shard files a
    * trainer streams. Oracle: the plain one-window form in DuckDB
    * (the cross-engine two-level == single-window proof, again). */
  def t50EpochShuffle(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(s, dir)
      .select(col("doc_id"))
      .withColumn("draw", sampleDraw)
      .withColumn("shard", (col("draw") % t50Shards).cast("int"))
    graft.functions.Ranks
      .bucketedRank(base, col("shard"), col("draw"), col("doc_id"),
        bucketShift = 23, rankName = "rank_l")
      .withColumn("pos", col("rank_l").cast("int"))
      .select("doc_id", "shard", "draw", "pos")
      .orderBy("doc_id")
  }

  val t50Sql: String =
    s"""SELECT doc_id, shard, draw,
       | CAST(row_number() OVER (PARTITION BY shard ORDER BY draw, doc_id) AS INT) AS pos
       |FROM (
       | SELECT doc_id, draw, CAST(draw % $t50Shards AS INT) AS shard
       | FROM (
       |  SELECT doc_id,
       |   CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7)) AS BIGINT) AS draw
       |  FROM documents))
       |ORDER BY doc_id""".stripMargin

  /** t51 merge-round count. */
  private[graft] val t51Rounds = 6

  /** Greedy left-to-right application of ONE BPE merge (left, right)
    * to a token array, as a left fold: append each token unless the
    * accumulator's last element equals `left` and the incoming token
    * equals `right`, in which case replace the last element with the
    * space-joined merge. The fold IS the textbook greedy scan — a
    * merged cell can never equal `left` again (it is strictly
    * longer), so "position consumed by the previous merge" is
    * encoded by the accumulator state itself, which makes self-pair
    * runs come out right (aaa → [aa, a], floor-half merges). Merged
    * tokens stay space-joined strings: raw tokens contain no
    * spaces (they come from a space split), so merge boundaries stay
    * unambiguous across rounds. Nested CASE keeps the ANSI
    * element_at(acc, -1) off the empty-accumulator path. */
  private def t51ApplyMerge(t: Column, left: String, right: String): Column =
    aggregate(t, lit(Array.empty[String]), (acc, x) =>
      when(size(acc) === 0, array(x))
        .when(element_at(acc, -1) === lit(left) && x === lit(right),
          concat(slice(acc, lit(1), size(acc) - 1),
            array(concat_ws(" ", element_at(acc, -1), x))))
        .otherwise(concat(acc, array(x))))

  /** Aligned-bigram counts of the current token stream: the
    * candidate-pair statistics a BPE round ranks. Map-side partial
    * counts; the exchange carries one row per DISTINCT pair. */
  private def t51PairCounts(toks: DataFrame): DataFrame =
    toks.filter(size(col("t")) >= 2)
      .select(explode(expr(
        """transform(sequence(1, size(t) - 1),
          |  i -> struct(element_at(t, i) AS l, element_at(t, i + 1) AS r))"""
          .stripMargin)).as("p"))
      .groupBy(col("p.l").as("left_tok"), col("p.r").as("right_tok"))
      .agg(count(lit(1)).as("pair_count"))

  /** t51: BPE merge induction — the tokenizer-TRAINING loop itself
    * (t44 induces the unigram vocabulary; this learns the merge
    * table): `t51Rounds` rounds of count-all-adjacent-pairs →
    * argmax (count desc, then lexicographic — deterministic in both
    * engines' binary string order) → greedy merge application
    * ([[t51ApplyMerge]]) over the whole corpus. Output is the
    * learned artifact: (round, left_tok, right_tok, pair_count).
    *
    * Each round's winning pair is ONE bounded driver row (the
    * q30/a36 watermark stance — it IS the learned parameter, which
    * every distributed BPE trainer centralizes per round) inlined
    * into the next round's fold as literals, so the per-round plan
    * stays a scan-stage projection plus one map-side-combined
    * count; the round's token stream is persisted because two
    * consumers (this round's argmax, next round's fold) share it.
    * Scale shape (100 TB): K linear corpus passes — exactly what
    * sequential merge learning costs; production amortizes by
    * taking the top-N DISJOINT pairs per pass (noted, not done:
    * the oracle pins the strictly-sequential semantics). All
    * round caches are dropped before returning — the output is the
    * K-row merge table, not corpus data. */
  /** The K-round training loop: learned merge table + the final
    * token stream (the corpus with all K merges applied) — ONE loop
    * shared by t51 (which ships the merges) and t52 (which ships
    * per-doc tokenization stats), so training and application can
    * never disagree on a round. Intermediate round caches are
    * dropped; `keepLast` retains the final round's cache for a
    * caller that will scan the applied stream. */
  private def t51Train(s: SparkSession, dir: String, keepLast: Boolean)
      : (Seq[(Int, String, String, Long)], DataFrame) = {
    // spread ONCE before the first merge round (the t35 rationale):
    // the gate corpus is one parquet split and each round's persist
    // PRESERVES its parent's partitioning, so every round's merge-apply
    // + pair-count map side otherwise ran in ONE task for the whole
    // K-round loop. The training stays the declared SEQUENTIAL driver
    // loop (K argmax rounds); this spreads each round's per-row work,
    // it does not reorder or batch the merges. Rows unchanged.
    var toks = Tables.documents(s, dir)
      .select(col("doc_id"), col("text"))
      .transform(Par.spread(_, col("doc_id")))
      .select(col("doc_id"), split(col("text"), " ").as("t"))
    val cached = Seq.newBuilder[DataFrame]
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    for (round <- 0 until t51Rounds) {
      val cur = toks.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      cached += cur
      val best = t51PairCounts(cur)
        .orderBy(col("pair_count").desc, col("left_tok"), col("right_tok"))
        .limit(1).collect()(0)
      val (l, r) = (best.getString(0), best.getString(1))
      merges += ((round, l, r, best.getLong(2)))
      toks = cur.select(col("doc_id"), t51ApplyMerge(col("t"), l, r).as("t"))
    }
    if (keepLast) toks = toks.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    cached.result().foreach(_.unpersist(false))
    (merges.result(), toks)
  }

  def t51BpeMerges(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t51Train(s, dir, keepLast = false)._1
      .toDF("round", "left_tok", "right_tok", "pair_count")
      .orderBy("round")
  }

  /** t57 batch size (max merges learned per corpus pass) and scan
    * horizon (ranked candidates examined per pass — ONE bounded
    * driver action of ≤ scanM+1 rows, the t51 argmax stance widened
    * from 1 row to a constant). */
  private[graft] val t57BatchN = 8
  private[graft] val t57ScanM = 64

  /** t57's per-pass selection rule, exposed for the spec: from the
    * ranked (count desc, left, right) candidate list, accept the
    * longest CONTIGUOUS prefix that is pairwise COUNT-INVARIANT,
    * then truncate it to strict dominance over everything outside.
    *
    * Count-invariance: applying merge A=(a,b) destroys only
    * adjacencies overlapping a merged site — pairs (x,a) (right
    * element = A's left) and (b,y) (left element = A's right) — so
    * candidate p is invariant under accepted s iff p.left ≠ s.right
    * AND p.right ≠ s.left (sharing a LEFT token or a RIGHT token is
    * harmless). The scan stops at the first conflicting candidate.
    *
    * Strict dominance: every pair a sequential trainer could prefer
    * mid-batch is bounded by cStop = the count of the first
    * non-accepted candidate — conflicting pairs all rank at or
    * after the stop point, and a NEW pair (x, "l r") / ("l r", y)
    * created by an accepted merge occupies sites that carried a
    * pre-pass adjacency (x,l) / (r,y), both conflicting, so its
    * count is ≤ a conflicting pair's pre-count ≤ cStop. Keeping
    * only accepted candidates with count STRICTLY > cStop therefore
    * makes the j-th accepted merge the exact argmax a sequential
    * round j would compute (ties inside the prefix resolve in the
    * same (count desc, lex) order both trainers use). If the whole
    * candidate list was scanned with no conflict there is nothing
    * outside to dominate and the prefix stands; if truncation
    * empties the batch, fall back to the top-1 candidate, which is
    * the sequential argmax by definition — the pass degrades to
    * sequential, never to wrong. */
  private[graft] def t57SelectBatch(
      ranked: Seq[(String, String, Long)], exhaustive: Boolean,
      maxN: Int): Seq[(String, String, Long)] = {
    val acc = scala.collection.mutable.ListBuffer.empty[(String, String, Long)]
    var cStop = -1L
    var open = true
    ranked.foreach { case cand @ (l, r, c) =>
      if (open && acc.size < maxN &&
          !acc.exists(s => l == s._2 || r == s._1)) acc += cand
      else if (open) { cStop = c; open = false }
    }
    val kept =
      if (open && exhaustive) acc.toSeq // nothing outside the prefix
      else {
        // a conflict-free scan that did NOT exhaust the pair space
        // must assume a conflicting pair just past the horizon, at
        // most as frequent as the last row scanned
        val bound = if (open) ranked.last._3 else cStop
        acc.toSeq.takeWhile(_._3 > bound)
      }
    if (kept.isEmpty) ranked.take(1) else kept
  }

  /** The batched training loop: [[t51Train]]'s amortization done —
    * up to [[t57BatchN]] merges learned per corpus pass instead of
    * one, K/N-ish passes for K merges (a real 32k-merge vocab stops
    * costing 32k corpus scans). Each pass counts pairs ONCE, selects
    * a sound batch ([[t57SelectBatch]]), and applies the whole batch
    * as CHAINED greedy folds in one projection — one scan, and
    * chained [[t51ApplyMerge]] folds are literally sequential
    * application, so only SELECTION needed a soundness argument.
    * Returns (round, pass, left, right, count) — byte-identical to
    * [[t51Train]]'s merge table by the dominance rule, with the
    * pass structure exposed for the spec. */
  private[graft] def t57TrainBatched(s: SparkSession, dir: String,
      totalMerges: Int = t51Rounds): Seq[(Int, Int, String, String, Long)] = {
    var toks = Tables.documents(s, dir)
      .select(col("doc_id"), split(col("text"), " ").as("t"))
    val merges = Seq.newBuilder[(Int, Int, String, String, Long)]
    val cached = Seq.newBuilder[DataFrame]
    var done = 0
    var pass = 0
    while (done < totalMerges) {
      val cur = toks.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      cached += cur
      val collected = t51PairCounts(cur)
        .orderBy(col("pair_count").desc, col("left_tok"), col("right_tok"))
        .limit(t57ScanM + 1).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
      require(collected.nonEmpty, "no adjacent pairs left to merge")
      val exhaustive = collected.length <= t57ScanM
      val batch = t57SelectBatch(collected.take(t57ScanM), exhaustive,
        math.min(t57BatchN, totalMerges - done))
      batch.foreach { case (l, r, c) =>
        merges += ((done, pass, l, r, c)); done += 1
      }
      val folded = batch.foldLeft(col("t")) {
        case (t, (l, r, _)) => t51ApplyMerge(t, l, r)
      }
      toks = cur.select(col("doc_id"), folded.as("t"))
      pass += 1
    }
    cached.result().foreach(_.unpersist(false))
    merges.result()
  }

  /** t57: batched BPE merge induction — t51's learned artifact at
    * t51's semantics, minus the K-sequential-passes cost: the merge
    * table is BYTE-IDENTICAL to t51's (same rounds, same counts —
    * the oracle IS t51's SQL, the d36/t50 two-level == one-window
    * stance applied to a training loop), but learned in ~K/N corpus
    * passes via the dominance-sound per-pass batching of
    * [[t57SelectBatch]]. Scale (100 TB): each pass is one map-side-
    * combined pair count (one exchange of distinct-pair rows) + one
    * scan-stage chain of ≤ N greedy folds; driver traffic is ≤
    * scanM+1 rows per pass. A corpus where the rule cannot batch
    * degrades to t51's sequential passes — never to a different
    * table. */
  def t57BpeBatched(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t57TrainBatched(s, dir)
      .map { case (round, _, l, r, c) => (round, l, r, c) }
      .toDF("round", "left_tok", "right_tok", "pair_count")
      .orderBy("round")
  }

  /** t52: BPE application — tokenizer INFERENCE over the t51-trained
    * merges: the corpus re-tokenized through the same K greedy
    * folds (shared [[t51Train]] loop — train and apply are one code
    * path), shipped as per-doc stats: whitespace token count,
    * post-merge token count, merges absorbed, and the post-merge
    * count in ppm of the original (exact integer arithmetic — no
    * cross-engine float ratio). This is the shape a tokenizer-aware
    * pipeline actually materializes per document (budgeting,
    * packing, and billing all key on post-BPE counts, not
    * whitespace counts). Scale: the stats pass is one scan-stage
    * projection over the final fold — the K passes are t51's cost,
    * shared, and the last round's cache feeds both the merge table
    * and this scan. Oracle: the SAME K-round CTE chain as t51Sql
    * ([[t51RoundsCte]] — one SQL builder), aggregated per doc. */
  def t52BpeApply(s: SparkSession, dir: String): DataFrame = {
    val (_, toks) = t51Train(s, dir, keepLast = true)
    toks
      .select(col("doc_id"),
        expr("aggregate(t, 0, (n, x) -> n + size(split(x, ' ')))")
          .as("n_tokens"),
        size(col("t")).as("n_bpe_tokens"))
      .withColumn("merged_away", col("n_tokens") - col("n_bpe_tokens"))
      .withColumn("bpe_ppm", expr(
        "CAST(n_bpe_tokens AS BIGINT) * 1000000 div CAST(greatest(n_tokens, 1) AS BIGINT)"))
      .orderBy("doc_id")
  }

  /** DuckDB oracle for t51: the identical K-round chain — same
    * bigram counts, same (count desc, lexicographic) argmax, and
    * the same greedy fold via list_reduce with a list accumulator
    * (list_reduce seeds from the first element; the Spark fold
    * seeds from empty and appends it — identical sequences). */
  /** The K-round DuckDB CTE chain (toks_0 … toks_K with per-round
    * argmax CTEs) — one SQL builder shared by t51's and t52's
    * oracles, mirroring the shared [[t51Train]] loop. */
  private def t51RoundsCte: String = {
    val rounds = (0 until t51Rounds).map { k =>
      s"""pc_$k AS (
         | SELECT t[i] AS left_tok, t[i+1] AS right_tok, count(*) AS pair_count
         | FROM (SELECT t, unnest(generate_series(1, len(t) - 1)) AS i
         |       FROM toks_$k WHERE len(t) >= 2)
         | GROUP BY 1, 2),
         |best_$k AS (
         | SELECT left_tok, right_tok, pair_count FROM pc_$k
         | ORDER BY pair_count DESC, left_tok, right_tok LIMIT 1),
         |toks_${k + 1} AS (
         | SELECT doc_id,
         |  CASE WHEN len(t) = 0 THEN CAST([] AS VARCHAR[]) ELSE
         |   list_reduce(list_transform(t, x -> [x]),
         |     (acc, x) -> CASE WHEN acc[-1] = bb.left_tok AND x[1] = bb.right_tok
         |                   THEN acc[1:len(acc)-1] || [acc[-1] || ' ' || x[1]]
         |                   ELSE acc || x END)
         |  END AS t
         | FROM toks_$k, best_$k bb)""".stripMargin
    }.mkString(",\n")
    s"""toks_0 AS (
       | SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |$rounds""".stripMargin
  }

  val t51Sql: String = {
    val sel = (0 until t51Rounds).map(k =>
      s"SELECT $k AS round, left_tok, right_tok, pair_count FROM best_$k")
      .mkString("\nUNION ALL ")
    s"""WITH $t51RoundsCte
       |$sel
       |ORDER BY round""".stripMargin
  }

  /** DuckDB oracle for t52: the shared K-round chain, then per-doc
    * stats over toks_K. Space-joined merge cells split back to the
    * original whitespace count, so n_tokens needs no second corpus
    * scan in either engine; integer ppm, no cross-engine floats. */
  val t52Sql: String =
    s"""WITH $t51RoundsCte
       |SELECT doc_id,
       | CAST(coalesce(list_sum(list_transform(t, x -> len(string_split(x, ' ')))), 0) AS INT) AS n_tokens,
       | CAST(len(t) AS INT) AS n_bpe_tokens,
       | CAST(coalesce(list_sum(list_transform(t, x -> len(string_split(x, ' ')))), 0) - len(t) AS INT) AS merged_away,
       | CAST(CAST(len(t) AS BIGINT) * 1000000
       |   // greatest(CAST(coalesce(list_sum(list_transform(t, x -> len(string_split(x, ' ')))), 0) AS BIGINT), 1) AS BIGINT) AS bpe_ppm
       |FROM toks_$t51Rounds
       |ORDER BY doc_id""".stripMargin

  /** t53: exact-quota stratified split — the train/val/test
    * partition every corpus release ships. t36/t48 are RATE-based
    * (Bernoulli by hash draw — cardinality only in expectation);
    * a release needs EXACT counts: per source stratum of size n,
    * train gets floor(8n/10), val the next floor(n/10), test the
    * rest — disjoint, exhaustive, and deterministic integer
    * arithmetic in both engines. Membership is by rank of the
    * SHARED [[sampleDraw]] within the stratum (content-independent,
    * replayable, stable under repartitioning), and the rank is the
    * shared [[graft.functions.Ranks.bucketedRank]] two-level form —
    * its fourth consumer (d36 cells, t50 shards, here strata), so
    * a skewed stratum never funnels the corpus through one reducer.
    * Stratum sizes are a 5-row aggregate broadcast back (the t48
    * scalar-attach stance). Oracle: the plain one-window form with
    * the same floor-division thresholds. */
  /** t53's assignment WITHOUT the presentation sort — shared with
    * t54, whose manifest must start from the identical membership
    * rule. Carries (doc_id, source, draw, rank, split). */
  private[graft] def t53Core(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(s, dir).select(col("doc_id"), col("source"))
      .withColumn("draw", sampleDraw)
    val counts = base.groupBy("source").agg(count(lit(1)).as("n"))
    graft.functions.Ranks
      .bucketedRank(base, col("source"), col("draw"), col("doc_id"),
        bucketShift = 23, rankName = "rank_l")
      .withColumn("rank", col("rank_l").cast("int")).drop("rank_l")
      .join(broadcast(counts), "source")
      .withColumn("split", expr(
        """CASE WHEN rank <= n * 8 div 10 THEN 'train'
          |     WHEN rank <= n * 8 div 10 + n div 10 THEN 'val'
          |     ELSE 'test' END""".stripMargin))
  }

  def t53StratifiedSplit(s: SparkSession, dir: String): DataFrame =
    t53Core(s, dir)
      .select("doc_id", "source", "rank", "split")
      .orderBy("doc_id")

  val t53Sql: String =
    """WITH d AS (
      | SELECT doc_id, source,
      |  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7)) AS BIGINT) AS draw
      | FROM documents),
      |r AS (
      | SELECT doc_id, source, draw,
      |  CAST(row_number() OVER (PARTITION BY source ORDER BY draw, doc_id) AS INT) AS rank,
      |  count(*) OVER (PARTITION BY source) AS n
      | FROM d)
      |SELECT doc_id, source, rank,
      | CASE WHEN rank <= n * 8 // 10 THEN 'train'
      |      WHEN rank <= n * 8 // 10 + n // 10 THEN 'val'
      |      ELSE 'test' END AS split
      |FROM r ORDER BY doc_id""".stripMargin

  /** t54: the release manifest — the capstone composition a corpus
    * release actually writes to disk: the TRAIN split (t53's shared
    * membership rule via [[t53Core]] — the manifest cannot disagree
    * with the split), shuffled into epoch shards by the SHARED
    * [[sampleDraw]] (t50's routing), each shard's documents packed
    * in draw order into [[packBudget]]-token context windows. Per
    * doc: shard, exact in-shard position, token count, the global
    * token offset where it starts, and the first/last context
    * window it spans — what a trainer needs to stream shards
    * without re-scanning.
    *
    * Scale: position is the shared
    * [[graft.functions.Ranks.bucketedRank]]; the token offset is
    * its new prefix-SUM sibling [[graft.functions.Ranks
    * .bucketedCumsum]] — same two-level (key, dbkt) decomposition,
    * so neither the rank nor the running total ever funnels a shard
    * through one reducer (the d36/t50/t53 stance, completed for
    * sums). Oracle: plain one-window row_number + running-sum forms
    * over the same membership CTEs, byte-exact. */
  def t54ReleaseManifest(s: SparkSession, dir: String): DataFrame = {
    val train = t53Core(s, dir).filter(col("split") === "train")
      .select("doc_id")
    val toks = Tables.documents(s, dir).select(col("doc_id"),
      size(split(col("text"), " ")).as("n_tokens"))
    val base = train.join(toks, "doc_id")
      .withColumn("draw", sampleDraw)
      .withColumn("shard", (col("draw") % t50Shards).cast("int"))
    val ranked = graft.functions.Ranks.bucketedRank(base,
      col("shard"), col("draw"), col("doc_id"), 23, "pos_l")
    graft.functions.Ranks.bucketedCumsum(ranked,
        col("shard"), col("draw"), col("doc_id"), col("n_tokens"), 23, "cum")
      .withColumn("pos", col("pos_l").cast("int"))
      .withColumn("start_tok", col("cum") - col("n_tokens"))
      .withColumn("win_first", expr(s"start_tok div $packBudget"))
      .withColumn("win_last", expr(s"(cum - 1) div $packBudget"))
      .select("doc_id", "shard", "pos", "n_tokens",
        "start_tok", "win_first", "win_last")
      .orderBy("doc_id")
  }

  val t54Sql: String =
    s"""WITH d AS (
       | SELECT doc_id, source,
       |  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7)) AS BIGINT) AS draw,
       |  CAST(len(string_split(text, ' ')) AS INT) AS n_tokens
       | FROM documents),
       |r AS (
       | SELECT doc_id, draw, n_tokens,
       |  row_number() OVER (PARTITION BY source ORDER BY draw, doc_id) AS rank,
       |  count(*) OVER (PARTITION BY source) AS n
       | FROM d),
       |t AS (
       | SELECT doc_id, draw, n_tokens, CAST(draw % $t50Shards AS INT) AS shard
       | FROM r WHERE rank <= n * 8 // 10),
       |c AS (
       | SELECT doc_id, shard, n_tokens,
       |  CAST(row_number() OVER (PARTITION BY shard ORDER BY draw, doc_id) AS INT) AS pos,
       |  CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY draw, doc_id) AS BIGINT) AS cum
       | FROM t)
       |SELECT doc_id, shard, pos, n_tokens,
       | cum - n_tokens AS start_tok,
       | (cum - n_tokens) // $packBudget AS win_first,
       | (cum - 1) // $packBudget AS win_last
       |FROM c ORDER BY doc_id""".stripMargin

  /** t55's curriculum phase thresholds on [[qualityScoreBp]]: phase 0
    * (highest quality, trained first) at ≥ hi, phase 1 at ≥ lo,
    * phase 2 the rest — literal cuts near the corpus quartiles so
    * all three phases are populated at every SF. */
  private[graft] val t55Hi = 6500
  private[graft] val t55Lo = 5500

  /** t55: curriculum ordering — the training-order contract
    * quality-staged runs need: documents are staged into phases by
    * the SHARED [[qualityScoreBp]] (phase 0 = highest quality first,
    * the easy-to-clean-first curriculum), and within a phase the
    * order is the SHARED [[sampleDraw]] shuffle — so curriculum
    * placement composes the same two definitions the quality gate
    * (t30/t40) and every sampler (t36/t50/t53) already pin, and can
    * never disagree with them. Output: per doc its phase, exact
    * 1-based position within the phase, and the exact global
    * training position (phase offsets + in-phase rank).
    *
    * Scale: the in-phase rank is [[graft.functions.Ranks
    * .bucketedRank]]'s fifth consumer (3 phases would otherwise
    * funnel the corpus through 3 reducers); phase offsets are a
    * 3-row aggregate broadcast back. Oracle: the plain one-window
    * form over the same arithmetic. */
  def t55Curriculum(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(s, dir)
      .select(col("doc_id"),
        qualityScoreBp(tokens(col("text"))).as("bp"),
        sampleDraw.as("draw"))
      .withColumn("phase",
        when(col("bp") >= t55Hi, 0).when(col("bp") >= t55Lo, 1).otherwise(2))
    val wOff = Window.orderBy("phase")
      .rowsBetween(Window.unboundedPreceding, -1)
    // 3-row aggregate: the offset window never sees the corpus
    val offsets = base.groupBy("phase").agg(count(lit(1)).as("n"))
      .withColumn("poff", coalesce(sum("n").over(wOff), lit(0L)))
      .select("phase", "poff")
    graft.functions.Ranks
      .bucketedRank(base, col("phase"), col("draw"), col("doc_id"), 23, "seq_l")
      .join(broadcast(offsets), "phase")
      .select(col("doc_id"), col("phase"),
        col("seq_l").cast("int").as("seq_in_phase"),
        (col("poff") + col("seq_l")).as("global_seq"))
      .orderBy("doc_id")
  }

  val t55Sql: String =
    s"""WITH q AS ($qualityBodySql),
       |p AS (
       | SELECT doc_id,
       |  CASE WHEN quality_score_bp >= $t55Hi THEN 0
       |       WHEN quality_score_bp >= $t55Lo THEN 1 ELSE 2 END AS phase,
       |  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7)) AS BIGINT) AS draw
       | FROM q),
       |r AS (
       | SELECT doc_id, phase, draw,
       |  CAST(row_number() OVER (PARTITION BY phase ORDER BY draw, doc_id) AS INT) AS seq_in_phase
       | FROM p),
       |o AS (
       | SELECT phase,
       |  CAST(coalesce(sum(n) OVER (ORDER BY phase
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS poff
       | FROM (SELECT phase, count(*) AS n FROM p GROUP BY phase))
       |SELECT r.doc_id, r.phase, r.seq_in_phase,
       | CAST(o.poff + r.seq_in_phase AS BIGINT) AS global_seq
       |FROM r JOIN o ON r.phase = o.phase ORDER BY r.doc_id""".stripMargin

  /** t56: the dataset card — the release-documentation rollup every
    * corpus ship writes: per (lang, source) stratum, document and
    * token counts, the exact-integer mean of the SHARED
    * [[qualityScoreBp]], distinct content fingerprints (the SHARED
    * [[fingerprint]] — d22's key), and how many docs sit in a
    * GLOBAL duplicate group (fingerprint shared by ≥ 2 docs
    * anywhere, not just within the stratum — a card must report
    * cross-stratum contamination). Every statistic composes an
    * already-pinned definition, so the card can never disagree with
    * the operators it summarizes.
    *
    * Scale: one fingerprint-keyed aggregate (d22's shuffle) marks
    * duplicate groups, one equi-join attaches the mark, and the
    * final rollup on the tiny (lang, source) key is map-side
    * combined. Sums cross as BIGINT; the mean is exact integer
    * `div` (no cross-engine float). */
  /** The per-doc projection t56's partials aggregate — every column
    * a SHARED definition (tokens, qualityScoreBp, fingerprint).
    * Takes an arbitrary documents-shaped DataFrame so the batch card
    * and s46's micro-batch slices project identically. */
  private[graft] def t56Project(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    docs.select(
      col("doc_id"), col("lang"), col("source"),
      size(toks).cast("long").as("ws_tokens"),
      qualityScoreBp(toks).cast("long").as("bp"),
      fingerprint(col("text")).as("fp"))
  }

  /** Partial-aggregate card state of a doc slice — keyed
    * (lang, source, fp) with count / token-sum / score-sum, each
    * algebraically mergeable (the q38Partials stance applied to the
    * card): fingerprint-level partials keep GLOBAL dup accounting
    * derivable after any slicing, which stratum-level partials
    * could not. */
  private[graft] def t56Partials(docs: DataFrame): DataFrame =
    docs.groupBy("lang", "source", "fp").agg(
      count(lit(1)).as("cnt"),
      sum("ws_tokens").as("tok_sum"),
      sum("bp").as("bp_sum"))

  /** Merge partial card states: re-aggregate their union (sums all
    * the way down, so merges chain across micro-batches). */
  private[graft] def t56MergeP(state: DataFrame, delta: DataFrame): DataFrame =
    state.unionByName(delta).groupBy("lang", "source", "fp").agg(
      sum("cnt").as("cnt"),
      sum("tok_sum").as("tok_sum"),
      sum("bp_sum").as("bp_sum"))

  /** Presentation: fold the fingerprint-level partials into the
    * per-stratum card. fp_n re-derives the GLOBAL fingerprint count
    * from the partials, so dup accounting stays cross-stratum after
    * any number of merges. */
  private[graft] def t56Present(partials: DataFrame): DataFrame = {
    val fpTotals = partials.groupBy("fp").agg(sum("cnt").as("fp_n"))
    partials.join(fpTotals, "fp")
      .groupBy("lang", "source")
      .agg(
        sum("cnt").as("n_docs"),
        sum("tok_sum").as("n_tokens"),
        expr("CAST(sum(bp_sum) div sum(cnt) AS BIGINT)").as("mean_quality_bp"),
        count(lit(1)).as("n_fingerprints"),
        sum(when(col("fp_n") >= 2, col("cnt")).otherwise(lit(0L))).as("dup_docs"))
      .orderBy("lang", "source")
  }

  def t56DatasetCard(s: SparkSession, dir: String): DataFrame =
    t56Present(t56Partials(t56Project(Tables.documents(s, dir))))

  val t56Sql: String =
    s"""WITH q AS ($qualityBodySql),
       |d AS (
       | SELECT doc_id, lang, source,
       |  CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
       |  md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
       | FROM documents),
       |f AS (SELECT fp, count(*) AS fp_n FROM d GROUP BY fp)
       |SELECT d.lang, d.source,
       | count(*) AS n_docs,
       | CAST(sum(d.ws_tokens) AS BIGINT) AS n_tokens,
       | CAST(sum(CAST(q.quality_score_bp AS BIGINT)) // count(*) AS BIGINT) AS mean_quality_bp,
       | CAST(count(DISTINCT d.fp) AS BIGINT) AS n_fingerprints,
       | CAST(sum(CASE WHEN f.fp_n >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS dup_docs
       |FROM d JOIN q ON d.doc_id = q.doc_id JOIN f ON d.fp = f.fp
       |GROUP BY d.lang, d.source ORDER BY d.lang, d.source""".stripMargin

  /** t59's query workload — literal (query_id, term) pairs, the
    * retrieval requests a relevance engine serves; terms span the
    * corpus vocabulary's frequency range so idf genuinely varies. */
  private[graft] val t59Queries: Seq[(Int, String)] = Seq(
    1 -> "spark", 1 -> "join",
    2 -> "window", 2 -> "merge", 2 -> "sort",
    3 -> "stream", 3 -> "batch",
    4 -> "customer", 4 -> "filter", 4 -> "big")

  /** t59's per-(term, doc) BM25 contribution in INTEGER e4 units —
    * ONE dialect-neutral string over columns (tf, df, dl, n, sumdl),
    * every literal CAST to DOUBLE and the rounding the explicit
    * float path (the q52b lesson: bare decimal literals parse as
    * DECIMAL in Spark, and round() mixes rounding methods — floor
    * (x·10⁴ + 0.5) over all-DOUBLE IEEE is bit-exact cross-engine).
    * Formula: Robertson/BM25+ idf ln((N − df + 0.5)/(df + 0.5) + 1)
    * (always > 0) times the k1 = 1.2, b = 0.75 saturation
    * tf·(k1+1)/(tf + k1·(1 − b + b·dl/avgdl)), with avgdl expanded
    * as dl·N/Σdl so the op sequence is identical in both engines.
    * Contributions are integerized PER TERM and summed as BIGINTs —
    * float summation order can differ between engines and between
    * Spark runs; integer sums cannot. */
  private[graft] val t59ContribPre: String =
    "(" +
      "ln((CAST(n - df AS DOUBLE) + CAST(0.5 AS DOUBLE)) / " +
      "(CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE)) + CAST(1.0 AS DOUBLE)) * " +
      "(CAST(tf AS DOUBLE) * CAST(2.2 AS DOUBLE)) / " +
      "(CAST(tf AS DOUBLE) + CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE) + " +
      "CAST(0.75 AS DOUBLE) * (CAST(dl AS DOUBLE) * CAST(n AS DOUBLE) / " +
      "CAST(sumdl AS DOUBLE))))" +
      ") * CAST(10000.0 AS DOUBLE) + CAST(0.5 AS DOUBLE)"

  private[graft] val t59ContribE4: String =
    s"CAST(floor($t59ContribPre) AS BIGINT)"

  /** t59's per-(query, term, doc) contribution INPUT frame — the
    * posting/df/length rollups joined but the contribution not yet
    * applied; shared by [[t59Bm25]] and IntegerizationMarginSpec's
    * boundary-margin audit so the audited inputs are exactly the
    * scored inputs. */
  private[graft] def t59Joined(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), col("toks"), size(col("toks")).cast("long").as("dl"))
    val stats = toks.agg(sum(col("dl")).as("sumdl"), count(lit(1)).as("n"))
    val terms = t59Queries.toDF("query_id", "term")
    val hits = toks.select(col("doc_id"), col("dl"), explode(col("toks")).as("term"))
      .join(broadcast(terms.select("term").distinct()), Seq("term"))
      .groupBy("term", "doc_id", "dl").agg(count(lit(1)).as("tf"))
    val dfs = hits.groupBy("term").agg(countDistinct(col("doc_id")).as("df"))
    hits
      .join(broadcast(dfs), Seq("term"))
      .join(broadcast(terms), Seq("term"))
      .crossJoin(broadcast(stats))
  }

  /** t59: BM25 retrieval — the lexical ranking engine (Robertson et
    * al.) every corpus-curation stack runs next to its embedding
    * index (a34/a35 filter ANN by metadata; t59 is the SPARSE
    * retrieval leg, and at 100 TB the pair is a hybrid retriever):
    * for each literal query, the top-10 documents by BM25 with
    * k1 = 1.2, b = 0.75, scored ENTIRELY through the shared
    * [[t59ContribE4]] integer-e4 term contribution so ranking,
    * tie-break (score, then doc_id), and the scores themselves
    * replay byte-exactly in DuckDB.
    *
    * Scale (100 TB): the token explode is scan-stage and the
    * 10-term query vocabulary broadcasts — the posting build
    * exchanges only (doc, term) hits for matching terms, never the
    * corpus; df and the length stats are tiny rollups (|terms| rows,
    * 1 row); scoring joins hits against three broadcasts; top-k is
    * a per-query window over matched docs only. This is exactly an
    * inverted-index probe expressed relationally. */
  def t59Bm25(s: SparkSession, dir: String): DataFrame = {
    val scored = t59Joined(s, dir)
      .withColumn("c_e4", expr(t59ContribE4))
      .groupBy("query_id", "doc_id").agg(sum(col("c_e4")).as("score_e4"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score_e4").desc, col("doc_id"))
    scored.withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= 10)
      .select(col("query_id"), col("rank"), col("doc_id"), col("score_e4"))
      .orderBy("query_id", "rank")
  }

  /** DuckDB oracle for t59: identical literal queries, identical
    * posting/df/length rollups, the SAME contribution string,
    * integer score sums, identical top-10 rank. */
  val t59Sql: String = {
    val values = t59Queries.map { case (q, t) => s"($q, '$t')" }.mkString(", ")
    s"""WITH q(query_id, term) AS (VALUES $values),
       |toks AS (
       | SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |dls AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM toks),
       |st AS (SELECT CAST(sum(dl) AS BIGINT) AS sumdl,
       |              CAST(count(*) AS BIGINT) AS n FROM dls),
       |hits AS (
       | SELECT e.term, e.doc_id, count(*) AS tf
       | FROM (SELECT doc_id, unnest(toks) AS term FROM toks) e
       | WHERE e.term IN (SELECT DISTINCT term FROM q)
       | GROUP BY 1, 2),
       |dfs AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
       |        FROM hits GROUP BY 1),
       |contrib AS (
       | SELECT q.query_id, h.doc_id, $t59ContribE4 AS c_e4
       | FROM hits h
       | JOIN dls ON dls.doc_id = h.doc_id
       | JOIN dfs ON dfs.term = h.term
       | JOIN q ON q.term = h.term
       | CROSS JOIN st),
       |scored AS (
       | SELECT query_id, doc_id, CAST(sum(c_e4) AS BIGINT) AS score_e4
       | FROM contrib GROUP BY 1, 2)
       |SELECT query_id, rank, doc_id, score_e4 FROM (
       | SELECT *, CAST(row_number() OVER (PARTITION BY query_id
       |   ORDER BY score_e4 DESC, doc_id) AS INT) AS rank
       | FROM scored)
       |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin
  }

  /** t60's sample budget. */
  private[graft] val t60K = 64

  /** t60's exponential clock in INTEGER e15 units — ONE dialect-
    * neutral string over columns (draw, w): u = (draw + 1)/2⁶⁰ is
    * the house-md5 uniform on (0, 1], clock = −ln(u)/w its
    * Exp(rate w) arrival time, integerized by the explicit float
    * path floor(x·10¹⁵) with all-DOUBLE literals (the q52b/t59
    * lessons; ≤ 41.6/1·10¹⁵ < 2⁶³ so no overflow at w ≥ 1).
    *
    * SINGLE-PLATFORM GATE ASSUMPTION: at e15 precision the double grid near y ≈ 10¹³ is
    * coarser than the integer boundaries themselves (ulp(10¹³) ≈
    * 2·10⁻³), so a measurable fraction of clocks land EXACTLY on an
    * integer — IntegerizationMarginSpec counts them — and a
    * 1-ulp-different libm ln on another platform could flip those
    * floors. The byte-exact gate therefore assumes JVM Math.log and
    * the oracle engine's log agree to the last ulp on the gate
    * corpora's ~n draws, which holds on this platform (three green
    * rounds) but is NOT an IEEE guarantee. Ranking robustness is
    * unaffected in practice: a ±1-unit e15 flip reorders two docs
    * only if their clocks collide at e15, and the sample-boundary
    * gap is spec-measured ≫ 1 unit. Contrast t59's e4 path, where
    * the margin/wobble ratio is ≥ 5·10⁷ and IS spec-asserted. */
  private[graft] val t60ClockPre: String =
    "-ln((CAST(draw AS DOUBLE) + CAST(1.0 AS DOUBLE)) / " +
      "CAST(1152921504606846976.0 AS DOUBLE)) / CAST(w AS DOUBLE) * " +
      "CAST(1000000000000000.0 AS DOUBLE)"

  private[graft] val t60ClockE15: String =
    s"CAST(floor($t60ClockPre) AS BIGINT)"

  /** t60's clocked corpus: every doc with its weight (n_chars — the
    * token-budget proxy) and integer clock. ONE definition shared by
    * the batch sampler and s64's live fold. */
  private[graft] def t60Clocked(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("n_chars").as("w"))
      .filter(col("w") > 0)
      .withColumn("draw", expr(
        "cast(conv(substring(md5(cast(doc_id as string)), 1, 15), 16, 10) as bigint)"))
      .withColumn("clock_e15", expr(t60ClockE15))
      .select("doc_id", "w", "clock_e15")

  /** t60: weighted sampling without replacement — the ROW-LEVEL
    * data-mixing sampler next to t48's category-level resampler:
    * draw k docs with probability proportional to LENGTH (the token
    * budget) via exponential clocks — each doc's clock is an
    * Exp(w) arrival time from its deterministic house-md5 uniform,
    * and the k EARLIEST arrivals are exactly an
    * Efraimidis–Spirakis weighted sample without replacement (the
    * first arrival among a set of exponential races lands on item i
    * w.p. wᵢ/Σw, and conditioning repeats — the classic race
    * argument). The clock is integer e15 so ranking, tie-break, and
    * the values all replay byte-exactly cross-engine (the q68/t59
    * discipline), and the top-k is a per-partition bottom-k merge
    * (TakeOrdered — the d52 scale shape, no global sort).
    *
    * Scale (100 TB): one scan stamping clocks in the map stage;
    * k rows per partition cross the wire; state is k rows. The
    * sample is MERGEABLE by the q68/d52 bottom-k law, which is what
    * lets s64 keep it live under any slicing. */
  def t60WeightedSample(s: SparkSession, dir: String): DataFrame =
    t60Present(t60Clocked(Tables.documents(s, dir)))

  /** Rank and emit a clocked frame's k earliest arrivals — shared
    * by t60 and s64 (presentation over bounded state). */
  private[graft] def t60Present(clocked: DataFrame): DataFrame = {
    val w = Window.orderBy(col("clock_e15"), col("doc_id"))
    clocked.orderBy(col("clock_e15"), col("doc_id")).limit(t60K)
      .withColumn("rank", row_number().over(w).cast("int"))
      .select(col("rank"), col("doc_id"), col("w").as("n_chars"),
        col("clock_e15"))
      .orderBy("rank")
  }

  /** DuckDB oracle for t60: identical draw, the SAME clock string,
    * identical bottom-k. */
  val t60Sql: String =
    s"""WITH c AS (
       | SELECT doc_id, w, $t60ClockE15 AS clock_e15 FROM (
       |  SELECT doc_id, n_chars AS w,
       |   CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
       |    AS draw
       |  FROM documents WHERE n_chars > 0))
       |SELECT CAST(row_number() OVER (ORDER BY clock_e15, doc_id) AS INT)
       |  AS rank, doc_id, w AS n_chars, clock_e15
       |FROM (SELECT * FROM c ORDER BY clock_e15, doc_id LIMIT $t60K)
       |ORDER BY rank""".stripMargin

  /** t61's vocabulary budget and pair-support floor. */
  private[graft] val t61VocabK = 20
  private[graft] val t61MinPairDocs = 5

  /** t61: term co-occurrence / collocation mining — the corpus
    * analysis every data-quality team runs before building mixtures
    * ("which concepts travel together?"): document-level
    * co-occurrence of the top-[[t61VocabK]] df terms, scored by LIFT
    * in integer basis points — n_ab·N·10⁴ div (n_a·n_b), the exp of
    * PMI. Ranking by lift IS ranking by PMI (ln is monotone), and
    * the integer form replays byte-exactly cross-engine where an ln
    * would reintroduce exactly the floor-boundary wobble of
    * t59/t60 (IntegerizationMarginSpec documents
    * that hazard; t61 simply refuses to enter it). lift_bp > 10⁴ is
    * positive association, < 10⁴ negative.
    *
    * Scale (100 TB): the df rollup is one map-side-combined
    * exchange; the vocabulary is a TakeOrdered top-k that
    * BROADCASTS into the scan, so the pair stage sees only vocab
    * hits (≤ k per doc, ≤ k² pairs per doc — never the corpus
    * vocabulary); the co-occurrence join is doc-keyed equi; the
    * N scalar is a 1-row broadcast (the q28/q45 stance). */
  def t61Cooccurrence(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val docTerms = docs.select(col("doc_id"),
      explode(array_distinct(split(col("text"), " "))).as("term"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val df = docTerms.groupBy("term").agg(count(lit(1)).as("df"))
    val vocab = df.orderBy(col("df").desc, col("term")).limit(t61VocabK)
    val hits = docTerms.join(broadcast(vocab), Seq("term"))
    val pairs = hits
      .select(col("doc_id"), col("term").as("term_a"), col("df").as("n_a"))
      .join(hits.select(col("doc_id"), col("term").as("term_b"),
        col("df").as("n_b")), Seq("doc_id"))
      .filter(col("term_a") < col("term_b"))
      .groupBy("term_a", "term_b", "n_a", "n_b")
      .agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= t61MinPairDocs)
    pairs.crossJoin(broadcast(nDocs))
      .select(col("term_a"), col("term_b"), col("n_a"), col("n_b"),
        col("n_ab"), col("n_docs"),
        expr("n_ab * n_docs * 10000 div (n_a * n_b)").as("lift_bp"))
      .orderBy("term_a", "term_b")
  }

  /** DuckDB oracle for t61: identical vocabulary selection, pair
    * counting, and integer lift. */
  val t61Sql: String =
    s"""WITH dt AS (
       | SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS term
       | FROM documents),
       |nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
       |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM dt GROUP BY 1),
       |vocab AS (SELECT term, df FROM df ORDER BY df DESC, term LIMIT $t61VocabK),
       |hits AS (SELECT dt.doc_id, dt.term, v.df FROM dt JOIN vocab v USING (term)),
       |pairs AS (
       | SELECT a.term AS term_a, b.term AS term_b,
       |  a.df AS n_a, b.df AS n_b, CAST(count(*) AS BIGINT) AS n_ab
       | FROM hits a JOIN hits b ON a.doc_id = b.doc_id AND a.term < b.term
       | GROUP BY 1, 2, 3, 4 HAVING count(*) >= $t61MinPairDocs)
       |SELECT term_a, term_b, n_a, n_b, n_ab, n_docs,
       | CAST(n_ab * n_docs * 10000 // (n_a * n_b) AS BIGINT) AS lift_bp
       |FROM pairs CROSS JOIN nd
       |ORDER BY term_a, term_b""".stripMargin

  /** t62's decile bucket: least k ∈ 1..10 with id ≤ lo − 1 +
    * ((hi − lo + 1)·k) div 10 — pure integer arithmetic over the
    * corpus's doc_id span, so both engines compute the identical
    * boundary with no float in sight (the t61 stance: refuse the
    * hazard instead of auditing it). lo/hi come from a 1-row
    * broadcast. */
  private[graft] def t62Bucket(idCol: String): Column = expr(
    s"""array_min(filter(sequence(1, 10), k ->
       |  $idCol <= lo - 1 + ((hi - lo + 1) * cast(k as bigint)) div 10))"""
      .stripMargin).cast("int")

  /** t62: vocabulary growth curve (Heaps' law) — the crawl-saturation
    * instrument a corpus-acquisition team reads before buying more
    * data: as the corpus grows doc-decile by doc-decile (deciles of
    * the doc_id span — the deterministic ingest order), how fast does
    * the vocabulary still grow? A flattening new_terms column says
    * the next crawl buys tokens, not novelty. Per decile: cumulative
    * docs, cumulative tokens, NEW term types (terms whose FIRST
    * occurrence lands in the decile — min(doc_id) per term, the
    * mergeable form), and the cumulative vocabulary.
    *
    * Scale (100 TB): the per-term first-occurrence is ONE map-side-
    * combinable min keyed by term (vocabulary-sized output, the
    * declared t44/s53 vocabulary-state trade); the doc rollup is
    * map-side; decile boundaries are integer arithmetic against a
    * 1-row broadcast (the q28 scalar stance); the cumulative pass is
    * a 10-row spine window — NO global rank or sort anywhere (where
    * a rank-based decile would cost a full sort, the value-span
    * decile is free). */
  def t62VocabGrowth(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
    val bounds = docs.agg(min("doc_id").as("lo"), max("doc_id").as("hi"))
    val perDoc = docs
      .select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"))
      .crossJoin(broadcast(bounds))
      .withColumn("decile", t62Bucket("doc_id"))
    val firstDoc = docs.select(col("doc_id"), explode(col("toks")).as("term"))
      .groupBy("term").agg(min("doc_id").as("first_doc"))
      .crossJoin(broadcast(bounds))
      .withColumn("decile", t62Bucket("first_doc"))
    val dAgg = perDoc.groupBy("decile")
      .agg(count(lit(1)).as("docs"), sum("n_tokens").as("tokens"))
    val tAgg = firstDoc.groupBy("decile").agg(count(lit(1)).as("new_terms"))
    val spine = s.range(1, 11).select(col("id").cast("int").as("decile"))
    val w = Window.orderBy("decile")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(dAgg, Seq("decile"), "left").join(tAgg, Seq("decile"), "left")
      .select(col("decile"),
        sum(coalesce(col("docs"), lit(0L))).over(w).as("docs_cum"),
        sum(coalesce(col("tokens"), lit(0L))).over(w).as("tokens_cum"),
        coalesce(col("new_terms"), lit(0L)).as("new_terms"),
        sum(coalesce(col("new_terms"), lit(0L))).over(w).as("vocab_cum"))
      .orderBy("decile")
  }

  /** DuckDB oracle for t62: identical integer decile boundaries,
    * identical first-occurrence mins, identical 10-row cumulative
    * spine. */
  val t62Sql: String =
    """WITH b AS (SELECT min(doc_id) AS lo, max(doc_id) AS hi FROM documents),
      |pd AS (
      | SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
      |  list_min(list_filter(range(1, 11),
      |    k -> doc_id <= lo - 1 + (hi - lo + 1) * k // 10)) AS decile
      | FROM documents, b),
      |ft AS (
      | SELECT term, min(doc_id) AS first_doc FROM (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
      | GROUP BY 1),
      |fd AS (
      | SELECT list_min(list_filter(range(1, 11),
      |   k -> first_doc <= lo - 1 + (hi - lo + 1) * k // 10)) AS decile
      | FROM ft, b),
      |da AS (SELECT decile, count(*) AS docs, sum(n_tokens) AS tokens
      |       FROM pd GROUP BY 1),
      |ta AS (SELECT decile, count(*) AS new_terms FROM fd GROUP BY 1),
      |sp AS (SELECT unnest(generate_series(1, 10)) AS decile)
      |SELECT CAST(sp.decile AS INT) AS decile,
      | CAST(sum(coalesce(docs, 0)) OVER w AS BIGINT) AS docs_cum,
      | CAST(sum(coalesce(tokens, 0)) OVER w AS BIGINT) AS tokens_cum,
      | CAST(coalesce(new_terms, 0) AS BIGINT) AS new_terms,
      | CAST(sum(coalesce(new_terms, 0)) OVER w AS BIGINT) AS vocab_cum
      |FROM sp LEFT JOIN da ON sp.decile = da.decile
      |        LEFT JOIN ta ON sp.decile = ta.decile
      |WINDOW w AS (ORDER BY sp.decile
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |ORDER BY decile""".stripMargin

  /** t63's contrast vocabulary budget. */
  private[graft] val t63K = 40

  /** t63: corpus-contrast keyness — the "what is DIFFERENT about
    * this source?" analysis run before admitting a new crawl into a
    * mixture (t61 asks what travels together WITHIN a corpus; t63
    * contrasts TWO corpora): for the top-[[t63K]] df terms across
    * both halves (doc_id parity — the d52 corpus split), the 2×2
    * presence table (df_a, df_b, na−df_a, nb−df_b) scored by
    * Pearson's χ² in e4 units, with the direction flag in-band.
    * The χ² is computed EXACTLY: a·d − b·c simplifies to
    * df_a·nb − df_b·na, each cross product pre-cast to
    * decimal(38,0)/HUGEINT BEFORE multiplying, and the one big
    * product N·(ad−bc)²·10⁴ runs in decimal(38,0) on the Spark side
    * and HUGEINT in DuckDB — two exact integer engines executing the
    * identical expression, so the score replays byte-exactly with
    * no float and no ln anywhere (the t61/t62 refuse-the-hazard
    * stance; Dunning's LLR would need the ln this corpus cannot
    * gate). Terms present in every document are guarded out (their
    * χ² denominator is zero and their keyness is undefined), and two
    * data-derived fail-stops hold the exactness claim honest at
    * scale: an empty parity half (na or nb = 0) makes
    * every χ² denominator zero — Spark's decimal div would yield
    * null where DuckDB errors, so we refuse identically in both
    * engines instead (the a52/q89 degenerate-split convention); and
    * N = na+nb ≤ 10⁷ pins the worst-case numerator
    * N·(na·nb)²·10⁴ ≤ N⁵·10⁴/16 < 10³⁸ inside decimal(38,0) —
    * past it Spark would wrap/null where HUGEINT keeps going, so the
    * operator fail-stops (shard the contrast, or sample) rather than
    * silently diverge.
    *
    * Scale (100 TB): one df rollup (map-side combined), a top-k
    * TakeOrdered vocabulary, one 1-row corpus-sizes action (the
    * bounded driver read that also arms the fail-stops — the t51
    * learned-parameter stance), and a codegen'd arithmetic
    * projection over ≤ k rows — nothing after the rollup touches
    * corpus-sized data. */
  def t63Keyness(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val dt = docs.select(col("doc_id"),
      explode(array_distinct(split(col("text"), " "))).as("term"))
    val szRow = docs.agg(
      sum(when(col("doc_id") % 2 === 0, 1L).otherwise(0L)).as("na"),
      sum(when(col("doc_id") % 2 =!= 0, 1L).otherwise(0L)).as("nb")).head
    val na = if (szRow.isNullAt(0)) 0L else szRow.getLong(0)
    val nb = if (szRow.isNullAt(1)) 0L else szRow.getLong(1)
    require(na > 0 && nb > 0,
      s"t63: degenerate parity split (na=$na, nb=$nb) — keyness against an empty half is undefined")
    require(na + nb <= 10000000L,
      s"t63: ${na + nb} docs exceeds the exact-integer bound (N <= 1e7 keeps N*(ad-bc)^2*1e4 within decimal(38,0)); shard the contrast or sample")
    val counts = dt.groupBy("term").agg(
      sum(when(col("doc_id") % 2 === 0, 1L).otherwise(0L)).as("df_a"),
      sum(when(col("doc_id") % 2 =!= 0, 1L).otherwise(0L)).as("df_b"))
    val vocab = counts
      .orderBy((col("df_a") + col("df_b")).desc, col("term")).limit(t63K)
    vocab
      .filter(col("df_a") + col("df_b") < lit(na + nb))
      .withColumn("chi2_e4", expr(
        s"""cast((cast(${na + nb} as decimal(38,0)) *
           |  (cast(df_a as decimal(38,0)) * cast($nb as decimal(38,0)) -
           |   cast(df_b as decimal(38,0)) * cast($na as decimal(38,0))) *
           |  (cast(df_a as decimal(38,0)) * cast($nb as decimal(38,0)) -
           |   cast(df_b as decimal(38,0)) * cast($na as decimal(38,0))) *
           |  cast(10000 as decimal(38,0))) div
           | (cast(df_a + df_b as decimal(38,0)) *
           |  cast(($na - df_a) + ($nb - df_b) as decimal(38,0)) *
           |  cast($na as decimal(38,0)) * cast($nb as decimal(38,0)))
           |as bigint)""".stripMargin))
      .withColumn("enriched_in",
        when(col("df_a") * lit(nb) > col("df_b") * lit(na), "a")
          .otherwise("b"))
      .select("term", "df_a", "df_b", "chi2_e4", "enriched_in")
      .orderBy("term")
  }

  /** DuckDB oracle for t63: identical df rollup, vocabulary, and the
    * same exact-integer χ² through HUGEINT. */
  val t63Sql: String =
    s"""WITH dt AS (
       | SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS term
       | FROM documents),
       |sz AS (
       | SELECT CAST(count(*) FILTER (doc_id % 2 = 0) AS BIGINT) AS na,
       |        CAST(count(*) FILTER (doc_id % 2 <> 0) AS BIGINT) AS nb
       | FROM documents),
       |cnt AS (
       | SELECT term,
       |  CAST(count(*) FILTER (doc_id % 2 = 0) AS BIGINT) AS df_a,
       |  CAST(count(*) FILTER (doc_id % 2 <> 0) AS BIGINT) AS df_b
       | FROM dt GROUP BY 1),
       |vocab AS (
       | SELECT * FROM cnt ORDER BY df_a + df_b DESC, term LIMIT $t63K)
       |SELECT term, df_a, df_b,
       | CAST((CAST(na + nb AS HUGEINT) *
       |   (CAST(df_a AS HUGEINT) * nb - CAST(df_b AS HUGEINT) * na) *
       |   (CAST(df_a AS HUGEINT) * nb - CAST(df_b AS HUGEINT) * na) * 10000) //
       |  (CAST(df_a + df_b AS HUGEINT) *
       |   CAST((na - df_a) + (nb - df_b) AS HUGEINT) *
       |   CAST(na AS HUGEINT) * CAST(nb AS HUGEINT)) AS BIGINT) AS chi2_e4,
       | CASE WHEN df_a * nb > df_b * na THEN 'a' ELSE 'b' END AS enriched_in
       |FROM vocab, sz
       |WHERE df_a + df_b < na + nb
       |ORDER BY term""".stripMargin

  /** t64's quarantine gate in basis points of unseen-bigram mass.
    * Calibrated against the corpus: unmutated synthetic docs score
    * ≤ ~350 bp against the reference half (shared vocabulary), the
    * planted drifted cohort ≈ 10000 bp — 5000 splits them with two
    * orders of magnitude of margin on either side. */
  private[graft] val t64QuarantineBp = 5000L

  /** t64's planted drift rule: every 7th incoming document arrives
    * through q96's broken codec (upper-cased) — the deterministic
    * stand-in for a crawl whose upstream changed under us. The
    * injection is planted; the DETECTION is entirely data-derived
    * (the lowercase reference support contains no upper-cased
    * bigram — measured 10000 bp vs ≤ ~420 for clean docs), the
    * q96/q89 planted-failure stance. Token REVERSAL notably does
    * NOT work here: the synthetic corpus' bigram support is dense
    * enough that "b a" is almost always also attested — drift
    * detection needs out-of-VOCABULARY mass, not reordering. */
  private[graft] def t64Mutate(text: Column, docId: Column): Column =
    when(docId % 7 === 0, upper(text)).otherwise(text)

  /** t64: HELD-OUT novelty admission — the drift gate a training
    * pipeline runs on every NEW crawl batch before it mixes in
    * (Wenzek et al. 2020 §4 filter against a trusted LM; the OOD
    * counterpart of t39): t39's self-trained LM cannot measure
    * novelty — every scored bigram is in its own training support by
    * construction — so t64 scores incoming documents (the odd half,
    * with the planted drifted cohort) against the bigram support of
    * a TRUSTED reference corpus (the even half, the t63 parity
    * stance) the scorer never trains on. Per doc: bigram count,
    * unseen-bigram count, novelty in exact-integer basis points
    * (unseen·10⁴ div n — no float ratio crosses an engine), and the
    * quarantine bit; bigram-less docs pass (nothing measurable, the
    * t39 left-join stance). Fail-stops unless BOTH classes are
    * non-empty — a gate that admits or quarantines everything is
    * miscalibrated. TextOpsSpec pins exact separation: quarantine ==
    * the planted cohort at sf0.001, and an in-memory mirror of the
    * whole scoring.
    *
    * Scale (100 TB): the reference support is dictionary-sized
    * (distinct'd with map-side partials, computed once per reference
    * release, not per batch); the probe shuffles the incoming
    * batch's bigram stream ONCE on the gram key; the per-doc rollup
    * carries two longs. Nothing touches reference DOCUMENTS at score
    * time — only their support set. */
  def t64DriftGate(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val ref = docs.filter(col("doc_id") % 2 === 0)
      .select(explode(bigrams(tokens(col("text")))).as("gram"))
      .distinct().withColumn("seen", lit(1))
    val incoming = docs.filter(col("doc_id") % 2 === 1)
      .select(col("doc_id"),
        t64Mutate(col("text"), col("doc_id")).as("text"))
    val scored = incoming
      .select(col("doc_id"), explode(bigrams(tokens(col("text")))).as("gram"))
      .join(ref, Seq("gram"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("seen").isNull, 1L).otherwise(0L)).as("unseen"))
      .withColumn("novelty_bp",
        expr("unseen * 10000 div n_bigrams"))
    val out = incoming.select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("unseen"), lit(0L)).as("unseen"),
        col("novelty_bp"),
        coalesce(col("novelty_bp") > t64QuarantineBp, lit(false))
          .as("quarantine"))
      .orderBy("doc_id")
    val classes = out.agg(
      sum(when(col("quarantine"), 1L).otherwise(0L)),
      sum(when(!col("quarantine"), 1L).otherwise(0L))).head
    require(classes.getLong(0) > 0 && classes.getLong(1) > 0,
      s"t64: gate must split the batch (${classes.getLong(0)} quarantined, " +
        s"${classes.getLong(1)} admitted)")
    out
  }

  val t64Sql: String =
    s"""WITH d0 AS (
       | SELECT doc_id,
       |  CASE WHEN doc_id % 7 = 0 AND doc_id % 2 = 1
       |   THEN upper(text) ELSE text END AS text
       | FROM documents),
       |d AS (SELECT doc_id, string_split(text,' ') AS a FROM d0),
       |bg AS (
       | SELECT doc_id, a[i] || ' ' || a[i+1] AS gram
       | FROM (SELECT doc_id, a, unnest(generate_series(1, len(a)-1)) AS i FROM d)),
       |ref AS (SELECT DISTINCT gram FROM bg WHERE doc_id % 2 = 0),
       |sc AS (
       | SELECT bg.doc_id, count(*) AS n_bigrams,
       |  sum(CASE WHEN ref.gram IS NULL THEN 1 ELSE 0 END) AS unseen
       | FROM bg LEFT JOIN ref ON bg.gram = ref.gram
       | WHERE bg.doc_id % 2 = 1 GROUP BY 1)
       |SELECT d.doc_id,
       | CAST(coalesce(sc.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       | CAST(coalesce(sc.unseen, 0) AS BIGINT) AS unseen,
       | CAST(sc.unseen * 10000 // sc.n_bigrams AS BIGINT) AS novelty_bp,
       | coalesce(sc.unseen * 10000 // sc.n_bigrams > $t64QuarantineBp, false)
       |  AS quarantine
       |FROM d LEFT JOIN sc ON d.doc_id = sc.doc_id
       |WHERE d.doc_id % 2 = 1 ORDER BY d.doc_id""".stripMargin

  def entries: Seq[Entry] = Seq(
    Entry("t29_langid", t29LangId, t29Sql),
    Entry("t30_quality", t30Quality, t30Sql),
    Entry("t31_tokens", t31Tokens, t31Sql),
    Entry("t32_fingerprint", t32Fingerprint, t32Sql),
    Entry("t33_sketch_stats", t33SketchStats),
    Entry("t33b_exact_stats", t33bExactStats, t33bSql),
    Entry("t34_scrub", t34Scrub, t34Sql),
    Entry("t35_repetition", t35Repetition, t35Sql),
    Entry("t36_sample", t36Sample, t36Sql),
    Entry("t37_token_budget", t37TokenBudget, t37Sql),
    Entry("t38_keyphrase", t38Keyphrase, t38Sql),
    Entry("t39_bigram_lm", t39BigramLm, t39Sql),
    Entry("t40_pipeline", t40Pipeline, t40Sql),
    Entry("t41_chunk", t41Chunk, t41Sql),
    Entry("t42_pack", t42Pack, t42Sql),
    Entry("t43_pii", t43Pii, t43Sql),
    Entry("t44_vocab", t44Vocab, t44Sql),
    Entry("t45_vocab_apply", t45VocabApply, t45Sql),
    Entry("t46_gopher_rules", t46GopherRules, t46Sql),
    Entry("t47_cdc_chunk", t47CdcChunk, t47Sql),
    Entry("t48_mixture_resample", t48MixtureResample, t48Sql),
    Entry("t49_quality_classifier", t49QualityClassifier, t49Sql),
    Entry("t50_epoch_shuffle", t50EpochShuffle, t50Sql),
    Entry("t51_bpe_merges", t51BpeMerges, t51Sql),
    Entry("t52_bpe_apply", t52BpeApply, t52Sql),
    Entry("t53_stratified_split", t53StratifiedSplit, t53Sql),
    Entry("t54_release_manifest", t54ReleaseManifest, t54Sql),
    Entry("t55_curriculum", t55Curriculum, t55Sql),
    Entry("t56_dataset_card", t56DatasetCard, t56Sql),
    // t57's oracle IS t51's sequential SQL: batched selection must
    // reproduce the sequential merge table byte-exactly
    Entry("t57_bpe_batched", t57BpeBatched, t51Sql),
    Entry("t58_ccnet_buckets", t58CcnetBuckets, t58Sql),
    Entry("t59_bm25", t59Bm25, t59Sql),
    Entry("t60_weighted_sample", t60WeightedSample, t60Sql),
    Entry("t61_cooccurrence", t61Cooccurrence, t61Sql),
    Entry("t62_vocab_growth", t62VocabGrowth, t62Sql),
    Entry("t63_keyness", t63Keyness, t63Sql),
    Entry("t64_drift_gate", t64DriftGate, t64Sql))
}
