package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{Entry, Par, Tables}

/** Core relational / lakehouse operators, re-expressed Spark-first.
  *
  * Each query mirrors a semantic pattern from the reference DLT
  * pipelines (near/near-public-lakehouse); provenance is cited per
  * method. Every query is deterministic (explicit ORDER BY with full
  * tiebreaks) and float aggregates are rounded so the DuckDB oracle
  * hash-matches bit-for-bit.
  *
  * Scale notes (100 TB): dims (region/nation/customer/supplier/part)
  * are broadcast; fact-fact joins shuffle on their join key and rely
  * on AQE for skew; windows shuffle once per key-partition spec.
  */
object Relational {

  /** Filtered group-by aggregation (TPC-H Q1 shape).
    * Reference pattern: silver gold rollups, e.g. gas/supply sums in
    * src/lakehouse/notebooks/Aggregated Circulating Supply Pipeline.py:330-350.
    * Scale: partial (map-side) aggregation then single shuffle on the
    * tiny group key; shipdate filter is pushed to the parquet scan. */
  def q01AggFilter(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 4).as("sum_qty"),
        round(sum(col("l_extendedprice")), 4).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4).as("sum_disc_price"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        round(avg(col("l_discount")), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  val q01Sql: String =
    """SELECT l_returnflag, l_linestatus,
      | ROUND(SUM(l_quantity),4) AS sum_qty,
      | ROUND(SUM(l_extendedprice),4) AS sum_base_price,
      | ROUND(SUM(l_extendedprice*(1.0-l_discount)),4) AS sum_disc_price,
      | ROUND(AVG(l_quantity),4) AS avg_qty,
      | ROUND(AVG(l_discount),4) AS avg_disc,
      | COUNT(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** Projection + casts + timestamp-to-date derivation.
    * Reference: silver_blocks enrichment — cast height/timestamp,
    * derive block_date, carry hashes
    * (Silver Lake Mainnet.sql:14-33). */
  def q02ProjectEnrich(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .select(
        col("o_orderkey").as("order_key"),
        to_date(col("o_orderdate")).as("order_date"),
        year(col("o_orderdate")).as("order_year"),
        // DECIMAL values verified byte-equal vs DuckDB, but the driver's
        // pandas hash layer dtype-diverges on DECIMAL columns (Decimal
        // objects vs float64) — ship the canonical string rendering of
        // the same decimal in BOTH dialects instead.
        col("o_totalprice").cast("decimal(18,2)").cast("string").as("total_price_dec"),
        concat(col("o_orderstatus"), lit("-"), col("o_orderpriority")).as("status_priority"),
        lower(col("o_orderpriority")).as("priority_lower"))
      .orderBy("order_key")

  val q02Sql: String =
    """SELECT o_orderkey AS order_key,
      | CAST(o_orderdate AS DATE) AS order_date,
      | CAST(year(o_orderdate) AS INT) AS order_year,
      | CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR) AS total_price_dec,
      | o_orderstatus || '-' || o_orderpriority AS status_priority,
      | lower(o_orderpriority) AS priority_lower
      |FROM orders ORDER BY order_key""".stripMargin

  /** Enrichment join: fact joined to broadcast dims.
    * Reference: silver_chunks joining silver_blocks on block hash
    * (Silver Lake Mainnet.sql:41-64).
    * Scale: customer/nation are dimension tables — broadcast both so
    * the fact side never shuffles. */
  def q03JoinEnrich(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .join(broadcast(Tables.customer(s, dir)), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
      .select(
        col("o_orderkey").as("order_key"),
        col("c_name").as("customer_name"),
        col("n_name").as("nation_name"),
        round(col("o_totalprice"), 2).as("total_price"))
      .orderBy("order_key")

  val q03Sql: String =
    """SELECT o_orderkey AS order_key, c_name AS customer_name,
      | n_name AS nation_name, ROUND(o_totalprice,2) AS total_price
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |ORDER BY order_key""".stripMargin

  /** Multi-way LEFT JOIN "view" over the fact chain.
    * Reference: the `receipts` BQ view — receipt_details LEFT JOIN
    * receipt_origin LEFT JOIN transactions LEFT JOIN
    * execution_outcomes (BQ Writer Views & Data Dictionary.py:266-283).
    * Scale: lineitem⋈orders is a fact-fact shuffle join on orderkey;
    * customer/nation broadcast. */
  def q04MultiwayLeftJoin(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"), "left")
      .join(broadcast(Tables.customer(s, dir)), col("o_custkey") === col("c_custkey"), "left")
      .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"), "left")
      .select(
        col("l_orderkey").as("order_key"),
        col("l_linenumber").as("line_number"),
        col("o_orderstatus").as("order_status"),
        col("c_name").as("customer_name"),
        col("n_name").as("nation_name"))
      .orderBy("order_key", "line_number")

  val q04Sql: String =
    """SELECT l_orderkey AS order_key, l_linenumber AS line_number,
      | o_orderstatus AS order_status, c_name AS customer_name, n_name AS nation_name
      |FROM lineitem
      |LEFT JOIN orders ON l_orderkey = o_orderkey
      |LEFT JOIN customer ON o_custkey = c_custkey
      |LEFT JOIN nation ON c_nationkey = n_nationkey
      |ORDER BY order_key, line_number""".stripMargin

  /** posexplode of an array with positional index.
    * Reference: posexplode(c.chunk.transactions) / state_changes /
    * receipts (Silver Lake Mainnet.sql:86-93,130-137). */
  def q05ExplodePos(s: SparkSession, dir: String): DataFrame =
    Tables.part(s, dir)
      .select(col("p_partkey"), posexplode(split(col("p_name"), " ")).as(Seq("word_pos", "word")))
      .orderBy("p_partkey", "word_pos")

  val q05Sql: String =
    """SELECT p_partkey,
      | CAST(unnest(range(len(string_split(p_name,' ')))) AS INT) AS word_pos,
      | unnest(string_split(p_name,' ')) AS word
      |FROM part ORDER BY p_partkey, word_pos""".stripMargin

  /** JSON field extraction from a string column.
    * Reference: pervasive from_json / `args:method_name` JSON-path
    * extraction (Silver Lake Mainnet.sql:139-146, 256-263). */
  def q06JsonExtract(s: SparkSession, dir: String): DataFrame = {
    // spread before the JSON parses (the q12 rationale): two parses
    // per row otherwise run in the 1-split scan's single task, and once
    // more under the range sort's sampling job when the input is too
    // large for SmallSort. Rows unchanged.
    Tables.events(s, dir)
      .select(col("event_id"), col("props"))
      .transform(Par.spread(_, col("event_id")))
      .select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("int").as("prop_k"),
        from_json(col("props"), lit("k INT")).getField("k").as("prop_k_typed"))
      .orderBy("event_id")
  }

  val q06Sql: String =
    """SELECT event_id,
      | CAST(props->>'k' AS INT) AS prop_k,
      | CAST(props->>'k' AS INT) AS prop_k_typed
      |FROM events ORDER BY event_id""".stripMargin

  /** CASE-chain classification of a raw string into a kind enum.
    * Reference: action_kind CASE mapping
    * (Silver Lake Mainnet.sql:205-216). */
  def q07ClassifyCase(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .withColumn("event_kind",
        when(col("event_type").isin("click", "view"), "ENGAGEMENT")
          .when(col("event_type") === "purchase", "CONVERSION")
          .when(col("event_type") === "signup", "ACQUISITION")
          .when(col("event_type") === "error", "FAILURE")
          .otherwise("UNKNOWN"))
      .groupBy("event_kind")
      .agg(
        count(lit(1)).as("events_count"),
        countDistinct(col("user_id")).as("distinct_users"),
        round(sum(col("value")), 4).as("sum_value"))
      .orderBy("event_kind")

  val q07Sql: String =
    """SELECT CASE
      |   WHEN event_type IN ('click','view') THEN 'ENGAGEMENT'
      |   WHEN event_type = 'purchase' THEN 'CONVERSION'
      |   WHEN event_type = 'signup' THEN 'ACQUISITION'
      |   WHEN event_type = 'error' THEN 'FAILURE'
      |   ELSE 'UNKNOWN' END AS event_kind,
      | COUNT(*) AS events_count,
      | COUNT(DISTINCT user_id) AS distinct_users,
      | ROUND(SUM(value),4) AS sum_value
      |FROM events GROUP BY 1 ORDER BY event_kind""".stripMargin

  /** SCD Type-1 latest-per-key via row_number.
    * Reference: APPLY CHANGES ... SEQUENCE BY block_timestamp STORED
    * AS SCD TYPE 1 (Silver Lake Mainnet - SCD tables.sql:10-44) and
    * the `accounts` BQ view row_number()-desc dedup
    * (BQ Writer Views & Data Dictionary.py:364-386).
    * Scale: one shuffle on the key; at 100 TB prefer pre-bucketed
    * state tables so the window reuses the bucketing. */
  def q08LatestPerKey(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    Tables.events(s, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(
        col("user_id"),
        col("event_id").as("last_event_id"),
        col("event_type").as("last_event_type"),
        round(col("value"), 4).as("last_value"))
      .orderBy("user_id")
  }

  val q08Sql: String =
    """SELECT user_id, event_id AS last_event_id,
      | event_type AS last_event_type, ROUND(value,4) AS last_value
      |FROM (
      |  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events)
      |WHERE rn = 1 ORDER BY user_id""".stripMargin

  /** Daily count-distinct rollup.
    * Reference: the README flagship query — daily unique signers per
    * contract (README.md "How many unique users ... per day"). */
  def q09DailyActive(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(to_date(col("ts")).as("event_date"))
      .agg(
        countDistinct(col("user_id")).as("active_users"),
        count(lit(1)).as("events_count"),
        round(sum(col("value")), 4).as("sum_value"))
      .orderBy("event_date")

  val q09Sql: String =
    """SELECT CAST(ts AS DATE) AS event_date,
      | COUNT(DISTINCT user_id) AS active_users,
      | COUNT(*) AS events_count,
      | ROUND(SUM(value),4) AS sum_value
      |FROM events GROUP BY 1 ORDER BY event_date""".stripMargin

  /** Epoch-style grouped min/max/count-distinct rollup.
    * Reference: silver_epochs — GROUP BY epoch_id with MIN/MAX
    * heights, COUNT DISTINCT authors
    * (Epochs and validators Silver Pipeline.py:60-78). */
  def q10EpochRollup(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy(date_trunc("month", col("o_orderdate")).cast("date").as("order_month"))
      .agg(
        min(col("o_orderkey")).as("min_order_key"),
        max(col("o_orderkey")).as("max_order_key"),
        countDistinct(col("o_custkey")).as("distinct_customers"),
        count(lit(1)).as("orders_count"),
        round(sum(col("o_totalprice")), 2).as("sum_total_price"))
      .orderBy("order_month")

  val q10Sql: String =
    """SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS order_month,
      | MIN(o_orderkey) AS min_order_key,
      | MAX(o_orderkey) AS max_order_key,
      | COUNT(DISTINCT o_custkey) AS distinct_customers,
      | COUNT(*) AS orders_count,
      | ROUND(SUM(o_totalprice),2) AS sum_total_price
      |FROM orders GROUP BY 1 ORDER BY order_month""".stripMargin

  /** Key + bounded-time-interval join.
    * Reference: silver_action_function_call_methods joins receipts to
    * outcomes on key AND a 1-day time bound
    * (Silver Lake Mainnet - SCD tables.sql:96-118).
    * Scale: equi-key dominates the join; the range predicate is a
    * post-filter, so this stays a hash join, not a cartesian. */
  def q11RangeJoin(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir),
        col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") >= col("o_orderdate") &&
          col("l_shipdate") <= col("o_orderdate") + expr("INTERVAL 90 DAYS"))
      .select(
        col("l_orderkey").as("order_key"),
        col("l_linenumber").as("line_number"),
        col("l_shipdate").as("ship_date"),
        col("o_orderdate").as("order_date"))
      .orderBy("order_key", "line_number")

  val q11Sql: String =
    """SELECT l_orderkey AS order_key, l_linenumber AS line_number,
      | l_shipdate AS ship_date, o_orderdate AS order_date
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      | AND l_shipdate >= o_orderdate
      | AND l_shipdate <= o_orderdate + INTERVAL 90 DAY
      |ORDER BY order_key, line_number""".stripMargin

  /** Double-entry expansion: one input row conditionally becomes N
    * output rows via inline(filter(array(struct(...)))).
    * Reference: FT transfer events expand to mint/burn/transfer
    * double-entry rows with exactly this idiom
    * (Silver Lake Mainnet - FT and NFT events.py:63-69). */
  def q12DoubleEntry(s: SparkSession, dir: String): DataFrame = {
    // spread before the inline explode: the gate corpus is one
    // parquet split, so the 2×|lineitem| generate + decimal rounding
    // otherwise run in ONE task (and, above SmallSort's size limit,
    // again under the range sort's sampling job). The added exchange
    // carries five narrow columns, strictly smaller than the exchange
    // the orderBy already pays. Rows unchanged.
    Tables.lineitem(s, dir)
      .select("l_orderkey", "l_linenumber", "l_extendedprice",
        "l_discount", "l_tax")
      .transform(Par.spread(_, col("l_orderkey")))
      .select(
        col("l_orderkey").as("order_key"),
        col("l_linenumber").as("line_number"),
        inline(filter(array(
          struct(
            lit(1).as("keep"),
            lit("charge").as("entry_kind"),
            round(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4).as("amount")),
          struct(
            when(col("l_tax") > 0, 1).otherwise(0).as("keep"),
            lit("tax").as("entry_kind"),
            round(col("l_extendedprice") * col("l_tax"), 4).as("amount"))),
          c => c.getField("keep") === 1)))
      .drop("keep")
      .orderBy("order_key", "line_number", "entry_kind")
  }

  val q12Sql: String =
    """SELECT * FROM (
      | SELECT l_orderkey AS order_key, l_linenumber AS line_number,
      |  'charge' AS entry_kind,
      |  ROUND(l_extendedprice*(1.0-l_discount),4) AS amount
      | FROM lineitem
      | UNION ALL
      | SELECT l_orderkey, l_linenumber, 'tax',
      |  ROUND(l_extendedprice*l_tax,4)
      | FROM lineitem WHERE l_tax > 0)
      |ORDER BY order_key, line_number, entry_kind""".stripMargin

  /** Deterministic global event index via DECIMAL(38,0) arithmetic.
    * Reference: calculate_event_index UDF — (ts*1e16 + shard*1e8 +
    * type_idx*1e6 + row_number) as string
    * (Silver Lake Mainnet - FT and NFT events.py:17-25).
    * Spark-first: no UDF — pure Catalyst decimal arithmetic, fully
    * codegen'd; row_number window provides the per-shard ordinal. */
  def q13EventIndex(s: SparkSession, dir: String): DataFrame = {
    // globally-unique packing, mirroring the reference's field layout:
    // ts_micros·1e10 + shard·1e8 + type_idx·1e6 + ordinal. The
    // ordinal restarts per (type, shard, ts) — bounded by same-
    // microsecond collisions, so it cannot bleed into the type
    // digits at any corpus size; every field has its own digits so
    // indexes are unique across types and shards.
    val typeIdx = when(col("event_type") === "click", 0)
      .when(col("event_type") === "view", 1)
      .when(col("event_type") === "purchase", 2)
      .when(col("event_type") === "signup", 3)
      .when(col("event_type") === "error", 4)
      .otherwise(9)
    val w = Window.partitionBy(col("event_type"), col("shard_id"), col("ts"))
      .orderBy(col("event_id"))
    Tables.events(s, dir)
      .withColumn("shard_id", col("user_id") % 100)
      .withColumn("rn", row_number().over(w) - 1)
      .select(
        col("event_id"),
        (unix_micros(col("ts")).cast("decimal(38,0)") * lit(10000000000L)
          + col("shard_id") * lit(100000000L)
          + typeIdx * lit(1000000L) + col("rn"))
          .cast("decimal(38,0)").cast("string").as("event_index"))
      .orderBy("event_id")
  }

  val q13Sql: String =
    """SELECT event_id,
      | CAST(CAST(CAST(epoch_us(ts) AS DECIMAL(38,0)) * 10000000000
      |   + (user_id % 100) * 100000000
      |   + (CASE event_type WHEN 'click' THEN 0 WHEN 'view' THEN 1
      |       WHEN 'purchase' THEN 2 WHEN 'signup' THEN 3
      |       WHEN 'error' THEN 4 ELSE 9 END) * 1000000
      |   + rn AS DECIMAL(38,0)) AS VARCHAR) AS event_index
      |FROM (
      | SELECT *, row_number() OVER (PARTITION BY event_type, user_id % 100, ts ORDER BY event_id) - 1 AS rn,
      | FROM events)
      |ORDER BY event_id""".stripMargin

  /** Left-semi + left-anti joins.
    * Reference: receipts that did / did not originate from a known
    * transaction (silver_receipt_originated_from_transaction,
    * Silver Lake Mainnet.sql:160-175). */
  def q14SemiAnti(s: SparkSession, dir: String): DataFrame = {
    val customer = Tables.customer(s, dir)
    val orders = Tables.orders(s, dir)
    val active = customer
      .join(orders, col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey").as("cust_key"), lit("active").as("segment_flag"))
    val inactive = customer
      .join(orders, col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey").as("cust_key"), lit("inactive").as("segment_flag"))
    active.unionAll(inactive).orderBy("cust_key")
  }

  val q14Sql: String =
    """SELECT * FROM (
      | SELECT c_custkey AS cust_key, 'active' AS segment_flag
      | FROM customer WHERE c_custkey IN (SELECT o_custkey FROM orders)
      | UNION ALL
      | SELECT c_custkey, 'inactive'
      | FROM customer WHERE c_custkey NOT IN (SELECT o_custkey FROM orders))
      |ORDER BY cust_key""".stripMargin

  /** Top-N per group via rank window.
    * Reference: latest/top row selection per partition, e.g. the
    * accounts view rn=1 pattern generalized
    * (BQ Writer Views & Data Dictionary.py:375-380). */
  def q15TopNPerGroup(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("p_brand"))
      .orderBy(col("p_retailprice").desc, col("p_partkey"))
    Tables.part(s, dir)
      .withColumn("price_rank", row_number().over(w))
      .filter(col("price_rank") <= 3)
      .select(
        col("p_brand").as("brand"),
        col("price_rank"),
        col("p_partkey").as("part_key"),
        round(col("p_retailprice"), 2).as("retail_price"))
      .orderBy("brand", "price_rank")
  }

  val q15Sql: String =
    """SELECT p_brand AS brand, CAST(price_rank AS INT) AS price_rank,
      | p_partkey AS part_key, ROUND(p_retailprice,2) AS retail_price
      |FROM (
      | SELECT *, row_number() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey) AS price_rank
      | FROM part)
      |WHERE price_rank <= 3 ORDER BY brand, price_rank""".stripMargin

  /** String/codec functions: md5, substring, concat, lower, length.
    * Reference: DeployContract code_sha256 derivation — lower(hex(
    * unbase64(...))) and concat-built JSON
    * (Silver Lake Mainnet.sql:219-236). */
  def q16StringCodec(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(
        col("doc_id"),
        md5(col("text").cast("binary")).as("text_md5"),
        substring(col("text"), 1, 16).as("text_prefix"),
        lower(concat(col("lang"), lit(":"), col("source"))).as("lang_source"),
        length(col("text")).as("text_len"),
        upper(hex(col("doc_id"))).as("doc_id_hex"))
      .orderBy("doc_id")

  val q16Sql: String =
    """SELECT doc_id,
      | md5(text) AS text_md5,
      | substring(text,1,16) AS text_prefix,
      | lower(lang || ':' || source) AS lang_source,
      | CAST(length(text) AS INT) AS text_len,
      | upper(to_hex(doc_id)) AS doc_id_hex
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Pivot via conditional aggregation.
    * Reference: validators direction CASE — STAKE/UNSTAKE/WITHDRAW
    * buckets from one stream (Silver Lake Mainnet.sql:441-473). */
  def q17ConditionalPivot(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("user_id"))
      .agg(
        count(when(col("event_type") === "click", 1)).as("clicks"),
        count(when(col("event_type") === "view", 1)).as("views"),
        count(when(col("event_type") === "purchase", 1)).as("purchases"),
        round(sum(when(col("event_type") === "purchase", col("value")).otherwise(0.0)), 4).as("purchase_value"))
      .orderBy("user_id")

  val q17Sql: String =
    """SELECT user_id,
      | COUNT(CASE WHEN event_type='click' THEN 1 END) AS clicks,
      | COUNT(CASE WHEN event_type='view' THEN 1 END) AS views,
      | COUNT(CASE WHEN event_type='purchase' THEN 1 END) AS purchases,
      | ROUND(SUM(CASE WHEN event_type='purchase' THEN value ELSE 0.0 END),4) AS purchase_value
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  /** ROLLUP hierarchical aggregate (region → nation → total).
    * Reference: gold daily vs total supply aggregates
    * (Aggregated Circulating Supply Pipeline.py:318-352). */
  def q18Rollup(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .join(broadcast(Tables.customer(s, dir)), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
      // rollup on the raw join attributes: aliasing before rollup trips
      // Spark's DetectAmbiguousSelfJoin on the Expand-duplicated attrs
      .rollup(col("r_name"), col("n_name"))
      .agg(
        round(sum(col("o_totalprice")), 2).as("total_sales"),
        count(lit(1)).as("orders_count"))
      .select(
        coalesce(col("r_name"), lit("ALL")).as("region_name"),
        coalesce(col("n_name"), lit("ALL")).as("nation_name"),
        col("total_sales"), col("orders_count"))
      .orderBy("region_name", "nation_name")

  val q18Sql: String =
    """SELECT coalesce(region_name,'ALL') AS region_name,
      | coalesce(nation_name,'ALL') AS nation_name,
      | total_sales, orders_count
      |FROM (
      | SELECT r_name AS region_name, n_name AS nation_name,
      |  ROUND(SUM(o_totalprice),2) AS total_sales,
      |  COUNT(*) AS orders_count
      | FROM orders
      | JOIN customer ON o_custkey = c_custkey
      | JOIN nation ON c_nationkey = n_nationkey
      | JOIN region ON n_regionkey = r_regionkey
      | GROUP BY ROLLUP(r_name, n_name))
      |ORDER BY region_name, nation_name""".stripMargin

  /** Sliding window-function aggregates over ordered rows per key.
    * Reference: ROW_NUMBER ordering windows in FT/NFT event pipeline
    * (Silver Lake Mainnet - FT and NFT events.py:70-75). */
  def q19SlidingWindow(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val w3 = w.rowsBetween(-2, Window.currentRow)
    Tables.events(s, dir)
      .select(
        col("user_id"),
        col("event_id"),
        round(avg(col("value")).over(w3), 4).as("moving_avg_value"),
        round(sum(col("value")).over(w3), 4).as("moving_sum_value"),
        round(lag(col("value"), 1).over(w), 4).as("prev_value"))
      .orderBy("user_id", "event_id")
  }

  val q19Sql: String =
    """SELECT user_id, event_id,
      | ROUND(AVG(value) OVER w3, 4) AS moving_avg_value,
      | ROUND(SUM(value) OVER w3, 4) AS moving_sum_value,
      | ROUND(LAG(value, 1) OVER w, 4) AS prev_value
      |FROM events
      |WINDOW
      | w3 AS (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
      | w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |ORDER BY user_id, event_id""".stripMargin

  /** Tumbling time-window aggregation (batch equivalent of the
    * streaming windowed agg; the streaming form lives in
    * graft.streaming and is covered by specs).
    * Reference: DLT watermarked windows
    * (Silver Lake Mainnet - FT and NFT events.py:44-47). */
  def q20TimeBucket(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(window(col("ts"), "1 hour"))
      .agg(
        count(lit(1)).as("events_count"),
        countDistinct(col("user_id")).as("active_users"),
        round(sum(col("value")), 4).as("sum_value"))
      .select(
        col("window.start").as("bucket_start"),
        col("events_count"), col("active_users"), col("sum_value"))
      .orderBy("bucket_start")

  val q20Sql: String =
    """SELECT date_trunc('hour', ts) AS bucket_start,
      | COUNT(*) AS events_count,
      | COUNT(DISTINCT user_id) AS active_users,
      | ROUND(SUM(value),4) AS sum_value
      |FROM events GROUP BY 1 ORDER BY bucket_start""".stripMargin

  /** MERGE-upsert semantics, batch-expressed: source rows replace
    * matched target rows, unmatched rows flow through (WHEN MATCHED
    * UPDATE SET * / WHEN NOT MATCHED INSERT *).
    * Reference: gold_aggregated_circulating_supply MERGE
    * (Aggregated Circulating Supply Pipeline.py:100-110). */
  def q21MergeUpsert(s: SparkSession, dir: String): DataFrame = {
    val events = Tables.events(s, dir)
    def rollup(df: DataFrame): DataFrame =
      df.groupBy(col("user_id")).agg(
        round(sum(col("value")), 4).as("total_value"),
        count(lit(1)).as("events_count"))
    val target = rollup(events.filter(col("ts") < lit("2024-01-20").cast("timestamp")))
      .withColumnRenamed("total_value", "t_total").withColumnRenamed("events_count", "t_count")
    val source = rollup(events.filter(col("ts") >= lit("2024-01-20").cast("timestamp")))
      .withColumnRenamed("total_value", "s_total").withColumnRenamed("events_count", "s_count")
    target.join(source, Seq("user_id"), "full_outer")
      .select(
        col("user_id"),
        coalesce(col("s_total"), col("t_total")).as("total_value"),
        coalesce(col("s_count"), col("t_count")).as("events_count"))
      .orderBy("user_id")
  }

  val q21Sql: String =
    """WITH target AS (
      | SELECT user_id, ROUND(SUM(value),4) AS total_value, COUNT(*) AS events_count
      | FROM events WHERE ts < TIMESTAMP '2024-01-20' GROUP BY user_id
      |), source AS (
      | SELECT user_id, ROUND(SUM(value),4) AS total_value, COUNT(*) AS events_count
      | FROM events WHERE ts >= TIMESTAMP '2024-01-20' GROUP BY user_id
      |)
      |SELECT coalesce(s.user_id, t.user_id) AS user_id,
      | coalesce(s.total_value, t.total_value) AS total_value,
      | coalesce(s.events_count, t.events_count) AS events_count
      |FROM target t FULL OUTER JOIN source s ON t.user_id = s.user_id
      |ORDER BY user_id""".stripMargin

  /** q86's merge cutoff (target = rollup before, source = change
    * rollup after — s42's shared boundary) and staleness horizon
    * (NOT-MATCHED-BY-SOURCE targets last active before it are
    * retention-deleted). */
  private[graft] val q86Cut = graft.streaming.Streaming.s42Cutoff
  private[graft] val q86Stale = "2024-01-08 00:00:00"

  /** q86: the FULL MERGE matrix — q21 covers the upsert half (WHEN
    * MATCHED UPDATE / NOT MATCHED INSERT); production MERGE (Delta's
    * five-clause form) also deletes, in BOTH directions: WHEN MATCHED
    * AND source says delete (the CDC tombstone — last post-cutoff
    * event is an 'error') THEN DELETE; WHEN NOT MATCHED BY SOURCE AND
    * the target row is stale (last activity before [[q86Stale]])
    * THEN DELETE (the retention sweep a MERGE-maintained gold table
    * runs). Batch-expressed as ONE full-outer join + one CASE — no
    * row is visited twice and each surviving row carries its merge
    * `action` in-band (updated / inserted / kept — the Delta MERGE
    * metrics made auditable); deleted rows are pinned by ABSENCE,
    * which the byte-exact oracle and the spec's per-branch recount
    * both check. Money is integer cents (the q60 discipline).
    *
    * Scale: two map-side-combined rollups, one user-keyed full-outer
    * join (co-partitioned — both sides aggregate on the join key, so
    * AQE plans one exchange each and zero extra), one codegen'd CASE;
    * at 100 TB the target side is the MV (a row per user), the
    * source side one day of changes — the q38 incremental shape. */
  def q86MergeFull(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val cents = expr("cast(round(value * 100, 0) as bigint)")
    // branch population planted by user_id residues (the q37 stance —
    // on the natural corpus every user is active on both sides and
    // the matrix would degenerate to q21's upsert half): %7 users are
    // absent from the target (→ INSERT path), %5 users are absent
    // from the source (→ not-matched-by-source), and %10 users' (a
    // subset of %5) target history stops before the staleness horizon
    // (→ retention DELETE); %5-not-%10 users stay fresh (→ kept)
    val target = ev.filter(col("ts") < lit(q86Cut).cast("timestamp") &&
        col("user_id") % 7 =!= 0 &&
        (col("user_id") % 10 =!= 0 ||
          col("ts") < lit(q86Stale).cast("timestamp")))
      .groupBy("user_id").agg(sum(cents).as("t_cents"),
        count(lit(1)).as("t_count"), max(col("ts")).as("t_last"))
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").desc, col("event_id").desc)
    val post = ev.filter(col("ts") >= lit(q86Cut).cast("timestamp") &&
      col("user_id") % 5 =!= 0)
    val source = post.groupBy("user_id").agg(sum(cents).as("s_cents"),
        count(lit(1)).as("s_count"))
      .join(post.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), (col("event_type") === "error").as("s_del")),
        Seq("user_id"))
    target.join(source, Seq("user_id"), "full_outer")
      .withColumn("action",
        when(col("s_count").isNotNull && col("t_count").isNotNull &&
          col("s_del"), lit("delete"))
        .when(col("s_count").isNotNull && col("t_count").isNotNull,
          lit("updated"))
        .when(col("s_count").isNotNull && !col("s_del"), lit("inserted"))
        .when(col("s_count").isNotNull, lit("delete")) // tombstone, no target
        .when(col("t_last") < lit(q86Stale).cast("timestamp"),
          lit("delete")) // not matched by source, stale
        .otherwise(lit("kept")))
      .filter(col("action") =!= "delete")
      .select(col("user_id"), col("action"),
        (coalesce(col("t_cents"), lit(0L)) +
          coalesce(col("s_cents"), lit(0L))).as("total_cents"),
        (coalesce(col("t_count"), lit(0L)) +
          coalesce(col("s_count"), lit(0L))).as("events_count"))
      .orderBy("user_id")
  }

  /** DuckDB oracle for q86: the identical two rollups, latest-event
    * delete flag, full-outer CASE, and absence of every deleted
    * class. */
  val q86Sql: String =
    s"""WITH t AS (
       | SELECT user_id, CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS t_cents,
       |  count(*) AS t_count, max(ts) AS t_last
       | FROM events WHERE ts < TIMESTAMP '$q86Cut'
       |  AND user_id % 7 <> 0
       |  AND (user_id % 10 <> 0 OR ts < TIMESTAMP '$q86Stale')
       | GROUP BY 1),
       |p AS (SELECT * FROM events WHERE ts >= TIMESTAMP '$q86Cut'
       |      AND user_id % 5 <> 0),
       |sd AS (
       | SELECT user_id, (event_type = 'error') AS s_del FROM (
       |  SELECT user_id, event_type, row_number() OVER (
       |   PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
       |  FROM p) WHERE rn = 1),
       |src AS (
       | SELECT p.user_id,
       |  CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS s_cents,
       |  count(*) AS s_count, any_value(s_del) AS s_del
       | FROM p JOIN sd USING (user_id) GROUP BY 1),
       |m AS (
       | SELECT coalesce(t.user_id, s.user_id) AS user_id,
       |  CASE
       |   WHEN s.s_count IS NOT NULL AND t.t_count IS NOT NULL AND s.s_del
       |    THEN 'delete'
       |   WHEN s.s_count IS NOT NULL AND t.t_count IS NOT NULL THEN 'updated'
       |   WHEN s.s_count IS NOT NULL AND NOT s.s_del THEN 'inserted'
       |   WHEN s.s_count IS NOT NULL THEN 'delete'
       |   WHEN t.t_last < TIMESTAMP '$q86Stale' THEN 'delete'
       |   ELSE 'kept' END AS action,
       |  coalesce(t.t_cents, 0) + coalesce(s.s_cents, 0) AS total_cents,
       |  coalesce(t.t_count, 0) + coalesce(s.s_count, 0) AS events_count
       | FROM t FULL OUTER JOIN src s ON t.user_id = s.user_id)
       |SELECT user_id, action, CAST(total_cents AS BIGINT) AS total_cents,
       | CAST(events_count AS BIGINT) AS events_count
       |FROM m WHERE action <> 'delete' ORDER BY user_id""".stripMargin

  /** Bronze→silver JSON round trip: each event serialized into a
    * raw JSON envelope (to_json), then parsed back with an explicit
    * schema (from_json) and a parsed array posexploded — the
    * reference's Autoloader-bronze → DLT-silver parse chain in one
    * query. The oracle is the equivalent plain projection, so any
    * lossiness or mis-parse breaks the hash match.
    * Reference: raw JSON → silver_transactions parse+explode
    * (Mainnet Loader.py; Silver Lake Mainnet.sql:86-105). */
  def q22JsonRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val envelope = to_json(struct(
      col("user_id"), col("event_type"), col("value"),
      array(col("user_id") % 10, col("user_id") % 7).as("shards")))
    val schema = "user_id BIGINT, event_type STRING, value DOUBLE, shards ARRAY<BIGINT>"
    // spread before the serde roundtrip (the q12 rationale): to_json
    // + from_json + posexplode per row otherwise run in the 1-split
    // scan's single task. Rows unchanged.
    Tables.events(s, dir)
      .select("event_id", "user_id", "event_type", "value")
      .transform(Par.spread(_, col("event_id")))
      .select(col("event_id"), envelope.as("payload"))
      .select(col("event_id"), from_json(col("payload"), lit(schema)).as("p"))
      .select(
        col("event_id"),
        col("p.user_id").as("user_id"),
        col("p.event_type").as("event_type"),
        round(col("p.value"), 4).as("value_r"),
        posexplode(col("p.shards")).as(Seq("shard_pos", "shard")))
      .orderBy("event_id", "shard_pos")
  }

  val q22Sql: String =
    """SELECT event_id, user_id, event_type, ROUND(value,4) AS value_r,
      | CAST(unnest([0,1]) AS INT) AS shard_pos,
      | unnest([user_id % 10, user_id % 7]) AS shard
      |FROM events ORDER BY event_id, shard_pos""".stripMargin

  /** base64/unbase64 round trip + sha2-256 content digest — the
    * reference's most-used codec chain (DeployContract code_sha256:
    * lower(hex-digest of unbase64'd payload), args_base64 decode).
    * Reference: Silver Lake Mainnet.sql:227,273; SCD tables.sql:104. */
  def q23CodecChain(s: SparkSession, dir: String): DataFrame = {
    val b64 = base64(col("text").cast("binary"))
    Tables.documents(s, dir)
      .select(
        col("doc_id"),
        // first 60 chars are chunk-safe: Spark MIME-chunks base64
        // output at 76 chars (\r\n) where DuckDB emits one line
        substring(b64, 1, 60).as("payload_b64_prefix"),
        unbase64(b64).cast("string").as("payload_decoded"),
        sha2(col("text").cast("binary"), 256).as("content_sha256"),
        concat(lit("{\"code_sha256\":\""),
          sha2(col("text").cast("binary"), 256), lit("\"}")).as("digest_json"))
      .orderBy("doc_id")
  }

  val q23Sql: String =
    """SELECT doc_id,
      | substring(base64(encode(text)),1,60) AS payload_b64_prefix,
      | decode(from_base64(base64(encode(text)))) AS payload_decoded,
      | lower(sha256(text)) AS content_sha256,
      | '{"code_sha256":"' || lower(sha256(text)) || '"}' AS digest_json
      |FROM documents ORDER BY doc_id""".stripMargin

  /** collect_set aggregation with deterministic ordering — the
    * epoch/validator rollup collects the member sets, not just
    * counts (block_heights, author_account_ids).
    * Reference: Epochs and validators Silver Pipeline.py:59-61. */
  def q24CollectSet(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("user_id"))
      .agg(
        // comma-joined string, not ARRAY: the driver's pandas compare
        // can't sort/hash numpy-array cells (an array column crashes it)
        concat_ws(",", array_sort(collect_set(col("event_type")))).as("event_types"),
        size(collect_set(col("event_type"))).as("distinct_types"),
        count(lit(1)).as("events_count"))
      .orderBy("user_id")

  val q24Sql: String =
    """SELECT user_id,
      | coalesce(string_agg(DISTINCT event_type, ',' ORDER BY event_type), '') AS event_types,
      | CAST(COUNT(DISTINCT event_type) AS INT) AS distinct_types,
      | COUNT(*) AS events_count
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  /** As-of join: each purchase matched to the user's LATEST click at
    * or before the purchase time. Spark has no asof operator; the
    * scalable formulation is union-the-streams + one window pass
    * (carry the last click forward) — a single shuffle on the key,
    * no per-pair explosion, O(n log n) per key. Clicks are deduped
    * per (user, ts) first so tie-breaks are deterministic in both
    * engines. Oracle: DuckDB's native ASOF LEFT JOIN (inclusive).
    * Reference analog: receipts matched to the latest prior
    * block/epoch state (SCD-by-time patterns). */
  def q25AsofJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("event_id")).as("click_id"))
      .select(col("user_id"), col("ts"), lit(0).as("marker"),
        col("click_id"), lit(null).cast("long").as("purchase_id"),
        lit(null).cast("double").as("value"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), lit(1).as("marker"),
        lit(null).cast("long").as("click_id"),
        col("event_id").as("purchase_id"), col("value"))
    // clicks sort before purchases at equal ts (marker 0 < 1) →
    // inclusive as-of semantics, matching DuckDB's l.ts >= r.ts
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("marker"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    clicks.unionAll(purchases)
      .withColumn("asof_click_id", last(col("click_id"), ignoreNulls = true).over(w))
      .withColumn("asof_click_ts",
        last(when(col("marker") === 0, col("ts")), ignoreNulls = true).over(w))
      .filter(col("marker") === 1)
      .select(
        col("user_id"), col("purchase_id"),
        col("ts").as("purchase_ts"),
        col("asof_click_id").as("click_id"),
        col("asof_click_ts").as("click_ts"),
        round(col("value"), 4).as("purchase_value"))
      .orderBy("purchase_id")
  }

  val q25Sql: String =
    """WITH clicks AS (
      | SELECT user_id, ts, MAX(event_id) AS click_id
      | FROM events WHERE event_type='click' GROUP BY user_id, ts),
      |p AS (
      | SELECT user_id, ts, event_id AS purchase_id, value
      | FROM events WHERE event_type='purchase')
      |SELECT p.user_id, p.purchase_id, p.ts AS purchase_ts,
      | c.click_id, c.ts AS click_ts, ROUND(p.value,4) AS purchase_value
      |FROM p ASOF LEFT JOIN clicks c
      | ON p.user_id = c.user_id AND p.ts >= c.ts
      |ORDER BY purchase_id""".stripMargin

  /** Unpivot wide measures into long (measure, amount) rows via
    * stack — the reference's stack() usage generalized.
    * Reference: BQ Writer Views & Data Dictionary.py stack call. */
  def q26Unpivot(s: SparkSession, dir: String): DataFrame = {
    // spread before the stack explode (the q12 rationale): the
    // 3×|lineitem| generate otherwise runs in the 1-split scan's single
    // task. Narrow 5-column exchange. Rows unchanged.
    Tables.lineitem(s, dir)
      .select("l_orderkey", "l_linenumber", "l_extendedprice",
        "l_discount", "l_tax")
      .transform(Par.spread(_, col("l_orderkey")))
      .select(col("l_orderkey").as("order_key"),
        col("l_linenumber").as("line_number"),
        expr("""stack(3,
          'extendedprice', l_extendedprice,
          'discount', l_discount,
          'tax', l_tax) AS (measure, amount)"""))
      .withColumn("amount", round(col("amount"), 4))
      .orderBy("order_key", "line_number", "measure")
  }

  val q26Sql: String =
    """SELECT * FROM (
      | SELECT l_orderkey AS order_key, l_linenumber AS line_number,
      |  'extendedprice' AS measure, ROUND(l_extendedprice,4) AS amount FROM lineitem
      | UNION ALL
      | SELECT l_orderkey, l_linenumber, 'discount', ROUND(l_discount,4) FROM lineitem
      | UNION ALL
      | SELECT l_orderkey, l_linenumber, 'tax', ROUND(l_tax,4) FROM lineitem)
      |ORDER BY order_key, line_number, measure""".stripMargin

  /** Exact interpolated percentiles per group (gold-layer summary
    * statistics; the exact complement of sketch-based quantiles). */
  def q27Percentiles(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy(col("o_orderstatus").as("order_status"))
      .agg(expr("percentile(o_totalprice, array(0.25D, 0.5D, 0.9D))").as("p_raw"),
        count(lit(1)).as("orders_count"))
      .select(
        col("order_status"),
        round(element_at(col("p_raw"), 1), 4).as("p25"),
        round(element_at(col("p_raw"), 2), 4).as("p50"),
        round(element_at(col("p_raw"), 3), 4).as("p90"),
        col("orders_count"))
      .orderBy("order_status")

  val q27Sql: String =
    """SELECT o_orderstatus AS order_status,
      | ROUND(quantile_cont(o_totalprice, 0.25),4) AS p25,
      | ROUND(quantile_cont(o_totalprice, 0.5),4) AS p50,
      | ROUND(quantile_cont(o_totalprice, 0.9),4) AS p90,
      | COUNT(*) AS orders_count
      |FROM orders GROUP BY 1 ORDER BY order_status""".stripMargin

  /** Date-spine gap fill: densify each user's daily activity over
    * the full observed range, zero-filling silent days — the
    * standard lakehouse time-series densification (reference gold
    * daily rollups assume a continuous date axis). The spine is a
    * broadcast cross of users × sequence(min,max) — tiny relative
    * to the fact table. */
  def q28DateSpine(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val range = ev.agg(
      to_date(min(col("ts"))).as("d0"), to_date(max(col("ts"))).as("d1"))
    val spine = ev.select(col("user_id")).distinct()
      .crossJoin(broadcast(range))
      .select(col("user_id"),
        explode(sequence(col("d0"), col("d1"), expr("INTERVAL 1 DAY"))).as("event_date"))
    val daily = ev.groupBy(col("user_id"), to_date(col("ts")).as("event_date"))
      .agg(count(lit(1)).as("events_count"), round(sum(col("value")), 4).as("sum_value"))
    spine.join(daily, Seq("user_id", "event_date"), "left")
      .select(col("user_id"), col("event_date"),
        coalesce(col("events_count"), lit(0L)).as("events_count"),
        coalesce(col("sum_value"), lit(0.0)).as("sum_value"))
      .orderBy("user_id", "event_date")
  }

  val q28Sql: String =
    """WITH range AS (
      | SELECT CAST(MIN(ts) AS DATE) AS d0, CAST(MAX(ts) AS DATE) AS d1 FROM events),
      |spine AS (
      | SELECT u.user_id, CAST(unnest(generate_series(r.d0, r.d1, INTERVAL 1 DAY)) AS DATE) AS event_date
      | FROM (SELECT DISTINCT user_id FROM events) u CROSS JOIN range r),
      |daily AS (
      | SELECT user_id, CAST(ts AS DATE) AS event_date,
      |  COUNT(*) AS events_count, ROUND(SUM(value),4) AS sum_value
      | FROM events GROUP BY 1, 2)
      |SELECT s.user_id, s.event_date,
      | COALESCE(d.events_count, 0) AS events_count,
      | COALESCE(d.sum_value, 0.0) AS sum_value
      |FROM spine s LEFT JOIN daily d
      | ON s.user_id = d.user_id AND s.event_date = d.event_date
      |ORDER BY s.user_id, s.event_date""".stripMargin

  /** Dynamic JSON-key iteration: enumerate the keys of a JSON
    * object (unknown at query-author time), explode them, and
    * extract each key's value through a dynamically-built JSON
    * path — the socialDB pattern where the payload's keys ARE the
    * data. Reference: explode(json_object_keys(...)) +
    * get_json_object(args, concat('$["', key, '"]'))
    * (Silver Lake Mainnet - NEAR Social.sql:66-80).
    * Scale: the document is parsed ONCE per row into MAP&lt;STRING,
    * STRING&gt; and the entries exploded — the json_object_keys +
    * per-key get_json_object formulation re-parses the payload per
    * key (k+1 parses/row), the slowest form at scale. */
  def q29JsonKeys(s: SparkSession, dir: String): DataFrame = {
    val payload = to_json(map_from_arrays(
      array(lit("type"), lit("user"), lit("day")),
      array(col("event_type"), col("user_id").cast("string"),
        to_date(col("ts")).cast("string"))))
    // spread before the JSON roundtrip + explode (the q12 rationale):
    // per-row to_json/from_json serde and the 3× key explode otherwise
    // run in the 1-split scan's single task. Rows unchanged.
    Tables.events(s, dir)
      .select("event_id", "event_type", "user_id", "ts")
      .transform(Par.spread(_, col("event_id")))
      .select(col("event_id"), payload.as("payload"))
      .select(col("event_id"),
        explode(map_entries(from_json(col("payload"), lit("map<string,string>"))))
          .as("kv"))
      .select(
        col("event_id"), col("kv.key").as("obj_key"),
        col("kv.value").as("obj_value"))
      .orderBy("event_id", "obj_key")
  }

  val q29Sql: String =
    """WITH payloads AS (
      | SELECT event_id,
      |  json_object('type', event_type, 'user', CAST(user_id AS VARCHAR),
      |              'day', CAST(CAST(ts AS DATE) AS VARCHAR)) AS payload
      | FROM events)
      |SELECT event_id, obj_key,
      | json_extract_string(payload, '$.' || obj_key) AS obj_value
      |FROM (SELECT event_id, payload, unnest(json_keys(payload)) AS obj_key
      |      FROM payloads)
      |ORDER BY event_id, obj_key""".stripMargin

  /** SCD Type-2 history build — the natural lakehouse extension of
    * q08's SCD1 (reference does SCD1 only: APPLY CHANGES ... STORED
    * AS SCD TYPE 1, Silver Lake Mainnet - SCD tables.sql:10-44; the
    * DLT engine's TYPE 2 mode is the same change stream with
    * half-open validity windows instead of overwrite).
    *
    * The change stream is `events` sequenced by (ts, event_id) per
    * user; the tracked attribute is event_type. Consecutive
    * duplicates are collapsed (a version opens only when the
    * attribute CHANGES — lag() change detection), then each version
    * gets a half-open [valid_from, valid_to) window via lead(), a
    * monotone version number, and an is_current flag on the open
    * tail.
    *
    * Scale: two window passes over ONE shuffle — both windows
    * partition on user_id with the same ordering, so Catalyst plans
    * a single exchange + sort and runs lag-filter-lead-rank in one
    * pipelined stage (PlanSpec pins one exchange). At 100 TB this is
    * the same shape as q08: pre-bucket the change log on the key and
    * the shuffle disappears entirely. */
  def q32Scd2(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(s, dir)
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNull || col("prev_type") =!= col("event_type"))
      .select(
        col("user_id"),
        col("event_type").as("attr_value"),
        col("ts").as("valid_from"),
        lead(col("ts"), 1).over(w).as("valid_to"),
        row_number().over(w).as("version"),
        lead(col("ts"), 1).over(w).isNull.as("is_current"))
      .orderBy("user_id", "version")
  }

  /** The SCD2 dimension as a DuckDB CTE chain — ONE body shared by
    * q32's gate and q47's point-in-time join, so the dimension the
    * PIT join probes is definitionally q32's. */
  private val q32DimCte: String =
    """seq AS (
      | SELECT user_id, event_type, ts, event_id,
      |  lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
      | FROM events),
      |chg AS (
      | SELECT user_id, event_type, ts, event_id FROM seq
      | WHERE prev_type IS NULL OR prev_type <> event_type),
      |dim AS (
      | SELECT user_id, event_type AS attr_value, ts AS valid_from,
      |  lead(ts) OVER w AS valid_to,
      |  CAST(row_number() OVER w AS INT) AS version,
      |  (lead(ts) OVER w IS NULL) AS is_current
      | FROM chg
      | WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))""".stripMargin

  val q32Sql: String =
    s"""WITH $q32DimCte
       |SELECT user_id, attr_value, valid_from, valid_to, version, is_current
       |FROM dim ORDER BY user_id, version""".stripMargin

  /** q33: bucketed co-located fact-fact join — the storage-layout
    * answer to the shuffle SURVEY §4 promises to avoid. Both orders
    * and lineitem are written `bucketBy(8, orderkey).sortBy(orderkey)`
    * (external-path tables in the in-memory catalog — no Hive
    * metastore needed), so the subsequent join reads bucket i
    * against bucket i and Spark plans a SortMergeJoin with NO
    * ShuffleExchange on either side (PlanSpec pins zero exchanges
    * below the join; the merge hint keeps AQE from substituting a
    * broadcast at toy scale, since the point is the fact-fact
    * regime where NEITHER side broadcasts). At 100 TB this is the
    * difference between re-shuffling two corpus-sized tables per
    * join and a pure scan-side merge: the shuffle is paid ONCE at
    * write time and amortized over every downstream join on the key
    * — the lakehouse layout the reference's receipts⋈blocks views
    * would use (BQ Writer Views.py clusters by the join key for the
    * same reason).
    *
    * Oracle: bucketing changes LAYOUT, never semantics — DuckDB
    * computes the identical join+rollup from the raw parquet. */
  def q33BucketedJoin(s: SparkSession, dir: String): DataFrame = {
    // scratch path + per-JVM-token table names: two concurrent
    // sessions (bench + test suite on one host) must not race on one
    // catalog entry with mode=overwrite — the q30/q31 Export stance,
    // now applied to the catalog too. scratch() also
    // registers the dir for cleanup-on-exit, so bucket files no
    // longer accumulate in /tmp across runs.
    // bucket-table construction behind the build/probe split (the
    // q42/s48/d37 criterion): the bucketed layout is state a
    // warehouse CARRIES — written once, amortized over every
    // downstream join — so bench passes 2+ time the shuffle-free
    // join face alone; Verify/specs/library callers still write on
    // every invocation (BuildCache is a no-op for them)
    // the cached value is the pair of RESOLVED table Datasets, not
    // the catalog names: the body drops the catalog entries below
    // (hygiene), and a resolved plan holds the bucketed
    // file relations (bucket spec included) independent of the
    // catalog, so a memoized probe replans the same shuffle-free join
    val (o, l) = graft.BuildCache.build(s"q33:$dir") {
      val tmp = graft.sources.Export.scratch("q33_buckets", dir)
      val tok = graft.sources.Export.sessionToken
      val ot = s"graft_bucketed_orders_$tok"
      val lt = s"graft_bucketed_lineitem_$tok"
      Tables.orders(s, dir)
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
        .write.mode("overwrite").format("parquet")
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .option("path", s"$tmp/orders_b").saveAsTable(ot)
      Tables.lineitem(s, dir)
        .select("l_orderkey", "l_extendedprice", "l_discount")
        .write.mode("overwrite").format("parquet")
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .option("path", s"$tmp/lineitem_b").saveAsTable(lt)
      val ods = s.table(ot)
      val lds = s.table(lt)
      // the Datasets above are ANALYZED eagerly, so their plans hold
      // the resolved bucketed file relations — dropping the catalog
      // entries now leaves no dangling names in the session catalog
      // while execution still reads the bucket files
      // (EXTERNAL tables: DROP removes metadata only; Export.scratch
      // reclaims the files at JVM exit).
      s.sql(s"DROP TABLE IF EXISTS $ot")
      s.sql(s"DROP TABLE IF EXISTS $lt")
      (ods, lds)
    }
    val joined = o.hint("merge")
      .join(l, o("o_orderkey") === l("l_orderkey"))
      .groupBy("o_orderpriority")
      .agg(
        count(lit(1)).as("n_items"),
        // DECIMAL sum, not a rounded double sum: with ~10^5 rows per
        // group the double partial-agg addition ORDER differs between
        // engines and a 4-dp round landed on a half-ULP tie at sf0.1
        // (…8477 vs …8476, caught by exact_audit). The per-row
        // product rounds to decimal(20,6) identically in both
        // engines; decimal addition is exact and order-independent,
        // so the group sum is byte-stable at ANY scale — the q13
        // exact-arithmetic stance.
        // the exact (38,6) sum is then emitted as STRING: the
        // driver's two hash paths canonicalize decimals through
        // different host types (DuckDB result → float64, Spark
        // parquet → object Decimal), so a decimal-typed
        // OUTPUT column can never hash-match; strings map identically
        // on both paths (the q13 event_index precedent). The
        // arithmetic stays exact decimal internally.
        sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(20,6)")).cast("decimal(38,6)")
          .cast("string").as("revenue"))
      .orderBy("o_orderpriority")
    joined
  }

  val q33Sql: String =
    """SELECT o_orderpriority, COUNT(*) AS n_items,
      | CAST(CAST(SUM(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(20,6)))
      |   AS DECIMAL(38,6)) AS VARCHAR) AS revenue
      |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** Bit-interleave of the low 16 bits of two nonnegative long
    * columns — the Z-order (Morton) value. Pure integer shift/mask
    * arithmetic over a constant-bounds sequence: identical in both
    * dialects, codegen'd, no UDF. */
  private[graft] def zInterleave(xCol: String, yCol: String): Column = expr(
    s"""aggregate(sequence(0, 15), 0L, (acc, i) ->
       | acc + shiftleft(shiftright($xCol, i) & 1, 2*i)
       |     + shiftleft(shiftright($yCol, i) & 1, 2*i+1))""".stripMargin)

  /** q34: Z-order clustered layout — the third leg of the storage-
    * layout family (q31 partitions by time, q33 buckets on a join
    * key, q34 CLUSTERS on two filter dimensions at once): the Delta
    * `OPTIMIZE ZORDER BY` / BigQuery multi-column clustering shape,
    * which the reference's BQ tables use for their (block_date,
    * height-range) pruning. Orders get a Morton z-value interleaving
    * customer key and order day; files are laid out by z-bucket
    * (top bits of z — a deterministic pure function of the row, so
    * the layout is replayable, unlike sampled range partitioning),
    * which makes every file's footer min/max TIGHT IN BOTH
    * dimensions simultaneously — a 1-D sort is tight in its leading
    * column only. At 100 TB this is what turns a 2-D box predicate
    * (customer range × date range) into a file-skipping scan that
    * reads the curve cells the box intersects instead of every file
    * that matches the leading dimension; ExportSpec measures the
    * bucket rectangles and pins the skip rate.
    *
    * The one scalar driver read (max z, to size the bucket shift) is
    * the q30 high-watermark stance: one aggregated value, never a
    * row loop. Oracle: layout never changes semantics — DuckDB runs
    * the same interleave arithmetic and box query on the raw table;
    * z_min/z_max in the output pin the Morton math itself
    * cross-engine, not just the filtered aggregate. */
  def q34Zorder(s: SparkSession, dir: String): DataFrame = {
    // z-layout construction behind the build/probe split (the
    // q33/q42 criterion): the z-ordered layout is carried warehouse
    // state; bench passes 2+ time the skipping read face alone
    val out = graft.BuildCache.build(s"q34:$dir") {
      val base = Tables.orders(s, dir)
        .withColumn("zx", col("o_custkey") % 65536L)
        .withColumn("zy",
          datediff(to_date(col("o_orderdate")), to_date(lit("1995-01-01")))
            .cast("long") % 65536L)
        .withColumn("zval", zInterleave("zx", "zy"))
        .drop("zx", "zy")
      // coalesce: max over an EMPTY orders table is NULL — getLong
      // would NPE; 0 makes k=0, a single bucket, still sound
      val zmax = base.agg(coalesce(max("zval"), lit(0L))).head.getLong(0)
      // shift so ~32 z-aligned cells cover the populated z-range
      val k = math.max(64 - java.lang.Long.numberOfLeadingZeros(zmax) - 5, 0)
      val o = graft.sources.Export.scratch("q34_zorder", dir)
      // spread on the bucket: orders' bytes are small at gate SFs, so
      // a coalescible exchange ran the z-sort + write in ONE task.
      // Same-key rows land in one task either way, so each zbucket
      // directory still gets exactly one file — the layout (and
      // ExportSpec's measured skip rate) is unchanged.
      base.withColumn("zbucket", expr(s"shiftright(zval, $k)"))
        .transform(Par.spread(_, col("zbucket")))
        .sortWithinPartitions("zval")
        .write.mode("overwrite").partitionBy("zbucket").parquet(o)
      o
    }
    Tables.parquet(s, out)
      .filter(col("o_custkey").between(100, 200) &&
        to_date(col("o_orderdate")).between(lit("1997-01-01"), lit("1997-12-31")))
      .groupBy("o_orderpriority")
      .agg(
        count(lit(1)).as("n_orders"),
        // exact decimal sum, emitted as STRING — the q33 stance:
        // decimal output columns hash asymmetrically in the driver,
        // so the exact (38,6) value crosses as VARCHAR
        sum(col("o_totalprice").cast("decimal(20,6)"))
          .cast("decimal(38,6)").cast("string").as("revenue"),
        min("zval").as("z_min"),
        max("zval").as("z_max"))
      .orderBy("o_orderpriority")
  }

  val q34Sql: String =
    """WITH z AS (
      | SELECT o_orderpriority, o_totalprice, o_custkey,
      |  CAST(o_orderdate AS DATE) AS od,
      |  list_sum(list_transform(generate_series(0, 15), i ->
      |    ((((o_custkey % 65536) >> i) & 1) << (2*i))
      |    + (((((CAST(o_orderdate AS DATE) - DATE '1995-01-01') % 65536) >> i) & 1) << (2*i+1))))
      |   AS zval
      | FROM orders)
      |SELECT o_orderpriority, count(*) AS n_orders,
      | CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(20,6))) AS DECIMAL(38,6)) AS VARCHAR) AS revenue,
      | CAST(MIN(zval) AS BIGINT) AS z_min, CAST(MAX(zval) AS BIGINT) AS z_max
      |FROM z
      |WHERE o_custkey BETWEEN 100 AND 200
      | AND od BETWEEN DATE '1997-01-01' AND DATE '1997-12-31'
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** q35: snapshot change feed (Delta CDF `table_changes()` /
    * BigQuery CHANGES — the mechanism the reference's BQ Writer
    * would consume instead of its high-watermark extracts): given
    * two versions of a keyed table, emit one row per changed key
    * labeled insert / update_preimage+update_postimage / delete.
    * Here the two versions are s42's APPLY CHANGES target before and
    * after the cutoff (both persisted to scratch parquet, read back —
    * real snapshots, not plan branches), so the CDC chain is closed:
    * s42 APPLIES a change stream, q35 RECOVERS one from the results.
    *
    * Shape: ONE full-outer join on the key classifies everything;
    * update rows emit both images (the Delta CDF contract) via a
    * 2-element explode on the matched-and-different branch. One
    * shuffle per side on the key — and both sides being snapshots of
    * the same table, at scale they'd share a bucketed layout (q33)
    * and the join would be exchange-free.
    *
    * Oracle: both snapshots are deterministic latest-per-key
    * selections, so DuckDB rebuilds them as CTEs and replays the
    * same outer-join classification. */
  def q35SnapshotDiff(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.Streaming
    val ev = Tables.events(s, dir)
    val scratch = graft.sources.Export.scratch("q35_snapshots", dir)
    Streaming.applyChangesSnapshot(ev.filter(col("ts") <= lit(Streaming.s42Cutoff)))
      .filter(col("event_type") =!= "error")
      .write.mode("overwrite").parquet(s"$scratch/v1")
    Streaming.applyChangesSnapshot(ev)
      .filter(col("event_type") =!= "error")
      .write.mode("overwrite").parquet(s"$scratch/v2")
    val v1 = Tables.parquet(s, s"$scratch/v1").select(
      col("user_id"), col("event_id").as("old_event_id"),
      col("event_type").as("old_type"), round(col("value"), 4).as("old_value"))
    val v2 = Tables.parquet(s, s"$scratch/v2").select(
      col("user_id"), col("event_id").as("new_event_id"),
      col("event_type").as("new_type"), round(col("value"), 4).as("new_value"))
    v1.join(v2, Seq("user_id"), "full_outer")
      .withColumn("change_type", when(col("old_event_id").isNull, "insert")
        .when(col("new_event_id").isNull, "delete")
        .when(col("old_event_id") === col("new_event_id"), "unchanged")
        .otherwise("update"))
      .filter(col("change_type") =!= "unchanged")
      // the Delta CDF contract: updates carry BOTH images
      .select(col("user_id"), explode(when(col("change_type") === "update",
          array(lit("update_preimage"), lit("update_postimage")))
        .otherwise(array(col("change_type")))).as("change_type"),
        col("old_event_id"), col("old_type"), col("old_value"),
        col("new_event_id"), col("new_type"), col("new_value"))
      .select(col("user_id"), col("change_type"),
        when(col("change_type").isin("delete", "update_preimage"),
          col("old_event_id")).otherwise(col("new_event_id")).as("event_id"),
        when(col("change_type").isin("delete", "update_preimage"),
          col("old_type")).otherwise(col("new_type")).as("event_type"),
        when(col("change_type").isin("delete", "update_preimage"),
          col("old_value")).otherwise(col("new_value")).as("value"))
      .orderBy("user_id", "change_type")
  }

  val q35Sql: String =
    s"""WITH ranked AS (
      | SELECT *, row_number() OVER (PARTITION BY user_id
      |   ORDER BY ts DESC, event_id DESC) AS rn
      | FROM events WHERE ts <= TIMESTAMP '${graft.streaming.Streaming.s42Cutoff}'),
      |v1 AS (SELECT user_id, event_id AS old_event_id, event_type AS old_type,
      |        ROUND(value,4) AS old_value FROM ranked
      |       WHERE rn = 1 AND event_type <> 'error'),
      |ranked2 AS (
      | SELECT *, row_number() OVER (PARTITION BY user_id
      |   ORDER BY ts DESC, event_id DESC) AS rn
      | FROM events),
      |v2 AS (SELECT user_id, event_id AS new_event_id, event_type AS new_type,
      |        ROUND(value,4) AS new_value FROM ranked2
      |       WHERE rn = 1 AND event_type <> 'error'),
      |classified AS (
      | SELECT coalesce(v1.user_id, v2.user_id) AS user_id,
      |  v1.* EXCLUDE (user_id), v2.* EXCLUDE (user_id),
      |  CASE WHEN v1.user_id IS NULL THEN 'insert'
      |       WHEN v2.user_id IS NULL THEN 'delete'
      |       WHEN old_event_id = new_event_id THEN 'unchanged'
      |       ELSE 'update' END AS ct
      | FROM v1 FULL OUTER JOIN v2 ON v1.user_id = v2.user_id),
      |expanded AS (
      | SELECT user_id, unnest(CASE WHEN ct = 'update'
      |    THEN ['update_preimage', 'update_postimage'] ELSE [ct] END) AS change_type,
      |  old_event_id, old_type, old_value, new_event_id, new_type, new_value
      | FROM classified WHERE ct <> 'unchanged')
      |SELECT user_id, change_type,
      | CASE WHEN change_type IN ('delete', 'update_preimage')
      |      THEN old_event_id ELSE new_event_id END AS event_id,
      | CASE WHEN change_type IN ('delete', 'update_preimage')
      |      THEN old_type ELSE new_type END AS event_type,
      | CASE WHEN change_type IN ('delete', 'update_preimage')
      |      THEN old_value ELSE new_value END AS value
      |FROM expanded
      |ORDER BY user_id, change_type""".stripMargin

  /** q77's version boundaries: version 0 is the base snapshot at the
    * first cutoff; versions 1–3 append one change window each (the
    * middle boundary is s42's shared cutoff, so this chain IS s42's
    * incremental apply generalized to a version history). Version 3
    * is the head. */
  private[graft] val q77Cutoffs = Seq(
    "2024-01-08 00:00:00",
    graft.streaming.Streaming.s42Cutoff,
    "2024-01-23 00:00:00")

  /** A chain's version split over `bounds`: the base window is every
    * event at or before bounds(0); log k is (bounds(k−1), bounds(k)]
    * for k < head and the open tail (bounds(head−1), ∞) at the head,
    * head = bounds.size. Every written chain and s74's live fold cut
    * their versions here, so a reader's versions and a stream's
    * commits cannot drift. */
  private[graft] def chainWindows(ev: DataFrame,
      bounds: Seq[String]): (DataFrame, Seq[DataFrame]) =
    (ev.filter(col("ts") <= lit(bounds.head)),
      bounds.indices.map { i =>
        val after = col("ts") > lit(bounds(i))
        ev.filter(if (i + 1 < bounds.size) after && col("ts") <= lit(bounds(i + 1))
          else after)
      })

  /** Persist the version chain over `bounds`: the v0 base snapshot
    * (latest-per-key INCLUDING tombstones — they keep their sequence
    * so stale updates still lose, the s42 stance) plus one change-log
    * parquet `changes_k` per version window, k = 1..bounds.size. Real
    * artifacts, not plan branches — a reader holds only the base and
    * the logs, exactly Delta's checkpoint + commit-log layout. */
  private[graft] def writeChain(s: SparkSession, dir: String, tag: String,
      bounds: Seq[String]): String = {
    val ev = Tables.events(s, dir)
      .select("user_id", "event_id", "ts", "event_type", "value")
    val (base, logs) = chainWindows(ev, bounds)
    val out = graft.sources.Export.scratch(tag, dir)
    graft.streaming.Streaming.applyChangesSnapshot(base)
      .write.mode("overwrite").parquet(s"$out/v0")
    logs.zipWithIndex.foreach { case (log, i) =>
      log.write.mode("overwrite").parquet(s"$out/changes_${i + 1}")
    }
    out
  }

  /** The commit logs changes_(a..b] of a chain as one union (a < b). */
  private[graft] def logWindow(s: SparkSession, chain: String,
      a: Int, b: Int): DataFrame =
    (a + 1 to b).map(i => Tables.parquet(s, s"$chain/changes_$i"))
      .reduce(_.unionByName(_))

  /** Read AS OF version k: the snapshot artifact `base` (holding
    * version `from` — the genesis `v0` at 0, a checkpoint above it)
    * plus the logs (from, k], replayed through the ONE latest-per-key
    * rule ([[graft.streaming.Streaming.applyChangesSnapshot]]) —
    * replay(v0, changes ≤ k) IS the versioned table; k = from reads
    * the base alone (already latest-per-key; the re-apply is a no-op
    * on it). A version below the base's is gone, so reading it is a
    * fail-fast, not a wrong answer. `keys` restricts the replay to a
    * key set BEFORE the latest-per-key window (safe — the window
    * partitions by user_id, so restricting keys commutes with it):
    * q93's Δ-restricted pre-image read, which must happen BELOW the
    * window or the feed pays an O(table) shuffle for a tiny change
    * window (Spark cannot push a join below a window). */
  private[graft] def replay(s: SparkSession, chain: String, base: String,
      from: Int, k: Int, keys: Option[DataFrame] = None): DataFrame = {
    require(k >= from, s"version $k is below the base's version $from")
    val snap = Tables.parquet(s, s"$chain/$base")
    val all = if (k == from) snap else snap.unionByName(logWindow(s, chain, from, k))
    val scoped = keys.fold(all)(ks => all.join(ks, Seq("user_id"), "left_semi"))
    graft.streaming.Streaming.applyChangesSnapshot(scoped)
  }

  /** q77: time-travel read — q35's two-snapshot diff generalized to
    * a version-parameterized read over a PERSISTED change chain (the
    * Delta `VERSION AS OF` contract): the registered face reads a
    * MIDDLE version (k = 2 — neither base nor head, so both the
    * replay and the truncation genuinely bite) and serves it through
    * s42's shared serving view. InvariantSpec quantifies the closure
    * over EVERY version: replay(v0, changes ≤ k) == the direct
    * snapshot at cutoff k, artifact-level including tombstones, for
    * k = 0..3, and pins the head to s42's registered output.
    *
    * Scale: a versioned read is the base snapshot plus k bounded
    * change logs — one union + one latest-per-key shuffle; at scale
    * base and logs share a user-bucketed layout (q33) and the
    * replay is exchange-free. The chain write is 4 bounded exports
    * (the q30/q35 persisted-artifact stance). */
  def q77TimeTravel(s: SparkSession, dir: String): DataFrame = {
    val chain = writeChain(s, dir, "q77_chain", q77Cutoffs)
    graft.streaming.Streaming.applyServing(replay(s, chain, "v0", 0, 2))
  }

  /** q78's retention horizon: versions strictly below it lose their
    * logs; the checkpoint at the horizon becomes the new base. */
  private[graft] val q78Horizon = 1

  /** Vacuum a q77 chain IN PLACE to `horizon`: materialize the
    * checkpoint snapshot `ckpt` AS OF horizon (one replay — the Delta
    * checkpoint write), then DELETE the base and the compacted logs.
    * Order matters: the checkpoint is written and durable BEFORE
    * anything is removed, so a crash mid-vacuum never loses a
    * readable version. Deletion is O(#files) metadata. */
  private[graft] def q78VacuumChain(s: SparkSession, chain: String,
      horizon: Int): Unit = {
    replay(s, chain, "v0", 0, horizon).write.mode("overwrite").parquet(s"$chain/ckpt")
    graft.sources.Export.deleteTree(s"$chain/v0")
    (1 to horizon).foreach(k =>
      graft.sources.Export.deleteTree(s"$chain/changes_$k"))
  }

  /** q78: VACUUM / retention — time travel's other half (q77 reads
    * any version; q78 bounds how far back "any" goes, which is what
    * makes a 100 TB change chain storable): checkpoint the table AS
    * OF the horizon, delete the base and compacted logs in place,
    * keep serving every surviving version IDENTICALLY. The
    * registered face reads the SAME middle version q77 serves, but
    * through the vacuumed chain — so its oracle IS q77's (retention
    * must be invisible above the horizon; the q42/q31 shared-oracle
    * stance). InvariantSpec pins the full contract: every surviving
    * version byte-equal to its pre-vacuum read, below-horizon reads
    * fail fast, and the dropped artifacts are genuinely gone.
    *
    * Scale: the checkpoint is ONE replay of (old base + horizon
    * logs) — the same one-union-one-window plan as any read; the
    * deletes are O(#files) metadata; nothing else moves. */
  def q78Retention(s: SparkSession, dir: String): DataFrame = {
    // chain write + vacuum are both construction: the deletes are
    // part of the lifecycle, and memoizing them keeps the vacuumed
    // chain exactly as a fresh build leaves it
    val chain = graft.BuildCache.build(s"q78:$dir") {
      val c = writeChain(s, dir, "q78_chain", q77Cutoffs)
      q78VacuumChain(s, c, q78Horizon)
      c
    }
    graft.streaming.Streaming.applyServing(replay(s, chain, "ckpt", q78Horizon, 2))
  }

  /** DuckDB oracle for q77: the direct latest-per-key snapshot at
    * version 2's cutoff — time travel must be indistinguishable from
    * having queried the table back then. */
  val q77Sql: String =
    s"""SELECT user_id, event_id AS last_event_id,
       | event_type AS last_event_type, ROUND(value, 4) AS last_value
       |FROM (
       |  SELECT *, row_number() OVER (PARTITION BY user_id
       |    ORDER BY ts DESC, event_id DESC) AS rn
       |  FROM events WHERE ts <= TIMESTAMP '${q77Cutoffs(2)}')
       |WHERE rn = 1 AND event_type <> 'error'
       |ORDER BY user_id""".stripMargin

  /** q81's restore commit timestamp — strictly beyond every event ts
    * in the chain (the data spans January 2024; see q77Cutoffs), so a
    * restore row always wins latest-per-key against any historical
    * row for its key. */
  private[graft] val q81RestoreTs = "2024-12-31 00:00:00"

  /** The compensating change log RESTORE appends: one row per key
    * whose head state differs from the target version's state. Keys
    * inserted after the target version get a tombstone (event_type
    * 'error' — hidden at serving, the s42 delete rule); keys whose
    * latest event changed after the target get the target's row
    * RE-ASSERTED under the restore timestamp. State identity is the
    * winning event_id (event ids are unique), so no value comparison
    * enters. The log is bounded by the diff, never the table. */
  private[graft] def q81RestoreLog(s: SparkSession, chain: String,
      k: Int): DataFrame = {
    val head = replay(s, chain, "v0", 0, q77Cutoffs.size)
    val target = replay(s, chain, "v0", 0, k)
      .withColumnsRenamed(Map("event_id" -> "t_event_id",
        "event_type" -> "t_event_type", "value" -> "t_value"))
      .drop("ts")
    head.join(target, Seq("user_id"), "left")
      .filter(col("t_event_id").isNull ||
        col("t_event_id") =!= col("event_id"))
      .select(
        col("user_id"),
        coalesce(col("t_event_id"), col("event_id")).as("event_id"),
        lit(q81RestoreTs).cast("timestamp").as("ts"),
        coalesce(col("t_event_type"), lit("error")).as("event_type"),
        coalesce(col("t_value"), col("value")).as("value"))
  }

  /** The version RESTORE rolls back to — the middle boundary
    * (s42Cutoff), so both the tombstone and the re-assert branches
    * genuinely populate. */
  private[graft] val q81Target = 1

  /** q81: RESTORE TABLE TO VERSION k — time travel's write half (q77
    * reads any version; q78 bounds retention; q81 makes an old
    * version the CURRENT one): restore is a NEW commit whose content
    * equals version k, appended through the same change-log mechanics
    * every other write uses — history is preserved, never rewritten
    * (Delta's RESTORE writes a compensating commit; a reader can
    * still time-travel to the pre-restore head). The compensating
    * log tombstones keys inserted after k and re-asserts keys whose
    * state moved; replaying the chain THROUGH the restore commit must
    * be indistinguishable from having queried at version k — the
    * oracle is the direct latest-per-key snapshot at k's cutoff (the
    * q77 gate property, applied to the post-restore head).
    * InvariantSpec pins: serving equality to the target version at
    * artifact level, pre-restore versions still readable and
    * unchanged, restore-to-head appends an EMPTY log (identity), and
    * the log row count equals the key diff exactly.
    *
    * Scale: the diff is one keyed join of two MV-sized snapshots
    * (a row per key, not per event — at scale both sides share the
    * q33 bucketed layout and the join is exchange-free); the commit
    * appends O(diff) rows; nothing is rewritten. */
  def q81Restore(s: SparkSession, dir: String): DataFrame = {
    // chain + restore-commit construction behind the build/probe
    // split (q92's sibling — the version chain is carried
    // state, the post-restore AS OF read is the served face)
    // the restore commit is the version after the chain's head
    val restoreV = q77Cutoffs.size + 1
    val chain = graft.BuildCache.build(s"q81:$dir") {
      val c = writeChain(s, dir, "q81_chain", q77Cutoffs)
      val log = q81RestoreLog(s, c, q81Target)
      log.write.mode("overwrite").parquet(s"$c/changes_$restoreV")
      val replayed = Tables.parquet(s, s"$c/changes_$restoreV")
      require(!replayed.isEmpty, "q81: the restore must genuinely bite")
      c
    }
    graft.streaming.Streaming.applyServing(replay(s, chain, "v0", 0, restoreV))
  }

  /** DuckDB oracle for q81: the direct snapshot at the TARGET
    * version's cutoff — a restored table must be indistinguishable
    * from the table as of the version it restored to. */
  val q81Sql: String =
    s"""SELECT user_id, event_id AS last_event_id,
       | event_type AS last_event_type, ROUND(value, 4) AS last_value
       |FROM (
       |  SELECT *, row_number() OVER (PARTITION BY user_id
       |    ORDER BY ts DESC, event_id DESC) AS rn
       |  FROM events WHERE ts <= TIMESTAMP '${q77Cutoffs(q81Target)}')
       |WHERE rn = 1 AND event_type <> 'error'
       |ORDER BY user_id""".stripMargin

  /** q92's version boundaries: a LONGER chain than q77's (6 change
    * windows over the January data) so checkpoint placement genuinely
    * matters — version k's cutoff is q92Bounds(k) for k ≤ 5, version
    * 6 is the open tail (the head). */
  private[graft] val q92Bounds = Seq(
    "2024-01-05 00:00:00", "2024-01-09 00:00:00", "2024-01-13 00:00:00",
    "2024-01-17 00:00:00", "2024-01-21 00:00:00", "2024-01-25 00:00:00")

  /** Checkpoint cadence: a snapshot parquet every K commits (Delta
    * writes checkpoint.parquet every 10; 3 here so the 6-version
    * chain holds two). */
  private[graft] val q92Interval = 3

  /** q92's head version. */
  private[graft] val q92Head = q92Bounds.size

  /** The version the registered face reads: checkpoint-UNALIGNED and
    * neither base nor head, so the read must combine a checkpoint
    * with trailing deltas — both mechanisms bite. */
  private[graft] val q92ReadVersion = 5

  /** The snapshot artifact holding version v of a checkpointed
    * chain (v a multiple of the cadence): genesis or `ckpt_v`. */
  private def q92Base(v: Int): String = if (v == 0) "v0" else s"ckpt_$v"

  /** Maintain the checkpoints: ckpt_K, ckpt_2K, … each replayed from
    * the PREVIOUS checkpoint plus its K deltas — checkpoint
    * maintenance itself is incremental (O(table + K logs) per
    * checkpoint), never a genesis replay. */
  private[graft] def q92WriteCheckpoints(s: SparkSession, chain: String): Unit =
    (q92Interval to q92Head by q92Interval).foreach { k =>
      val from = k - q92Interval
      replay(s, chain, q92Base(from), from, k)
        .write.mode("overwrite").parquet(s"$chain/ckpt_$k")
    }

  /** Read AS OF version k through the checkpoint index: route to the
    * nearest checkpoint at or below k, replay the ≤ K−1 trailing
    * deltas. This is the read a genesis replay becomes once a chain
    * is long: cost is bounded by the CADENCE, not the table's age.
    * `keys` is [[replay]]'s key restriction. */
  private[graft] def q92AsOf(s: SparkSession, chain: String, k: Int,
      keys: Option[DataFrame] = None): DataFrame = {
    val from = (k / q92Interval) * q92Interval
    replay(s, chain, q92Base(from), from, k, keys)
  }

  /** q92: change-log CHECKPOINTING — the missing piece of the
    * q77/q78/q81 time-travel family:
    * q77's AS OF k replays every delta from genesis, so a year-old
    * table pays its whole history on every read; Delta's answer is a
    * checkpoint snapshot every K commits (checkpoint.parquet), and a
    * reader replays at most K−1 deltas from the nearest checkpoint.
    * The chain here is 6 versions deep with checkpoints at v3 and v6,
    * each checkpoint itself built INCREMENTALLY from its predecessor
    * (never a genesis replay); the registered face reads the
    * checkpoint-unaligned middle version 5 — one checkpoint + two
    * deltas — through the shared serving view. The q77 face is
    * UNCHANGED; q92 is the scale path beside it. InvariantSpec pins
    * replay-from-checkpoint == replay-from-genesis for EVERY version
    * (artifact-level, tombstones included) and that the registered
    * read's plan scans ckpt_3/changes_4/changes_5 and never
    * v0/changes_1..3.
    *
    * Scale: a read is one bounded union (1 checkpoint + < K logs) +
    * one latest-per-key shuffle regardless of chain age; checkpoint
    * maintenance amortizes one table-sized write per K commits; under
    * the q33 user-bucketed layout both are exchange-free. */
  def q92CheckpointedTravel(s: SparkSession, dir: String): DataFrame = {
    // construction (chain + checkpoints) behind the bench's
    // build/probe split; the served read below is the probe
    val chain = graft.BuildCache.build(s"q92:$dir") {
      val c = writeChain(s, dir, "q92_chain", q92Bounds)
      q92WriteCheckpoints(s, c)
      c
    }
    graft.streaming.Streaming.applyServing(q92AsOf(s, chain, q92ReadVersion))
  }

  /** DuckDB oracle for q92: the direct latest-per-key snapshot at
    * version 5's cutoff — routing through a checkpoint must be
    * indistinguishable from having replayed the whole chain (which
    * must be indistinguishable from having queried back then). */
  val q92Sql: String =
    s"""SELECT user_id, event_id AS last_event_id,
       | event_type AS last_event_type, ROUND(value, 4) AS last_value
       |FROM (
       |  SELECT *, row_number() OVER (PARTITION BY user_id
       |    ORDER BY ts DESC, event_id DESC) AS rn
       |  FROM events WHERE ts <= TIMESTAMP '${q92Bounds(q92ReadVersion)}')
       |WHERE rn = 1 AND event_type <> 'error'
       |ORDER BY user_id""".stripMargin

  /** q93's version window: the feed between these two committed
    * versions of the q92 chain — the span crosses the v3 checkpoint,
    * so the k1 state routes through it. */
  private[graft] val q93From = 2
  private[graft] val q93To = 5

  /** The change feed between versions (k1, k2] of a q92 chain,
    * computed the way Delta's CDF reader works — from the COMMIT LOGS
    * of the window, never by diffing two full snapshots:
    * (1) the window's net state per key is one latest-per-key pass
    * over changes_(k1+1..k2) alone (any window row outranks any ≤ k1
    * row by chain construction — the ts windows are disjoint and
    * ordered, so window-latest IS the key's state at k2);
    * (2) the k1 pre-image is fetched only for the keys the window
    * touched (a semi-restricted checkpoint-routed read — O(Δ keys)
    * of state, never the table);
    * (3) q35's serving-level classification labels each key insert /
    * delete / update_preimage+postimage. A key untouched in the
    * window never appears; a tombstone for a never-visible key nets
    * to nothing (serving-level CDF — indistinguishable from diffing
    * the two served snapshots, which is what the oracle does). */
  private[graft] def q93Feed(s: SparkSession, chain: String,
      k1: Int, k2: Int): DataFrame = {
    val net = graft.streaming.Streaming.applyChangesSnapshot(logWindow(s, chain, k1, k2))
    // the Δ restriction is applied INSIDE the replay, below its
    // latest-per-key window — the pre-image genuinely costs O(Δ keys)
    // of shuffle, not O(table)
    cdfFromNet(net, q92AsOf(s, chain, k1, Some(net.select("user_id").distinct())))
  }

  /** The ONE net-CDF assembly — the window's net state classified
    * against the k1 pre-image. Shared by q93 (net from a written
    * chain's logs, pre-image checkpoint-routed) and s75 (net from a
    * stream-maintained ledger, pre-image a snapshot generation), so
    * what a between-versions feed MEANS has one definition. Takes
    * the window's latest-per-key state (tombstones in-band) and the
    * FULL k1 snapshot (tombstones in-band; restricted to changed
    * keys here). */
  private[graft] def cdfFromNet(net: DataFrame, preSnap: DataFrame): DataFrame = {
    val post = net.filter(col("event_type") =!= "error").select(
      col("user_id"), col("event_id").as("new_event_id"),
      col("event_type").as("new_type"), round(col("value"), 4).as("new_value"))
    val pre = preSnap.filter(col("event_type") =!= "error")
      .join(net.select("user_id").distinct(), Seq("user_id"), "left_semi")
      .select(col("user_id"), col("event_id").as("old_event_id"),
        col("event_type").as("old_type"), round(col("value"), 4).as("old_value"))
    pre.join(post, Seq("user_id"), "full_outer")
      .withColumn("change_type", when(col("old_event_id").isNull, "insert")
        .when(col("new_event_id").isNull, "delete")
        .when(col("old_event_id") === col("new_event_id"), "unchanged")
        .otherwise("update"))
      .filter(col("change_type") =!= "unchanged")
      .select(col("user_id"), explode(when(col("change_type") === "update",
          array(lit("update_preimage"), lit("update_postimage")))
        .otherwise(array(col("change_type")))).as("change_type"),
        col("old_event_id"), col("old_type"), col("old_value"),
        col("new_event_id"), col("new_type"), col("new_value"))
      .select(col("user_id"), col("change_type"),
        when(col("change_type").isin("delete", "update_preimage"),
          col("old_event_id")).otherwise(col("new_event_id")).as("event_id"),
        when(col("change_type").isin("delete", "update_preimage"),
          col("old_type")).otherwise(col("new_type")).as("event_type"),
        when(col("change_type").isin("delete", "update_preimage"),
          col("old_value")).otherwise(col("new_value")).as("value"))
      .orderBy("user_id", "change_type")
  }

  /** q93: CHANGE DATA FEED between versions — the read q35 computes
    * by brute force (diffing two full snapshots), served the way a
    * table format serves it (`table_changes(tbl, k1, k2)`): the
    * commit logs in the window ARE the feed, so the cost is O(window
    * deltas + Δ-restricted k1 state) regardless of table size, and
    * the k1 pre-image rides q92's checkpoint routing. Completes the
    * CDC story: s42 applies a feed, q35 recovers one from snapshots,
    * q77/q92 read versions, q93 reads the feed BETWEEN versions.
    * Oracle: q35's classification replayed over the two version
    * cutoffs directly — a log-derived feed must be indistinguishable
    * from diffing the snapshots it connects. InvariantSpec quantifies
    * that equivalence over every version pair on the chain and pins
    * the plan's scan set (the k1 route reads the checkpoint, never
    * genesis).
    *
    * Scale: the window read is |k2−k1| bounded logs; the net pass is
    * one keyed window over window rows; the pre-image join is
    * semi-restricted to changed keys — never two table-sized
    * snapshots (q35 is the verification shape, this is the
    * production one). */
  def q93ChangeFeed(s: SparkSession, dir: String): DataFrame = {
    val chain = graft.BuildCache.build(s"q93:$dir") {
      val c = writeChain(s, dir, "q93_chain", q92Bounds)
      q92WriteCheckpoints(s, c)
      c
    }
    q93Feed(s, chain, q93From, q93To)
  }

  /** The between-versions CDF oracle, parameterized by the two
    * version cutoffs — q35's two-snapshot diff classification as ONE
    * SQL body shared by q93 (written chain) and s75 (live ledger),
    * the ivfRecomputeSql pattern: the classification rule cannot
    * drift between the two feeds' oracles. */
  private[graft] def cdfSql(cut1: String, cut2: String): String =
    s"""WITH ranked AS (
       | SELECT *, row_number() OVER (PARTITION BY user_id
       |   ORDER BY ts DESC, event_id DESC) AS rn
       | FROM events WHERE ts <= TIMESTAMP '$cut1'),
       |v1 AS (SELECT user_id, event_id AS old_event_id, event_type AS old_type,
       |        ROUND(value,4) AS old_value FROM ranked
       |       WHERE rn = 1 AND event_type <> 'error'),
       |ranked2 AS (
       | SELECT *, row_number() OVER (PARTITION BY user_id
       |   ORDER BY ts DESC, event_id DESC) AS rn
       | FROM events WHERE ts <= TIMESTAMP '$cut2'),
       |v2 AS (SELECT user_id, event_id AS new_event_id, event_type AS new_type,
       |        ROUND(value,4) AS new_value FROM ranked2
       |       WHERE rn = 1 AND event_type <> 'error'),
       |classified AS (
       | SELECT coalesce(v1.user_id, v2.user_id) AS user_id,
       |  v1.* EXCLUDE (user_id), v2.* EXCLUDE (user_id),
       |  CASE WHEN v1.user_id IS NULL THEN 'insert'
       |       WHEN v2.user_id IS NULL THEN 'delete'
       |       WHEN old_event_id = new_event_id THEN 'unchanged'
       |       ELSE 'update' END AS ct
       | FROM v1 FULL OUTER JOIN v2 ON v1.user_id = v2.user_id),
       |expanded AS (
       | SELECT user_id, unnest(CASE WHEN ct = 'update'
       |    THEN ['update_preimage', 'update_postimage'] ELSE [ct] END) AS change_type,
       |  old_event_id, old_type, old_value, new_event_id, new_type, new_value
       | FROM classified WHERE ct <> 'unchanged')
       |SELECT user_id, change_type,
       | CASE WHEN change_type IN ('delete', 'update_preimage')
       |      THEN old_event_id ELSE new_event_id END AS event_id,
       | CASE WHEN change_type IN ('delete', 'update_preimage')
       |      THEN old_type ELSE new_type END AS event_type,
       | CASE WHEN change_type IN ('delete', 'update_preimage')
       |      THEN old_value ELSE new_value END AS value
       |FROM expanded
       |ORDER BY user_id, change_type""".stripMargin

  /** DuckDB oracle for q93: the shared [[cdfSql]] body at the
    * window's version cutoffs. */
  val q93Sql: String = cdfSql(q92Bounds(q93From), q92Bounds(q93To))

  /** The key-overlap conflict check at the heart of q89: |keys of
    * the prepared commit ∩ keys of every commit with version in
    * (snapshotV, headV]|. Zero means the writer saw every row it
    * touches as of its snapshot — safe to serialize after head;
    * positive means a concurrent commit moved its keys — the write
    * must be rejected and rebased. O(|logs| keys), never the table. */
  private[graft] def q89Overlap(s: SparkSession, chain: String,
      snapshotV: Int, headV: Int, keys: DataFrame): Long =
    if (headV <= snapshotV) 0L
    else logWindow(s, chain, snapshotV, headV).select("user_id").distinct()
      .join(keys, Seq("user_id")).count()

  /** q89's concurrent writers: three prepared commits over the SAME
    * change window, all snapshotted at version 0. W1/W2 partition by
    * user residue mod 3 (provably disjoint — the both-commit case);
    * W3's %5 slice straddles both (the planted conflict). */
  private[graft] def q89Logs(ev: DataFrame): Seq[(String, DataFrame)] = {
    val win = chainWindows(ev, q77Cutoffs)._2.head
    Seq("w1" -> win.filter(col("user_id") % 3 === 0),
      "w2" -> win.filter(col("user_id") % 3 === 1),
      "w3" -> win.filter(col("user_id") % 5 === 0))
  }

  /** q89: OPTIMISTIC concurrency control — the commit protocol that
    * makes a multi-writer lakehouse table safe (Delta's
    * ConflictChecker / Iceberg's validation): writers never lock;
    * each snapshots the table, prepares a change log, and at commit
    * time validates its WRITE SET (distinct keys) against every
    * commit that landed after its snapshot — disjoint serializes
    * (commit wins a new version), overlapping REJECTS (the writer
    * must rebase onto the new head and retry). Three concurrent
    * writers over q77's chain mechanics: W1 and W2 touch disjoint
    * key residues and both land; W3 straddles both, is rejected with
    * its measured overlap, rebases to the then-current head, and
    * lands on retry. The registered face is the ATTEMPTS LEDGER —
    * (attempt, writer, snapshot_version, write_keys, overlap_keys,
    * outcome, version) — every value data-derived, so the oracle
    * replays the whole protocol (key counts, overlap counts, the
    * accept/reject rule, version assignment) byte-exactly;
    * InvariantSpec additionally pins the rejection non-vacuous, the
    * chain's final serving state == base + all three logs replayed,
    * and first-attempt-accept iff overlap = 0. q89 fail-stops unless
    * a rejection genuinely occurred (the planted conflict must
    * bite).
    *
    * Scale: validation reads only the logs since the snapshot —
    * O(Δ keys), never the table (the Delta commit-log read); a
    * commit appends its log (O(new rows)); rejection costs the
    * writer one rebase, not a lock. */
  def q89OptimisticCommit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
      .select("user_id", "event_id", "ts", "event_type", "value")
    val chain = graft.sources.Export.scratch("q89_chain", dir)
    graft.streaming.Streaming.applyChangesSnapshot(chainWindows(ev, q77Cutoffs)._1)
      .write.mode("overwrite").parquet(s"$chain/v0")
    var head = 0
    var attemptId = 0
    val rows = scala.collection.mutable.Buffer
      .empty[(Int, String, Int, Long, Long, String, Int)]
    def attempt(writer: String, log: DataFrame, snapshotV: Int): Boolean = {
      attemptId += 1
      val keys = log.select("user_id").distinct()
      val nKeys = keys.count()
      val overlap = q89Overlap(s, chain, snapshotV, head, keys)
      if (overlap == 0L) {
        head += 1
        log.write.mode("overwrite").parquet(s"$chain/changes_$head")
        rows += ((attemptId, writer, snapshotV, nKeys, 0L, "committed", head))
        true
      } else {
        rows += ((attemptId, writer, snapshotV, nKeys, overlap, "rejected", -1))
        false
      }
    }
    // all three snapshot at v0 (concurrent); commits serialize in
    // arrival order; a rejected writer rebases once to the current
    // head and retries
    q89Logs(ev).foreach { case (w, log) =>
      if (!attempt(w, log, 0)) attempt(w, log, head)
    }
    require(rows.exists(_._6 == "rejected"),
      "q89: the planted conflict must genuinely reject")
    require(head == 3, s"q89: all writers must eventually land (head=$head)")
    rows.toSeq.toDF("attempt", "writer", "snapshot_version", "write_keys",
      "overlap_keys", "outcome", "version").orderBy("attempt")
  }

  /** DuckDB oracle for q89: the same write sets, the same overlap
    * arithmetic, the same accept/reject rule (outcome derived from
    * the measured overlap, never hardcoded), and the retry row
    * emitted only when the first attempt rejected. W1/W2's residue
    * slices are disjoint by construction, which fixes the version
    * numbering the literals encode. */
  val q89Sql: String =
    s"""WITH w AS (
       | SELECT DISTINCT user_id, user_id % 3 AS r3, user_id % 5 AS r5
       | FROM events
       | WHERE ts > TIMESTAMP '${q77Cutoffs(0)}'
       |   AND ts <= TIMESTAMP '${q77Cutoffs(1)}'),
       |k1 AS (SELECT user_id FROM w WHERE r3 = 0),
       |k2 AS (SELECT user_id FROM w WHERE r3 = 1),
       |k3 AS (SELECT user_id FROM w WHERE r5 = 0),
       |o2 AS (SELECT count(*) AS o FROM k2
       |       WHERE user_id IN (SELECT user_id FROM k1)),
       |o3 AS (SELECT count(*) AS o FROM k3
       |       WHERE user_id IN (SELECT user_id FROM k1
       |                         UNION SELECT user_id FROM k2))
       |SELECT * FROM (
       | SELECT 1 AS attempt, 'w1' AS writer, 0 AS snapshot_version,
       |  (SELECT count(*) FROM k1) AS write_keys,
       |  CAST(0 AS BIGINT) AS overlap_keys,
       |  'committed' AS outcome, 1 AS version
       | UNION ALL
       | SELECT 2, 'w2', 0, (SELECT count(*) FROM k2),
       |  CASE WHEN (SELECT o FROM o2) = 0 THEN 0
       |       ELSE (SELECT o FROM o2) END,
       |  CASE WHEN (SELECT o FROM o2) = 0 THEN 'committed'
       |       ELSE 'rejected' END,
       |  CASE WHEN (SELECT o FROM o2) = 0 THEN 2 ELSE -1 END
       | UNION ALL
       | SELECT 3, 'w3', 0, (SELECT count(*) FROM k3),
       |  CASE WHEN (SELECT o FROM o3) = 0 THEN 0
       |       ELSE (SELECT o FROM o3) END,
       |  CASE WHEN (SELECT o FROM o3) = 0 THEN 'committed'
       |       ELSE 'rejected' END,
       |  CASE WHEN (SELECT o FROM o3) = 0 THEN 3 ELSE -1 END
       | UNION ALL
       | SELECT 4, 'w3', 2, (SELECT count(*) FROM k3),
       |  CAST(0 AS BIGINT), 'committed', 3
       | WHERE (SELECT o FROM o3) > 0)
       |ORDER BY attempt""".stripMargin

  /** q96's gating conjunction: EXACTLY q40's drop rules (the audit
    * is the DLT expectations contract run as a COMMIT GATE — one
    * rule-table definition, so the audit can never disagree with the
    * q40/s47 meters on what "clean" means). */
  // lazy: q40Rules is defined further down the object body (init
  // order, not semantics)
  private[graft] lazy val q96GateConj: String =
    q40Rules.filter(_._2 == "drop").map { case (_, _, p) => s"($p)" }
      .mkString(" AND ")

  /** The planted writer bug q96's rejected attempt stages: a broken
    * codec upper-cases every fifth event's type — 'CLICK' is not in
    * the known-type domain, so the audit's own rule catches it (the
    * q89 planted-conflict stance: the failure is injected, the
    * DETECTION is entirely data-derived). Dialect-neutral string,
    * evaluated verbatim by both engines. */
  private[graft] val q96CorruptExpr: String =
    "CASE WHEN event_id % 5 = 0 THEN upper(event_type) ELSE event_type END"

  /** q96: WRITE-AUDIT-PUBLISH — the staged-commit pattern (Iceberg
    * WAP / Netflix's audit pipeline; `spark.wap.id` + cherry-pick):
    * a writer never appends to the live table — it stages its output
    * as a real artifact, the audit runs q40's drop rules ON THE
    * STAGED FILES, and only a zero-violation batch is published by
    * ADOPTING those files into the table (file-level copy — the
    * cherry-pick; no row is rewritten between audit and publish, so
    * what was audited IS what readers see). Three attempts over the
    * q77 window boundaries: a clean batch publishes (v1), the same
    * writer's next batch carries the planted codec bug and is
    * REJECTED — the table version and bytes do not move — and the
    * fixed retry publishes (v2). The face is the attempts ledger,
    * every value data-derived (violation counts measured by the
    * audit, versions and published-row totals folded from the
    * decisions), so the oracle replays the entire protocol; the
    * operator fail-stops unless the rejection genuinely bit AND the
    * final table's row count equals the ledger's last
    * published_rows_after (the published artifact, not the plan, is
    * what got counted). InvariantSpec pins the rest: table files
    * byte-identical across the rejected attempt, final content ==
    * base ∪ both published batches, and the staged reject's files
    * absent from the table.
    *
    * Scale (100 TB): staging is the write the pipeline was doing
    * anyway; the audit is q40's one-scan conditional-sum pass over
    * ONLY the staged batch (never the table); publish is O(#files)
    * metadata adoption; a rejected batch costs zero table I/O. */
  /** q96's writers: the clean first window, the same second window
    * once with the planted codec bug and once fixed — staged in
    * submission order. */
  private[graft] def q96Batches(s: SparkSession, dir: String)
      : (DataFrame, Seq[(String, DataFrame)]) = {
    val cleaned = Tables.events(s, dir)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .filter(expr(q96GateConj))
    val (base, logs) = chainWindows(cleaned, q77Cutoffs)
    val winB = logs(1).withColumn("event_type", expr(q96CorruptExpr))
    (base, Seq("w_a" -> logs(0), "w_b" -> winB, "w_c" -> logs(1)))
  }

  /** The audit: q40's gating conjunction as one conditional-sum scan
    * of the staged artifact. Returns (rows, violations). */
  private[graft] def q96Audit(s: SparkSession, staged: String): (Long, Long) = {
    val a = Tables.parquet(s, staged).agg(count(lit(1)),
      sum(when(expr(q96GateConj), 0L).otherwise(1L))).head
    (a.getLong(0), a.getLong(1))
  }

  /** Publish = adopt the audited files into the table's next commit
    * directory — O(#files) metadata, no row rewritten between audit
    * and publish. */
  private[graft] def q96Publish(staged: String, table: String,
      version: Int): Unit = {
    val tgt = java.nio.file.Paths.get(s"$table/commit_$version")
    java.nio.file.Files.createDirectories(tgt)
    graft.sources.Export.listParquet(staged).foreach { p =>
      val pp = java.nio.file.Paths.get(p)
      java.nio.file.Files.copy(pp, tgt.resolve(pp.getFileName),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
  }

  def q96Wap(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (base, batches) = q96Batches(s, dir)
    val table = graft.sources.Export.scratch("q96_table", dir)
    val stage = graft.sources.Export.scratch("q96_stage", dir)
    graft.sources.Export.deleteTree(table)
    base.write.mode("overwrite").parquet(s"$table/commit_0")
    val baseN = Tables.parquet(s, s"$table/commit_0").count()
    var version = 0
    var published = baseN
    var attemptId = 0
    val rows = scala.collection.mutable.Buffer
      .empty[(Int, String, Long, Long, String, Int, Long)]
    batches.foreach { case (writer, batch) =>
      attemptId += 1
      val staged = s"$stage/attempt_$attemptId"
      batch.write.mode("overwrite").parquet(staged)
      // the audit runs on the staged ARTIFACT — what will be adopted
      val (n, viol) = q96Audit(s, staged)
      if (viol == 0L) {
        version += 1
        q96Publish(staged, table, version)
        published += n
        rows += ((attemptId, writer, n, 0L, "published", version, published))
      } else
        rows += ((attemptId, writer, n, viol, "rejected", version, published))
    }
    require(rows.count(_._5 == "rejected") == 1 && rows.exists(_._4 > 0L),
      "q96: the planted audit failure must genuinely reject")
    val tableN = Tables.parquet(s, Seq(table), Map("recursiveFileLookup" -> "true"))
      .count()
    require(tableN == published,
      s"q96: table holds $tableN rows, ledger says $published")
    rows.toSeq.toDF("attempt", "writer", "staged_rows", "violations",
      "decision", "version_after", "published_rows_after")
      .orderBy("attempt")
  }

  /** DuckDB oracle for q96: the same cleaned windows, the same
    * corruption expression, the same audit sums, and the decision /
    * version / published-total folds computed compositionally from
    * each attempt's own measured violations — never hardcoded. */
  lazy val q96Sql: String = {
    val gate = q96GateConj
    s"""WITH cleaned AS (
       | SELECT event_id, ts, user_id, event_type, value FROM events
       | WHERE $gate),
       |base AS (SELECT CAST(count(*) AS BIGINT) AS n FROM cleaned
       |         WHERE ts <= TIMESTAMP '${q77Cutoffs(0)}'),
       |sa AS (SELECT * FROM cleaned
       |       WHERE ts > TIMESTAMP '${q77Cutoffs(0)}'
       |         AND ts <= TIMESTAMP '${q77Cutoffs(1)}'),
       |sc AS (SELECT * FROM cleaned
       |       WHERE ts > TIMESTAMP '${q77Cutoffs(1)}'
       |         AND ts <= TIMESTAMP '${q77Cutoffs(2)}'),
       |sb AS (SELECT event_id, ts, user_id,
       |        $q96CorruptExpr AS event_type, value FROM sc),
       |aa AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |        CAST(coalesce(sum(CASE WHEN $gate THEN 0 ELSE 1 END), 0)
       |          AS BIGINT) AS v FROM sa),
       |ab AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |        CAST(coalesce(sum(CASE WHEN $gate THEN 0 ELSE 1 END), 0)
       |          AS BIGINT) AS v FROM sb),
       |ac AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |        CAST(coalesce(sum(CASE WHEN $gate THEN 0 ELSE 1 END), 0)
       |          AS BIGINT) AS v FROM sc),
       |f AS (SELECT base.n AS bn, aa.n AS an, aa.v AS av,
       |       ab.n AS bn2, ab.v AS bv, ac.n AS cn, ac.v AS cv,
       |       CASE WHEN aa.v = 0 THEN 1 ELSE 0 END AS ok1,
       |       CASE WHEN ab.v = 0 THEN 1 ELSE 0 END AS ok2,
       |       CASE WHEN ac.v = 0 THEN 1 ELSE 0 END AS ok3
       |      FROM base, aa, ab, ac)
       |SELECT * FROM (
       | SELECT 1 AS attempt, 'w_a' AS writer, an AS staged_rows,
       |  av AS violations,
       |  CASE WHEN ok1 = 1 THEN 'published' ELSE 'rejected' END AS decision,
       |  ok1 AS version_after,
       |  bn + ok1 * an AS published_rows_after FROM f
       | UNION ALL
       | SELECT 2, 'w_b', bn2, bv,
       |  CASE WHEN ok2 = 1 THEN 'published' ELSE 'rejected' END,
       |  ok1 + ok2, bn + ok1 * an + ok2 * bn2 FROM f
       | UNION ALL
       | SELECT 3, 'w_c', cn, cv,
       |  CASE WHEN ok3 = 1 THEN 'published' ELSE 'rejected' END,
       |  ok1 + ok2 + ok3, bn + ok1 * an + ok2 * bn2 + ok3 * cn FROM f)
       |ORDER BY attempt""".stripMargin
  }

  // ---- q103: multi-table atomic publish (fact + MV, one commit) ----

  /** q103's fact delta for version k (1-based): the [[q77Cutoffs]]
    * windows — v1 is everything up to the first cutoff, v2/v3 the
    * following windows. */
  private[graft] def q103Delta(s: SparkSession, dir: String, k: Int): DataFrame = {
    val ev = Tables.events(s, dir)
      .select("event_id", "ts", "user_id", "event_type", "value")
    val (base, logs) = chainWindows(ev, q77Cutoffs)
    if (k == 1) base else logs(k - 2)
  }

  /** The MV grain: mergeable per-event_type partials (count + exact
    * cents), the q38 stance. */
  private[graft] def q103Partials(facts: DataFrame): DataFrame =
    facts.groupBy("event_type").agg(
      count(lit(1)).as("n_events"),
      sum(expr("cast(round(value * 100, 0) as bigint)")).as("value_cents"))

  private[graft] def q103MvMerge(state: DataFrame, delta: DataFrame): DataFrame =
    state.unionByName(delta).groupBy("event_type").agg(
      sum(col("n_events")).as("n_events"),
      sum(col("value_cents")).as("value_cents"))

  /** Stage version k's DATA artifacts — the fact commit directory and
    * the full MV snapshot (previous snapshot + the delta's partials,
    * computed from the adopted files themselves, never from history)
    * — WITHOUT moving the commit pointer. After this call both
    * artifacts are durable but INVISIBLE: a manifest reader still
    * serves k-1. */
  private[graft] def q103WriteArtifacts(s: SparkSession, root: String,
      k: Int, delta: DataFrame): Unit = {
    delta.write.mode("overwrite").parquet(s"$root/fact/commit_$k")
    val part = q103Partials(Tables.parquet(s, s"$root/fact/commit_$k"))
    val mv = if (k == 1) part
      else q103MvMerge(Tables.parquet(s, s"$root/mv/v_${k - 1}"), part)
    mv.write.mode("overwrite").parquet(s"$root/mv/v_$k")
  }

  /** The COMMIT POINT: one manifest file naming version k. Creating
    * this single file is the only action that changes what readers
    * see, and it happens strictly after BOTH tables' artifacts are
    * durable — so no reader schedule can observe fact k with MV k-1
    * or vice versa. (Iceberg's snapshot-pointer swap, reduced to its
    * engine-semantics core: atomicity of a multi-table commit = one
    * pointer write, not N.) */
  private[graft] def q103PublishManifest(root: String, k: Int): Unit = {
    val dir = java.nio.file.Paths.get(s"$root/manifest")
    java.nio.file.Files.createDirectories(dir)
    java.nio.file.Files.writeString(dir.resolve(s"v_$k"),
      s"""{"version":$k,"fact_commits":$k,"mv":"v_$k"}""")
  }

  private[graft] def q103Commit(s: SparkSession, root: String, k: Int,
      delta: DataFrame): Unit = {
    q103WriteArtifacts(s, root, k, delta)
    q103PublishManifest(root, k)
  }

  /** Resolve the published head: max manifest version, 0 if none.
    * A metadata-dir listing — O(#versions), driver-side by design. */
  private[graft] def q103Head(root: String): Int = {
    val d = new java.io.File(s"$root/manifest")
    val vs = Option(d.listFiles()).getOrElse(Array.empty)
      .flatMap(f => f.getName.stripPrefix("v_").toIntOption)
    if (vs.isEmpty) 0 else vs.max
  }

  /** Manifest-resolved readers: BOTH tables at the SAME version —
    * the fact table as the union of commits 1..k, the MV as snapshot
    * v_k. Readers never list data directories (a torn write is
    * invisible by construction: its files are not in any commit the
    * manifest names). */
  private[graft] def q103FactAt(s: SparkSession, root: String, k: Int): DataFrame =
    Tables.parquet(s, (1 to k).map(i => s"$root/fact/commit_$i"))
  private[graft] def q103MvAt(s: SparkSession, root: String, k: Int): DataFrame =
    Tables.parquet(s, s"$root/mv/v_$k")

  /** q103: MULTI-TABLE ATOMIC PUBLISH — the missing joint between
    * q96 (WAP: audit-then-adopt for ONE table) and q38/q88 (MV
    * algebra with real persisted state): a gold pipeline publishes a
    * fact table AND its aggregate MV, and a reader must never
    * observe them desynced — fact at k joined to MV at k-1 is how
    * dashboards double-count a day. q103 runs the full lifecycle:
    * three versions, each staging fact commit + merged MV snapshot
    * as durable-but-invisible artifacts, then ONE manifest-file
    * write as the commit point for BOTH tables. The face serves
    * every published version THROUGH the manifest and fail-stops the
    * law the operator exists for: at every version, the served MV
    * equals the joint recompute over the manifest's own fact commits
    * (no desync is servable). InvariantSpec proves the mid-commit
    * schedule: with version 3's artifacts fully written but the
    * manifest not yet, a manifest reader serves version 2 of BOTH
    * tables (and a directory-listing reader would see the torn
    * state — the manifest is load-bearing, not decorative).
    *
    * Scale (100 TB): staging is the write the pipeline already does;
    * the MV merge touches MV-sized state + one delta's partials
    * (never history); the commit point is one O(bytes-of-JSON) file
    * create regardless of data volume; version reads are manifest-
    * pruned scans of exactly the named commits. */
  def q103AtomicPublish(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // the three-version publish lifecycle is construction (the
    // bench's build/probe split); the manifest-resolved serving
    // below is the probe
    val root = graft.BuildCache.build(s"q103:$dir") {
      val r = graft.sources.Export.scratch("q103_pub", dir)
      graft.sources.Export.deleteTree(r)
      (1 to 3).foreach(k => q103Commit(s, r, k, q103Delta(s, dir, k)))
      r
    }
    val head = q103Head(root)
    require(head == 3, s"q103: expected head 3, manifest says $head")
    val served = (1 to head).map { k =>
      val mv = q103MvAt(s, root, k)
      val joint = q103Partials(q103FactAt(s, root, k))
      // the desync law, checked on the SERVED artifacts themselves
      require(mv.exceptAll(joint).isEmpty && joint.exceptAll(mv).isEmpty,
        s"q103: version $k MV desynced from its fact commits")
      mv.withColumn("version", lit(k))
    }.reduce(_.unionByName(_))
    served.select("version", "event_type", "n_events", "value_cents")
      .orderBy("version", "event_type")
  }

  /** DuckDB oracle for q103: the joint recompute at each published
    * version's cutoff — served-through-manifest must be
    * indistinguishable from never having split the publish. */
  val q103Sql: String =
    s"""WITH v(version, cutoff) AS (VALUES
       |  (1, TIMESTAMP '${q77Cutoffs(0)}'),
       |  (2, TIMESTAMP '${q77Cutoffs(1)}'),
       |  (3, TIMESTAMP '${q77Cutoffs(2)}'))
       |SELECT v.version, e.event_type,
       | CAST(count(*) AS BIGINT) AS n_events,
       | CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS value_cents
       |FROM v JOIN events e ON e.ts <= v.cutoff
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** q36: lockup/vesting schedule evaluation — the reference's
    * lockups API arithmetic (rust-extract-apis/lockups/src/
    * lockup.rs:105-200, itself a copy of near/core-contracts
    * lockup/getters.rs) re-expressed as a DISTRIBUTED scan-stage
    * computation instead of an account-at-a-time RPC service: per
    * key, locked(t) = amount before the lockup timestamp, afterwards
    * max(unreleased, unvested) where unreleased decays linearly over
    * the release window and unvested is cliff-then-linear over the
    * vesting window — the exact shape `get_locked_amount` /
    * `get_unvested_amount` compute per account, evaluated here for
    * every key × 4 literal checkpoint timestamps in one pass.
    *
    * Arithmetic fidelity: the contract uses U256 floor division
    * (amount × time_left / duration). amount × micros products reach
    * ~10²⁵ — past bigint — so the Spark side computes in
    * decimal(38,0) with `div` (truncation toward zero = floor for
    * the nonnegative operands here) and DuckDB in HUGEINT with `//`;
    * both floor identically, so the oracle pins the integer math
    * bit-for-bit. Schedules derive deterministically from the events
    * table (start = each user's first event; amount a pure function
    * of user_id — the t43 planted-data stance); one shuffle (the
    * min-ts rollup), then a 4-way literal-array explode and pure
    * projection. */
  def q36LockupSchedule(s: SparkSession, dir: String): DataFrame = {
    val day = 86400000000L // one day of microseconds
    val checkpoints = Seq("2024-01-05", "2024-01-12", "2024-01-25", "2024-02-20")
      .map(d => s"TIMESTAMP '$d 00:00:00'").mkString("array(", ",", ")")
    Tables.events(s, dir)
      .groupBy("user_id")
      .agg(min(unix_micros(col("ts"))).as("start_u"))
      .withColumn("amount",
        (lit(1000000000000L) + col("user_id") * lit(1000000007L)))
      .withColumn("lockup_u", col("start_u") + lit(2L * day))   // transfers + lockup_duration
      .withColumn("rel_end_u", col("lockup_u") + lit(20L * day)) // release window
      .withColumn("cliff_u", col("start_u") + lit(4L * day))    // vesting cliff
      .withColumn("vest_end_u", col("start_u") + lit(16L * day)) // vesting end
      .select(col("*"),
        explode(expr(s"transform($checkpoints, t -> unix_micros(t))")).as("t_u"))
      .withColumn("unreleased", expr(
        """CASE WHEN t_u >= rel_end_u THEN 0L
          |     ELSE (CAST(amount AS DECIMAL(38,0)) * (rel_end_u - t_u))
          |            div (rel_end_u - lockup_u) END""".stripMargin))
      .withColumn("unvested", expr(
        """CASE WHEN t_u < cliff_u THEN amount
          |     WHEN t_u >= vest_end_u THEN 0L
          |     ELSE (CAST(amount AS DECIMAL(38,0)) * (vest_end_u - t_u))
          |            div (vest_end_u - start_u) END""".stripMargin))
      .select(col("user_id"),
        timestamp_micros(col("t_u")).as("checkpoint"),
        col("amount"),
        when(col("t_u") < col("lockup_u"), col("amount"))
          .otherwise(greatest(col("unreleased"), col("unvested"))).as("locked"))
      .withColumn("unlocked", col("amount") - col("locked"))
      .orderBy("user_id", "checkpoint")
  }

  val q36Sql: String =
    """WITH sched AS (
      | SELECT user_id,
      |  epoch_us(min(ts)) AS start_u,
      |  1000000000000 + user_id * 1000000007 AS amount
      | FROM events GROUP BY user_id),
      |win AS (
      | SELECT user_id, amount, start_u,
      |  start_u + 2  * 86400000000 AS lockup_u,
      |  start_u + 22 * 86400000000 AS rel_end_u,
      |  start_u + 4  * 86400000000 AS cliff_u,
      |  start_u + 16 * 86400000000 AS vest_end_u
      | FROM sched),
      |pts AS (
      | SELECT f.*, epoch_us(t.t) AS t_u
      | FROM win f CROSS JOIN (
      |   SELECT unnest([TIMESTAMP '2024-01-05 00:00:00',
      |                  TIMESTAMP '2024-01-12 00:00:00',
      |                  TIMESTAMP '2024-01-25 00:00:00',
      |                  TIMESTAMP '2024-02-20 00:00:00']) AS t) t),
      |calc AS (
      | SELECT user_id, t_u, amount, lockup_u,
      |  CASE WHEN t_u >= rel_end_u THEN 0
      |       ELSE CAST((CAST(amount AS HUGEINT) * (rel_end_u - t_u))
      |              // (rel_end_u - lockup_u) AS BIGINT) END AS unreleased,
      |  CASE WHEN t_u < cliff_u THEN amount
      |       WHEN t_u >= vest_end_u THEN 0
      |       ELSE CAST((CAST(amount AS HUGEINT) * (vest_end_u - t_u))
      |              // (vest_end_u - start_u) AS BIGINT) END AS unvested
      | FROM pts)
      |SELECT user_id, make_timestamp(t_u) AS checkpoint, amount,
      | locked, amount - locked AS unlocked
      |FROM (
      | SELECT *, CASE WHEN t_u < lockup_u THEN amount
      |                ELSE greatest(unreleased, unvested) END AS locked
      | FROM calc)
      |ORDER BY user_id, checkpoint""".stripMargin

  /** q37: lockup termination & contract-bug variants — the rest of
    * the reference's get_locked_amount (rust-extract-apis/lockups/
    * src/lockup.rs:105-167) that q36 didn't model:
    *  - lockup start = max(transfers_ts + lockup_duration, explicit
    *    lockup_timestamp) — the std::cmp::max at lockup.rs:111;
    *  - termination_withdrawn_tokens: pre-lockup locked is
    *    amount − withdrawn, post-lockup the unreleased leg is
    *    saturating_sub(unreleased, withdrawn) (lockup.rs:151-153);
    *  - VestingInformation::Terminating → unvested is the STORED
    *    constant, overriding the cliff/linear schedule
    *    (lockup.rs:148, :172);
    *  - has_bug (is_bug_inside_contract): the release window starts
    *    at transfers_ts instead of the lockup timestamp
    *    (lockup.rs:122-126) — same 20-day duration, earlier decay.
    * Branch population is the t43 planted-data stance: user_id%3==0
    * gets an explicit lockup timestamp (pins the max), %5==0 the bug
    * variant, %7==0 terminating vesting with withdrawn =
    * (amount div 20)·(user_id%3) — so %35 users compose bug+
    * termination and the 01-25 checkpoint drives saturating_sub to
    * exactly 0 both by equality (user 7) and by clamping (user 35).
    * Same scale shape as q36: one min-ts rollup then a literal
    * explode and pure integer projection. */
  def q37LockupTermination(s: SparkSession, dir: String): DataFrame = {
    val day = 86400000000L
    val checkpoints = Seq("2024-01-05", "2024-01-12", "2024-01-25", "2024-02-20")
      .map(d => s"TIMESTAMP '$d 00:00:00'").mkString("array(", ",", ")")
    Tables.events(s, dir)
      .groupBy("user_id")
      .agg(min(unix_micros(col("ts"))).as("start_u"))
      .withColumn("amount",
        (lit(1000000000000L) + col("user_id") * lit(1000000007L)))
      .withColumn("explicit_u", when(col("user_id") % 3 === 0,
        col("start_u") + lit(3L * day)).otherwise(lit(0L)))
      .withColumn("lockup_u",
        greatest(col("start_u") + lit(2L * day), col("explicit_u")))
      .withColumn("rel_start_u", when(col("user_id") % 5 === 0,
        col("start_u")).otherwise(col("lockup_u"))) // has_bug branch
      .withColumn("rel_end_u", col("rel_start_u") + lit(20L * day))
      .withColumn("withdrawn", when(col("user_id") % 7 === 0,
        expr("(amount div 20) * (user_id % 3)")).otherwise(lit(0L)))
      .withColumn("cliff_u", col("start_u") + lit(4L * day))
      .withColumn("vest_end_u", col("start_u") + lit(16L * day))
      .select(col("*"),
        explode(expr(s"transform($checkpoints, t -> unix_micros(t))")).as("t_u"))
      .withColumn("unreleased", expr(
        // denominator is release_duration (20 d), NOT rel_end−lockup:
        // under has_bug the window starts before lockup, so they differ
        s"""CASE WHEN t_u >= rel_end_u THEN 0L
           |     ELSE (CAST(amount AS DECIMAL(38,0)) * (rel_end_u - t_u))
           |            div ${20L * day} END""".stripMargin))
      .withColumn("unvested", expr(
        """CASE WHEN user_id % 7 = 0 THEN amount div 3
          |     WHEN t_u < cliff_u THEN amount
          |     WHEN t_u >= vest_end_u THEN 0L
          |     ELSE (CAST(amount AS DECIMAL(38,0)) * (vest_end_u - t_u))
          |            div (vest_end_u - start_u) END""".stripMargin))
      .select(col("user_id"),
        timestamp_micros(col("t_u")).as("checkpoint"),
        col("amount"), col("withdrawn"),
        when(col("t_u") < col("lockup_u"), col("amount") - col("withdrawn"))
          .otherwise(greatest(
            greatest(col("unreleased") - col("withdrawn"), lit(0L)),
            col("unvested"))).as("locked"))
      .withColumn("liquid", col("amount") - col("withdrawn") - col("locked"))
      .orderBy("user_id", "checkpoint")
  }

  val q37Sql: String = {
    val day = 86400000000L
    s"""WITH sched AS (
       | SELECT user_id,
       |  epoch_us(min(ts)) AS start_u,
       |  1000000000000 + user_id * 1000000007 AS amount
       | FROM events GROUP BY user_id),
       |win AS (
       | SELECT user_id, amount, start_u,
       |  greatest(start_u + ${2L * day},
       |   CASE WHEN user_id % 3 = 0 THEN start_u + ${3L * day} ELSE 0 END) AS lockup_u,
       |  CASE WHEN user_id % 5 = 0 THEN start_u
       |   ELSE greatest(start_u + ${2L * day},
       |    CASE WHEN user_id % 3 = 0 THEN start_u + ${3L * day} ELSE 0 END)
       |  END + ${20L * day} AS rel_end_u,
       |  CASE WHEN user_id % 7 = 0 THEN (amount // 20) * (user_id % 3)
       |   ELSE 0 END AS withdrawn,
       |  start_u + ${4L * day} AS cliff_u,
       |  start_u + ${16L * day} AS vest_end_u
       | FROM sched),
       |pts AS (
       | SELECT f.*, epoch_us(t.t) AS t_u
       | FROM win f CROSS JOIN (
       |   SELECT unnest([TIMESTAMP '2024-01-05 00:00:00',
       |                  TIMESTAMP '2024-01-12 00:00:00',
       |                  TIMESTAMP '2024-01-25 00:00:00',
       |                  TIMESTAMP '2024-02-20 00:00:00']) AS t) t),
       |calc AS (
       | SELECT user_id, t_u, amount, lockup_u, withdrawn,
       |  CASE WHEN t_u >= rel_end_u THEN 0
       |       ELSE CAST((CAST(amount AS HUGEINT) * (rel_end_u - t_u))
       |              // ${20L * day} AS BIGINT) END AS unreleased,
       |  CASE WHEN user_id % 7 = 0 THEN amount // 3
       |       WHEN t_u < cliff_u THEN amount
       |       WHEN t_u >= vest_end_u THEN 0
       |       ELSE CAST((CAST(amount AS HUGEINT) * (vest_end_u - t_u))
       |              // (vest_end_u - start_u) AS BIGINT) END AS unvested
       | FROM pts)
       |SELECT user_id, make_timestamp(t_u) AS checkpoint, amount, withdrawn,
       | locked, amount - withdrawn - locked AS liquid
       |FROM (
       | SELECT *, CASE WHEN t_u < lockup_u THEN amount - withdrawn
       |                ELSE greatest(greatest(unreleased - withdrawn, 0), unvested)
       |           END AS locked
       | FROM calc)
       |ORDER BY user_id, checkpoint""".stripMargin
  }

  /** All relational queries, keyed per SURVEY.md §2. */
  /** q38 maintenance cutoff: rows strictly before it are the MV's
    * persisted day-0 state, the rest are "today's" delta. A fixed
    * calendar literal (orders span the TPC-H 1992–1998 window at
    * every SF, so both sides are non-empty) shared with the spec. */
  private[graft] val q38Cutoff = "1997-01-01"

  /** q38: incremental materialized-view maintenance — the
    * d35/d37/a37 incremental==recompute stance applied to
    * AGGREGATION, the case every warehouse actually ships as a
    * "live table": a per-customer order rollup is persisted as its
    * PARTIAL-AGGREGATE state (count, exact decimal(38,2) sum, max
    * date — each algebraically mergeable), and the daily refresh
    * merges the delta's partials into the read-back state by
    * re-aggregating their union — never touching pre-cutoff fact
    * rows again. The decimal sum is exact and order-independent
    * (the q33 stance) so state+delta merge is byte-equal to a full
    * recompute at any partial split; it crosses the driver as
    * STRING per the no-decimal-output rule.
    *
    * Scale (100 TB): the delta partials are map-side combined over
    * one day of facts; the state side is MV-sized (one row per
    * customer, not per order) and lives bucketed by o_custkey, so
    * the merge shuffles only the day's partials — the whole point
    * of MV maintenance. Oracle: the full recompute over all
    * orders — incremental == recompute IS the gate property. */
  /** The typed fact stream q38's partials aggregate. */
  private[graft] def q38Facts(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir).select(
      col("o_custkey"),
      to_date(col("o_orderdate")).as("od"),
      col("o_totalprice").cast("decimal(18,2)").as("p"))

  /** Partial-aggregate state of a fact slice — mergeable by
    * construction (count, exact decimal sum, max date). */
  private[graft] def q38Partials(df: DataFrame): DataFrame =
    df.groupBy("o_custkey").agg(
      count(lit(1)).as("n_orders"),
      sum(col("p")).cast("decimal(38,2)").as("total"),
      max(col("od")).as("last_order_date"))

  /** Merge partial-aggregate states: re-aggregate their union. The
    * state columns stay in PARTIAL form (decimal total, no string
    * cast) so merges chain — s45 folds a whole stream of deltas
    * through this one definition. */
  private[graft] def q38Merge(state: DataFrame, delta: DataFrame): DataFrame =
    state.unionByName(delta)
      .groupBy("o_custkey").agg(
        sum(col("n_orders")).as("n_orders"),
        sum(col("total")).cast("decimal(38,2)").as("total"),
        max(col("last_order_date")).as("last_order_date"))

  /** Presentation projection: the exact decimal total crosses the
    * driver as STRING (the no-decimal-output rule). */
  private[graft] def q38Present(mv: DataFrame): DataFrame =
    mv.select(col("o_custkey"), col("n_orders"),
      col("total").cast("string").as("total_price_dec"),
      col("last_order_date"))

  def q38MvMaintenance(s: SparkSession, dir: String): DataFrame = {
    val mvDir = graft.sources.Export.scratch("q38_mv", dir)
    val orders = q38Facts(s, dir)
    q38Partials(orders.filter(col("od") < lit(q38Cutoff)))
      .write.mode("overwrite").parquet(mvDir)
    val state = Tables.parquet(s, mvDir)
    val delta = q38Partials(orders.filter(col("od") >= lit(q38Cutoff)))
    q38Present(q38Merge(state, delta)).orderBy("o_custkey")
  }

  /** q38's oracle is the FULL recompute — merge-of-partials must be
    * indistinguishable from never having split the data. */
  val q38Sql: String =
    """SELECT o_custkey, count(*) AS n_orders,
      | CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS VARCHAR) AS total_price_dec,
      | max(CAST(o_orderdate AS DATE)) AS last_order_date
      |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin

  /** q88's dimension-delta slice: customers ≡ 0 (mod 13) "arrive
    * with today's batch" — planted so the A_old⋈ΔB leg is genuinely
    * populated (old orders referencing a just-arrived customer are
    * the rows a fact-only refresh like q38 can never pick up). The
    * fact delta reuses [[q38Cutoff]]. */
  private[graft] val q88DimMod = 13L

  /** The customer dimension projection q88/s72 join against. */
  private[graft] def q88Custs(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir).select(col("c_custkey"), col("c_mktsegment"))

  /** A fact slice compressed to its JOIN STATE: partials at
    * (o_custkey, o_year) — the finest grain the MV's (segment, year)
    * rollup needs once the dimension attaches. THIS is what makes
    * join-MV maintenance storable: the retained A-side state is one
    * row per (customer, year) ever seen, never one per order. */
  private[graft] def q88APartials(ord: DataFrame): DataFrame =
    ord.groupBy(col("o_custkey"),
        year(col("o_orderdate")).cast("int").as("o_year"))
      .agg(count(lit(1)).as("n"),
        sum(expr("cast(round(o_totalprice * 100, 0) as bigint)")).as("cents"))

  /** Merge A-side join-state partials (count/sum re-aggregate). */
  private[graft] def q88AMerge(state: DataFrame, delta: DataFrame): DataFrame =
    state.unionByName(delta).groupBy("o_custkey", "o_year")
      .agg(sum(col("n")).as("n"), sum(col("cents")).as("cents"))

  /** One delta-join leg: A-side partials ⋈ a customer set, rolled to
    * MV partials at (segment, o_year). The dim side broadcasts —
    * whether it is the full dimension (ΔA⋈B) or the day's handful of
    * new customers (A⋈ΔB), it is dimension-sized. */
  private[graft] def q88Leg(aPart: DataFrame, b: DataFrame): DataFrame =
    aPart.join(broadcast(b), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment").as("segment"), col("o_year"))
      .agg(sum(col("n")).as("n_orders"), sum(col("cents")).as("cents"))

  /** Merge MV partials — union + re-aggregate, mergeable by
    * construction (the q38 stance at the join-MV grain). */
  private[graft] def q88MvMerge(frames: Seq[DataFrame]): DataFrame =
    frames.reduce(_.unionByName(_)).groupBy("segment", "o_year")
      .agg(sum(col("n_orders")).as("n_orders"), sum(col("cents")).as("cents"))

  /** q88: incremental JOIN-MV maintenance — q38 maintains an
    * aggregate whose ONE input table changes; a production gold
    * table is an aggregate over a JOIN, and BOTH sides change (new
    * facts arrive AND new dimension members arrive). The classical
    * delta-join algebra: Δ(A⋈B) = ΔA⋈B_old ∪ A_old⋈ΔB ∪ ΔA⋈ΔB, each
    * leg rolled to mergeable MV partials and merged into the
    * persisted state — pre-cutoff facts are never re-joined against
    * pre-existing dimension rows. The A_old⋈ΔB leg is the one q38
    * cannot express: old orders referencing a just-arrived customer
    * (dangling under the old inner join) surface exactly when their
    * dimension row lands. Both state artifacts are REAL (read back
    * off parquet): the MV itself and the A-side join state
    * compressed to (custkey, year) partials ([[q88APartials]] — one
    * row per customer-year, not per order, which is what makes
    * retaining the A side storable at 100 TB).
    *
    * Scale: ΔA⋈B broadcasts the dimension into one day of facts;
    * A_old⋈ΔB broadcasts the HANDFUL of new customers into the
    * MV-shaped A-state (never the fact history); ΔA⋈ΔB is tiny×tiny;
    * all three legs and the final merge are map-side-combinable
    * sums. Oracle: the full join + rollup over everything —
    * incremental == recompute IS the gate property (the q38/d35
    * stance applied to a two-sided join). */
  def q88JoinMv(s: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(s, dir)
    val cust = q88Custs(s, dir)
    val aOld = q88APartials(ord.filter(to_date(col("o_orderdate")) < lit(q38Cutoff)))
    val aNew = q88APartials(ord.filter(to_date(col("o_orderdate")) >= lit(q38Cutoff)))
    val bOld = cust.filter(col("c_custkey") % q88DimMod =!= 0)
    val bNew = cust.filter(col("c_custkey") % q88DimMod === 0)
    val mvDir = graft.sources.Export.scratch("q88_mv", dir)
    val aDir = graft.sources.Export.scratch("q88_astate", dir)
    q88Leg(aOld, bOld).write.mode("overwrite").parquet(mvDir)
    aOld.write.mode("overwrite").parquet(aDir)
    val state = Tables.parquet(s, mvDir)
    val aState = Tables.parquet(s, aDir)
    val delta = q88MvMerge(Seq(
      q88Leg(aNew, bOld), q88Leg(aState, bNew), q88Leg(aNew, bNew)))
    q88MvMerge(Seq(state, delta)).orderBy("segment", "o_year")
  }

  /** q88's oracle: the full join + rollup with NO state/delta split —
    * the three-leg merge must be indistinguishable from never having
    * split either side. */
  val q88Sql: String =
    """SELECT c_mktsegment AS segment,
      | CAST(year(o_orderdate) AS INT) AS o_year,
      | count(*) AS n_orders,
      | CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
      |  AS cents
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** q90's cumulative band width (2¹⁶ cents). An interval of length
    * L touches ⌈L/B⌉+1 bands — at B = 65536 every event interval on
    * this corpus (≤ ~56k cents) touches ≤ 2; the dial trades
    * replication (intervals per band) against candidate fan-in
    * (bands per interval), exactly q11's banded range-join
    * geometry. */
  private[graft] val q90Band = 1L << 16

  /** One side of the FIFO ledger: the user's events of `typ` as
    * half-open cumulative-cents intervals [lo, cum) in (ts,
    * event_id) order — the positional form that turns FIFO matching
    * into interval intersection. Zero-cent rows are excluded BEFORE
    * the cumsum (they can neither supply nor consume). */
  private[graft] def q90Stream(ev: DataFrame, typ: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ev.filter(col("event_type") === typ)
      .select(col("user_id"), col("event_id"), col("ts"),
        expr("cast(round(value * 100, 0) as bigint)").as("cents"))
      .filter(col("cents") > 0)
      .withColumn("cum", sum("cents").over(w))
      .withColumn("lo", col("cum") - col("cents"))
  }

  /** q90: FIFO lot attribution — the cost-basis / consumption-
    * matching operator every billing, inventory, and capital-gains
    * pipeline needs and no window function expresses directly: each
    * consumption draws from the OLDEST unconsumed acquisition lots.
    * The classical relational reduction: both per-user streams
    * (purchases = lots, clicks = draws) become half-open intervals
    * on the user's cumulative-cents axis, and FIFO allocation
    * between lot i and draw j is exactly their intersection length —
    * max(0, min(hi) − max(lo)) — no iteration, no per-row state
    * machine. Overdrafts and unconsumed tails fall out for free
    * (intervals past the other stream's end simply don't intersect).
    * The face is the PAIR-level attribution — (lot, draw,
    * alloc_cents), the holding-period product capital-gains and
    * cost-basis reports consume; lot-level consumed/remaining are
    * one rollup away. InvariantSpec proves the interval algebra
    * equals a true sequential FIFO queue simulation pair-for-pair
    * and the per-user conservation law Σ alloc = min(Σ lots,
    * Σ draws).
    *
    * Scale (100 TB): the cumsums are user-keyed windows (per-user
    * partitions, the q69 stance); the candidate join is BANDED on
    * (user, cum div [[q90Band]]) — the q11 banded range join, so a
    * user with 10⁶ lots never goes quadratic (pairs are bounded by
    * per-band occupancy × ≤2 bands per interval, and true FIFO
    * overlap structure is linear: Σ alloc pairs ≤ lots + draws − 1
    * per user); the final rollup is a map-side-combined sum. The
    * oracle replays the same interval algebra with a direct
    * user-keyed overlap join (the oracle may re-scan; the engine
    * must not — the q52 stance). */
  /** The banded interval-intersection body — takes lot intervals
    * (user_id, lot_id, l_lo, l_hi) and draw intervals (user_id,
    * draw_id, d_lo, d_hi), returns the positive-overlap pairs with
    * their allocation. ONE definition shared by q90's batch run and
    * s73's live fold (which feeds it batch-vs-open-state interval
    * sets), so "what an allocation is" can never drift. */
  private[graft] def q90PairsFrom(lots: DataFrame, draws: DataFrame): DataFrame = {
    def bandsOf(lo: String, hi: String) =
      explode(expr(s"sequence($lo div $q90Band, ($hi - 1) div $q90Band)"))
    val lb = lots.withColumn("band", bandsOf("l_lo", "l_hi"))
    val db = draws.withColumn("band", bandsOf("d_lo", "d_hi"))
    lb.join(db, Seq("user_id", "band"))
      .select("user_id", "lot_id", "l_lo", "l_hi",
        "draw_id", "d_lo", "d_hi")
      .distinct() // a pair straddling a band boundary matches twice
      .withColumn("alloc_cents", least(col("l_hi"), col("d_hi")) -
        greatest(col("l_lo"), col("d_lo")))
      .filter(col("alloc_cents") > 0)
      .select("user_id", "lot_id", "draw_id", "alloc_cents")
  }

  /** The two interval frames q90 matches, in the shapes
    * [[q90PairsFrom]] takes. */
  private[graft] def q90Lots(ev: DataFrame): DataFrame =
    q90Stream(ev, "purchase")
      .select(col("user_id"), col("event_id").as("lot_id"),
        col("lo").as("l_lo"), col("cum").as("l_hi"))

  private[graft] def q90Draws(ev: DataFrame): DataFrame =
    q90Stream(ev, "click")
      .select(col("user_id"), col("event_id").as("draw_id"),
        col("lo").as("d_lo"), col("cum").as("d_hi"))

  def q90FifoAttribution(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    q90PairsFrom(q90Lots(ev), q90Draws(ev))
      .orderBy("user_id", "lot_id", "draw_id")
  }

  /** DuckDB oracle for q90: identical per-user cumulative intervals,
    * a direct overlap join in place of the banded candidate stage,
    * identical intersection arithmetic. */
  val q90Sql: String =
    """WITH base AS (
      | SELECT user_id, event_id, ts, event_type,
      |  CAST(round(value * 100, 0) AS BIGINT) AS cents
      | FROM events),
      |lots AS (
      | SELECT user_id, event_id AS lot_id, cents AS lot_cents,
      |  SUM(cents) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS l_hi
      | FROM base WHERE event_type = 'purchase' AND cents > 0),
      |draws AS (
      | SELECT user_id, event_id AS draw_id, cents,
      |  SUM(cents) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS d_hi
      | FROM base WHERE event_type = 'click' AND cents > 0),
      |l2 AS (SELECT *, l_hi - lot_cents AS l_lo FROM lots),
      |d2 AS (SELECT *, d_hi - cents AS d_lo FROM draws)
      |SELECT l.user_id, l.lot_id, d.draw_id,
      | CAST(LEAST(l.l_hi, d.d_hi) - GREATEST(l.l_lo, d.d_lo) AS BIGINT)
      |  AS alloc_cents
      |FROM l2 l JOIN d2 d ON l.user_id = d.user_id
      | AND l.l_lo < d.d_hi AND d.d_lo < l.l_hi
      |ORDER BY l.user_id, l.lot_id, d.draw_id""".stripMargin

  /** q39: the skew-salted hot-key join — the fact side's join key is
    * adversarially skewed (an "anonymous user" pathology: 3/4 of all
    * events collapse onto key 0, emulating the null/default-key hot
    * spot every web-scale event log has), and a plain equi-join
    * would hash every hot row into ONE reducer no matter the cluster
    * size. The salted form replicates the DIMENSION side over
    * [[q39Salt]] salt values (a tiny table grows 16×) and routes each
    * fact row to `pmod(xxhash64(event_id), 16)`, so the join key
    * becomes (uid, salt) and the hot key fans out across 16
    * reducers while every fact row still meets exactly one dim copy
    * — the join result multiset is unchanged by construction.
    *
    * Scale (100 TB): this is the skew weapon AQE's skew-join can't
    * apply — AQE splits oversized PARTITIONS after the map stage,
    * but a single key hotter than a partition can only be split by
    * changing the key itself. The dim side is salt-replicated
    * BEFORE the exchange (16× a dimension is still dimension-sized);
    * the post-join rollup is map-side combined, so the hot key's
    * groupBy contributes one partial row per task, not per event.
    * Oracle: the plain unsalted join + rollup — salt invariance IS
    * the gate property. d25's block-key salt (Dedup.scala:489)
    * salts a self-join's bucket key; this is the complementary
    * fact-dim replication form. */
  private[graft] val q39Salt = 16

  /** The skew-synthesizing fact projection shared by query and spec:
    * (uid, value basis points). */
  private[graft] def q39Facts(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).select(
      col("event_id"),
      when(col("user_id") % 4 =!= 0, lit(0L))
        .otherwise(col("user_id")).as("uid"),
      floor(col("value") * 10000.0 + 0.5).cast("long").as("value_bp"))

  def q39SkewJoin(s: SparkSession, dir: String): DataFrame = {
    val facts = q39Facts(s, dir)
      .withColumn("salt", pmod(xxhash64(col("event_id")), lit(q39Salt)))
    val dim = Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_mktsegment"))
      .withColumn("d_salt",
        explode(sequence(lit(0), lit(q39Salt - 1)).cast("array<long>")))
    facts.join(dim,
        col("uid") === col("c_custkey") && col("salt") === col("d_salt"))
      .groupBy("uid", "c_mktsegment")
      .agg(count(lit(1)).as("n_events"), sum("value_bp").as("value_bp_sum"))
      .orderBy("uid", "c_mktsegment")
  }

  val q39Sql: String =
    """SELECT uid, c_mktsegment, count(*) AS n_events,
      | CAST(SUM(CAST(floor(value*10000.0 + 0.5) AS BIGINT)) AS BIGINT) AS value_bp_sum
      |FROM (SELECT CASE WHEN user_id % 4 <> 0 THEN 0 ELSE user_id END AS uid, value
      |      FROM events) e
      |JOIN customer c ON e.uid = c.c_custkey
      |GROUP BY uid, c_mktsegment ORDER BY uid, c_mktsegment""".stripMargin

  /** q41: approximate heavy hitters — the bounded-memory "top users/
    * sources/tokens" every 100 TB pipeline dashboard runs when the
    * key domain is too large for an exact groupBy: the [[graft
    * .functions.MisraGries]] typed Aggregator (k = 256 counters)
    * folds each partition into a ≤ k-counter summary and partials
    * merge by the Agarwal-2013 mergeable rule, so the exchange
    * carries ≤ k rows per map task regardless of cardinality; the
    * top 20 are then ranked from the ≤ 256 surviving counters (a
    * bounded global window — 256 rows, never the corpus). The sketch
    * guarantees counter ∈ [true − err, true] with err ≤ n/(k+1);
    * at the GATE SF (sf0.01: 150 distinct users < k) err = 0, the
    * sketch is EXACT and partitioning-independent — which is what
    * makes the plain exact-count SQL a byte-exact oracle there. At
    * sf0.1 the table crosses the budget (1500 users > 256 counters)
    * and the sketch serves its documented APPROXIMATION — the full
    * byte audit's two non-exact entries (this one and s49's shared
    * machinery) are the sketch doing its job, not a defect; the
    * over-budget contract is pinned by SketchCapSpec's planted
    * 5000-key stream (every guaranteed-frequency key kept, additive
    * bound honored), which is the property that holds at 100 TB
    * where no exact oracle can exist. */
  def q41HeavyHitters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sketch = Tables.events(s, dir).select(col("user_id")).as[Long]
      .select(new graft.functions.MisraGries(256).toColumn.name("mg"))
      .as[graft.functions.MGBuf]
    val rows = sketch.flatMap(_.counters.toSeq)
      .toDF("user_id", "events_count")
    val w = Window.orderBy(col("events_count").desc, col("user_id"))
    rows.withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= 20)
      .select("rank", "user_id", "events_count")
      .orderBy("rank")
  }

  /** DuckDB oracle for q41: plain exact top-20 — valid because the
    * sketch is in its exact regime on this table (see scaladoc). */
  val q41Sql: String =
    """SELECT rank, user_id, events_count FROM (
      | SELECT user_id, count(*) AS events_count,
      |  CAST(row_number() OVER (ORDER BY count(*) DESC, user_id) AS INT) AS rank
      | FROM events GROUP BY user_id)
      |WHERE rank <= 20 ORDER BY rank""".stripMargin

  /** q43: CUBE / grouping-sets aggregate — the OLAP cross-tab q18's
    * one-path ROLLUP cannot express: every subset of (mktsegment,
    * orderpriority) totals in ONE pass (Spark plans a single Expand +
    * one aggregation — four groupBys' worth of answers for one
    * shuffle, exactly what a 100 TB dashboard refresh wants), with
    * `grouping_id` disambiguating a subtotal NULL from a data NULL —
    * the part naive NULL-coalescing rollups get wrong. The bitmask
    * convention (first grouping column = high bit) matches DuckDB's
    * GROUPING(), so gid crosses the oracle verbatim. Cube on the raw
    * join attributes, aliases after the agg (the q18 Spark-4
    * DetectAmbiguousSelfJoin stance). */
  def q43Cube(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .join(broadcast(Tables.customer(s, dir)), col("o_custkey") === col("c_custkey"))
      .cube(col("c_mktsegment"), col("o_orderpriority"))
      .agg(
        grouping_id().cast("int").as("gid"),
        round(sum(col("o_totalprice")), 2).as("total_sales"),
        count(lit(1)).as("orders_count"))
      .select(
        col("gid"),
        coalesce(col("c_mktsegment"), lit("ALL")).as("mktsegment"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("orderpriority"),
        col("total_sales"), col("orders_count"))
      .orderBy("gid", "mktsegment", "orderpriority")

  val q43Sql: String =
    """SELECT CAST(GROUPING(c_mktsegment, o_orderpriority) AS INT) AS gid,
      | coalesce(c_mktsegment, 'ALL') AS mktsegment,
      | coalesce(o_orderpriority, 'ALL') AS orderpriority,
      | ROUND(SUM(o_totalprice), 2) AS total_sales,
      | COUNT(*) AS orders_count
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY CUBE(c_mktsegment, o_orderpriority)
      |ORDER BY gid, mktsegment, orderpriority""".stripMargin

  /** q97: GROUPING SETS — the explicit multi-level aggregate that
    * completes the q18 (ROLLUP) / q43 (CUBE) trio with the shape
    * neither sugar can express: the leaf (returnflag, linestatus)
    * plus BOTH one-dimensional marginals and NO grand total — an
    * asymmetric set list (a rollup would drop the linestatus
    * marginal, a cube would add the () total). The reference's gold
    * layer publishes exactly this kind of several-grains-at-once
    * report (daily AND total supply aggregates,
    * Aggregated Circulating Supply Pipeline.py:318-352); at 100 TB
    * grouping sets beat N self-unioned scans because Catalyst plans
    * ONE scan + one Expand (each row replicated once per set, 3×
    * here) feeding a single hash aggregate — the multi-grain report
    * costs one shuffle, not one per grain. Measures are the integer
    * cents/quantity sums (byte-exact cross-engine) plus a distinct
    * order count, which survives the Expand because grouping_id is
    * part of the aggregate key. gid bit order: (l_returnflag,
    * l_linestatus) — 0 = leaf, 1 = linestatus rolled away, 2 =
    * returnflag rolled away; InvariantSpec pins the partition laws
    * (each marginal == the sum of its leaves; no gid-3 row exists). */
  def q97GroupingSets(s: SparkSession, dir: String): DataFrame = {
    // spread before the Expand (the q12 rationale): the 3×
    // grouping-sets expansion and its partial aggregate — with a
    // countDistinct leg, keyed by (gid, keys, l_orderkey) — ran in the
    // 1-split scan's single task. Narrow 5-column exchange; rows
    // unchanged.
    Tables.lineitem(s, dir)
      .select("l_returnflag", "l_linestatus", "l_orderkey",
        "l_extendedprice", "l_quantity")
      .transform(Par.spread(_, col("l_orderkey")))
      .groupingSets(
        Seq(Seq(col("l_returnflag"), col("l_linestatus")),
          Seq(col("l_returnflag")), Seq(col("l_linestatus"))),
        col("l_returnflag"), col("l_linestatus"))
      .agg(
        grouping_id().cast("int").as("gid"),
        count(lit(1)).as("line_count"),
        countDistinct(col("l_orderkey")).as("order_count"),
        sum(expr("cast(round(l_extendedprice * 100, 0) as bigint)")).as("price_cents"),
        sum(expr("cast(round(l_quantity, 0) as bigint)")).as("qty"))
      .select(
        col("gid"),
        coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("line_count"), col("order_count"), col("price_cents"), col("qty"))
      .orderBy("gid", "returnflag", "linestatus")
  }

  val q97Sql: String =
    """SELECT CAST(GROUPING(l_returnflag, l_linestatus) AS INT) AS gid,
      | coalesce(l_returnflag, 'ALL') AS returnflag,
      | coalesce(l_linestatus, 'ALL') AS linestatus,
      | COUNT(*) AS line_count,
      | COUNT(DISTINCT l_orderkey) AS order_count,
      | CAST(SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT)
      |  AS price_cents,
      | CAST(SUM(CAST(round(l_quantity, 0) AS BIGINT)) AS BIGINT) AS qty
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
      |                        (l_returnflag), (l_linestatus))
      |ORDER BY gid, returnflag, linestatus""".stripMargin

  /** q98's versioned salt. Pseudonymity is exactly as strong as this
    * secret: rotate it and every released pseudonym unlinks from the
    * next release; DELETE it and the mapping is cryptographically
    * shredded (the d47 right-to-be-forgotten discipline applied to
    * the key itself — GDPR Art. 4(5) pseudonymization). A literal
    * here so the oracle can replay; production holds it in a KMS.
    *
    * TEST-ONLY CONSTRUCTION: salted md5 over a short
    * literal plus a dense integer key domain is enumerable in
    * seconds — its unlinkability holds only against direct string
    * matching, which is exactly what the harness needs (a
    * deterministic, oracle-replayable swap) and nothing more. A
    * production deployment MUST replace [[q98Pseudo]]'s body with a
    * keyed MAC (HMAC-SHA-256) whose secret is injected from a KMS
    * and never committed; the operator's shape (one shared keyed
    * function on both sides of every join) is the part that
    * transfers unchanged. */
  private[graft] val q98Salt = "gr14:"

  /** The ONE keyed pseudonym definition — salted md5 over the
    * stringified key, shared by every table crossing the privacy
    * boundary so joins keep lining up after the swap. See the
    * TEST-ONLY note on [[q98Salt]]: this body is the swap point for
    * a production keyed MAC. */
  private[graft] def q98Pseudo(key: Column): Column =
    md5(concat(lit(q98Salt), key.cast("string")).cast("binary"))

  /** q98: PSEUDONYMIZATION — the privacy transform a training-data /
    * analytics release runs before data leaves the trust boundary
    * (the reference's BQ Writer publishes account activity to an
    * external warehouse; a GDPR-conscious variant publishes THIS):
    * every direct identifier is replaced by a salted keyed hash, the
    * SAME function on both sides of every join (fact events.user_id,
    * dim customer.c_custkey — the shared key domain), so referential
    * integrity survives the swap while the raw key and the name
    * column never cross. The face is the released per-pseudonym
    * activity profile with the quasi-identifier (mktsegment) kept
    * for analytic value. Fail-stops pin the two laws releases get
    * wrong: linkage preserved (every event row lands in the join —
    * pseudonymization lost no facts) and collision-free (distinct
    * pseudonyms == distinct users — no two users merged by the
    * hash). InvariantSpec adds unlinkability hygiene: no raw key
    * digit-string survives in the output schema or values.
    *
    * Scale (100 TB): the pseudonym is a codegen'd projection — zero
    * extra shuffles; the per-user rollup is the ONE exchange the
    * un-pseudonymized rollup already paid (hash keys are 32-byte
    * strings instead of 8-byte longs — the honest cost, confined to
    * the exchange); the dim side broadcasts. Salt rotation is a
    * metadata operation: re-run the projection, never touch the
    * stored facts. */
  def q98Pseudonymize(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val fact = ev.groupBy(q98Pseudo(col("user_id")).as("pseudo"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("event_type")).as("n_types"),
        sum(expr("cast(round(value * 100, 0) as bigint)")).as("value_cents"))
    val dim = Tables.customer(s, dir)
      .select(q98Pseudo(col("c_custkey")).as("pseudo"),
        col("c_mktsegment").as("mktsegment"))
    val out = fact.join(broadcast(dim), Seq("pseudo"))
      .select("pseudo", "mktsegment", "n_events", "n_types", "value_cents")
      .orderBy("pseudo")
    val (users, total) = {
      val r = ev.agg(countDistinct(col("user_id")), count(lit(1))).head
      (r.getLong(0), r.getLong(1))
    }
    val got = out.agg(count(lit(1)), sum("n_events")).head
    require(got.getLong(0) == users,
      s"q98: ${got.getLong(0)} pseudonyms for $users users — " +
        "hash collision or dropped linkage")
    require(got.getLong(1) == total,
      s"q98: joined profile covers ${got.getLong(1)} of $total events")
    out
  }

  val q98Sql: String =
    s"""WITH f AS (
       | SELECT md5('${q98Salt}' || CAST(user_id AS VARCHAR)) AS pseudo,
       |  count(*) AS n_events,
       |  count(DISTINCT event_type) AS n_types,
       |  CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
       |   AS value_cents
       | FROM events GROUP BY 1),
       |d AS (
       | SELECT md5('${q98Salt}' || CAST(c_custkey AS VARCHAR)) AS pseudo,
       |  c_mktsegment AS mktsegment
       | FROM customer)
       |SELECT f.pseudo, d.mktsegment, f.n_events, f.n_types, f.value_cents
       |FROM f JOIN d ON f.pseudo = d.pseudo
       |ORDER BY f.pseudo""".stripMargin

  /** q99's planted-corruption rules — residue edits over the source
    * (the q89/q96 stance: injection planted, detection data-derived,
    * and each rule provably bites at every SF because the key
    * domains are dense from 0): orphaned FKs get `-k-1` (never `-k`:
    * key 0 would map to itself), every 103rd order duplicates, every
    * 101st part reference nulls out. */
  private[graft] val q99OrphanRes = 97L
  private[graft] val q99DupRes = 103L
  private[graft] val q99NullRes = 101L

  /** q99: CONSTRAINT AUDIT — cross-table integrity validation (Delta
    * CONSTRAINT / dbt tests / Great Expectations' relational tier;
    * the reference's BQ receipts view silently assumes every receipt
    * joins its block — q99 is the operator that CHECKS such
    * assumptions instead of assuming them): primary-key uniqueness,
    * foreign-key closure, and NOT-NULL over an ingest batch, emitted
    * as one violations ledger. q40 gates ROWS against row-local
    * predicates; q99's constraints are RELATIONAL — a key's
    * uniqueness and an FK's closure are join properties no per-row
    * rule can see. The audited batch carries three planted
    * corruption classes (orphaned FK, duplicated PK, nulled column)
    * next to two provably-clean constraints, so the ledger pins both
    * directions: every planted class bites, no clean constraint
    * false-positives.
    *
    * Scale (100 TB): each FK check is ONE anti-join keyed on the FK
    * (broadcast when the parent's key column fits, shuffle
    * otherwise); PK uniqueness is one keyed count with map-side
    * partials; NOT-NULL is a conditional sum inside a scan that was
    * already running; the ledger is O(#constraints). At a real
    * lakehouse this runs inside q96's audit step — WAP gates on
    * relational integrity, not just row shape. */
  def q99ConstraintAudit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, dir)
      .select(
        when(col("l_orderkey") % q99OrphanRes === 0, -col("l_orderkey") - 1)
          .otherwise(col("l_orderkey")).as("l_orderkey"),
        when(col("l_partkey") % q99NullRes === 0, lit(null).cast("long"))
          .otherwise(col("l_partkey")).as("l_partkey"))
    val ord = Tables.orders(s, dir).select("o_orderkey", "o_custkey")
    val ordDup = ord.unionByName(
      ord.filter(col("o_orderkey") % q99DupRes === 0))
    val cust = Tables.customer(s, dir).select("c_custkey")

    def one(name: String, table: String, checked: Long, viol: Long) =
      Seq((name, table, checked, viol))
        .toDF("constraint_name", "child_table", "rows_checked", "violations")

    val nLi = li.count()
    val pkO = ordDup.groupBy("o_orderkey").count()
      .agg(count(lit(1)), sum(when(col("count") > 1, 1L).otherwise(0L))).head
    val pkC = cust.groupBy("c_custkey").count()
      .agg(count(lit(1)), sum(when(col("count") > 1, 1L).otherwise(0L))).head
    val nnViol = li.filter(col("l_partkey").isNull).count()
    val fkLi = li.filter(col("l_orderkey").isNotNull)
    val fkLiN = fkLi.count()
    val fkLiViol = fkLi
      .join(ordDup.select("o_orderkey").distinct(),
        col("l_orderkey") === col("o_orderkey"), "left_anti").count()
    val fkOrdViol = ordDup
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"), "left_anti")
      .count()
    val out =
      one("fk_lineitem_orders", "lineitem", fkLiN, fkLiViol)
        .unionByName(one("fk_orders_customer", "orders", ordDup.count(), fkOrdViol))
        .unionByName(one("nn_lineitem_partkey", "lineitem", nLi, nnViol))
        .unionByName(one("pk_customer_unique", "customer",
          pkC.getLong(0), pkC.getLong(1)))
        .unionByName(one("pk_orders_unique", "orders",
          pkO.getLong(0), pkO.getLong(1)))
        .orderBy("constraint_name")
    val v = out.collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    require(v("fk_lineitem_orders") > 0 && v("pk_orders_unique") > 0 &&
      v("nn_lineitem_partkey") > 0,
      s"q99: every planted corruption class must bite: $v")
    require(v("fk_orders_customer") == 0 && v("pk_customer_unique") == 0,
      s"q99: clean constraints must not false-positive: $v")
    out
  }

  val q99Sql: String =
    s"""WITH li AS (
       | SELECT CASE WHEN l_orderkey % $q99OrphanRes = 0
       |   THEN -l_orderkey - 1 ELSE l_orderkey END AS l_orderkey,
       |  CASE WHEN l_partkey % $q99NullRes = 0
       |   THEN NULL ELSE l_partkey END AS l_partkey
       | FROM lineitem),
       |od AS (
       | SELECT o_orderkey, o_custkey FROM orders
       | UNION ALL
       | SELECT o_orderkey, o_custkey FROM orders
       | WHERE o_orderkey % $q99DupRes = 0),
       |fk_li AS (
       | SELECT count(*) AS checked,
       |  sum(CASE WHEN NOT EXISTS (SELECT 1 FROM od WHERE od.o_orderkey = li.l_orderkey)
       |       THEN 1 ELSE 0 END) AS viol
       | FROM li WHERE l_orderkey IS NOT NULL),
       |fk_od AS (
       | SELECT count(*) AS checked,
       |  sum(CASE WHEN NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = od.o_custkey)
       |       THEN 1 ELSE 0 END) AS viol
       | FROM od),
       |nn AS (
       | SELECT count(*) AS checked,
       |  sum(CASE WHEN l_partkey IS NULL THEN 1 ELSE 0 END) AS viol
       | FROM li),
       |pk_c AS (
       | SELECT count(*) AS checked,
       |  sum(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS viol
       | FROM (SELECT c_custkey, count(*) AS n FROM customer GROUP BY 1)),
       |pk_o AS (
       | SELECT count(*) AS checked,
       |  sum(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS viol
       | FROM (SELECT o_orderkey, count(*) AS n FROM od GROUP BY 1))
       |SELECT * FROM (
       | SELECT 'fk_lineitem_orders' AS constraint_name, 'lineitem' AS child_table,
       |  CAST(checked AS BIGINT) AS rows_checked, CAST(viol AS BIGINT) AS violations FROM fk_li
       | UNION ALL
       | SELECT 'fk_orders_customer', 'orders',
       |  CAST(checked AS BIGINT), CAST(viol AS BIGINT) FROM fk_od
       | UNION ALL
       | SELECT 'nn_lineitem_partkey', 'lineitem',
       |  CAST(checked AS BIGINT), CAST(viol AS BIGINT) FROM nn
       | UNION ALL
       | SELECT 'pk_customer_unique', 'customer',
       |  CAST(checked AS BIGINT), CAST(viol AS BIGINT) FROM pk_c
       | UNION ALL
       | SELECT 'pk_orders_unique', 'orders',
       |  CAST(checked AS BIGINT), CAST(viol AS BIGINT) FROM pk_o)
       |ORDER BY constraint_name""".stripMargin

  /** q44: ordered conversion funnel — the product-analytics staple
    * (view → click → purchase, each step strictly AFTER the previous
    * step's witness and within a 1-day horizon). The witness rule is
    * first-match: a user's funnel entry is their FIRST view; the
    * click leg is the first click after that view within the
    * horizon; the purchase leg is the first purchase after THAT
    * click. This is the standard "strict ordered funnel" semantic
    * (each step re-anchors the clock), not mere per-type existence —
    * a purchase before the first view does not count. Output: one
    * row per step with the surviving-user count and the conversion
    * rate vs step 1.
    *
    * Scale shape (100 TB of events): every aggregation and join is
    * keyed on user_id — the event-type filters cut each substream in
    * the scan stage, each leg is one keyed exchange of its FILTERED
    * substream, and the step-2/3 joins co-locate with the same key
    * the aggregates just produced. The conversion window runs over
    * exactly 3 rows (one per step) — bounded by funnel depth, not
    * data. No driver-side logic. */
  def q44Funnel(s: SparkSession, dir: String): DataFrame = {
    val events = Tables.events(s, dir)
    val v = events.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min(col("ts")).as("v_ts"))
    val c = events.filter(col("event_type") === "click")
      .join(v, Seq("user_id"))
      .filter(col("ts") > col("v_ts") &&
        col("ts") <= col("v_ts") + expr("INTERVAL 1 DAY"))
      .groupBy("user_id").agg(min(col("ts")).as("c_ts"))
    val p = events.filter(col("event_type") === "purchase")
      .join(c, Seq("user_id"))
      .filter(col("ts") > col("c_ts") &&
        col("ts") <= col("c_ts") + expr("INTERVAL 1 DAY"))
      .groupBy("user_id").agg(min(col("ts")).as("p_ts"))
    val steps = v.agg(count(lit(1)).as("users"))
      .select(lit(1).as("step"), lit("view").as("step_name"), col("users"))
      .unionByName(c.agg(count(lit(1)).as("users"))
        .select(lit(2).as("step"), lit("click").as("step_name"), col("users")))
      .unionByName(p.agg(count(lit(1)).as("users"))
        .select(lit(3).as("step"), lit("purchase").as("step_name"), col("users")))
    steps
      .withColumn("conversion", round(
        col("users").cast("double") /
          first(col("users")).over(Window.orderBy("step")), 4))
      .orderBy("step")
  }

  /** DuckDB oracle for q44: the identical three-leg re-anchored
    * funnel with scalar-subquery step counts. */
  val q44Sql: String =
    """WITH v AS (
      | SELECT user_id, min(ts) AS v_ts FROM events
      | WHERE event_type = 'view' GROUP BY 1),
      |c AS (
      | SELECT e.user_id, min(e.ts) AS c_ts FROM events e
      | JOIN v ON e.user_id = v.user_id
      | WHERE e.event_type = 'click' AND e.ts > v.v_ts
      |   AND e.ts <= v.v_ts + INTERVAL 1 DAY GROUP BY 1),
      |p AS (
      | SELECT e.user_id, min(e.ts) AS p_ts FROM events e
      | JOIN c ON e.user_id = c.user_id
      | WHERE e.event_type = 'purchase' AND e.ts > c.c_ts
      |   AND e.ts <= c.c_ts + INTERVAL 1 DAY GROUP BY 1),
      |steps AS (
      | SELECT 1 AS step, 'view' AS step_name, (SELECT count(*) FROM v) AS users
      | UNION ALL
      | SELECT 2, 'click', (SELECT count(*) FROM c)
      | UNION ALL
      | SELECT 3, 'purchase', (SELECT count(*) FROM p))
      |SELECT step, step_name, users,
      | ROUND(CAST(users AS DOUBLE) / (SELECT count(*) FROM v), 4) AS conversion
      |FROM steps ORDER BY step""".stripMargin

  /** q45: RFM segmentation — the marketing-analytics staple: per
    * customer recency (days since last order at a fixed analysis
    * date — a parameter, as in production), frequency (order count),
    * monetary (total spend), each scored 1–5 against the customer
    * population's exact quintile boundaries, then segmented by a
    * fixed precedence rule. Scoring is boundary-comparison — a PURE
    * function of the metric value — NOT a global ntile: ntile needs
    * a single total order over all customers (one partition at
    * 100 TB) and makes tied customers' scores depend on row order;
    * boundaries need one q27-stance exact-percentile aggregate over
    * the customer-proportional rollup (production swaps in
    * approx_percentile, same shape) and broadcast back as ONE row,
    * so scoring stays codegen'd in the scan of the rollup.
    *
    * Scale: one customer-keyed exchange (the rollup), one bounded
    * aggregate (3×4 boundary doubles), one broadcast cross of a
    * 1-row frame — nothing else. */
  /** q45's per-customer R/F/M rollup — ONE definition shared with
    * q45b's sketch-boundary variant. */
  private[graft] def q45Per(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy(col("o_custkey").as("cust_key"))
      .agg(
        datediff(lit("2001-09-01").cast("date"), to_date(max(col("o_orderdate"))))
          .as("recency_days"),
        count(lit(1)).as("frequency"),
        round(sum(col("o_totalprice")), 2).as("monetary"))

  /** q45's segment precedence rule over three 1–5 scores — shared by
    * q45 and BOTH q45b legs so the rule can never drift. */
  private[graft] def q45Segment(r: Column, f: Column, m: Column): Column =
    when(r >= 4 && f >= 4 && m >= 4, "champion")
      .when(f >= 4, "loyal")
      .when(m >= 4, "big_spender")
      .when(r <= 2 && (f >= 3 || m >= 3), "at_risk")
      .when(r <= 2, "hibernating")
      .otherwise("regular")

  /** The same precedence rule as a SQL CASE over named score
    * columns — used by q45's and q45b's oracles. */
  private[graft] def q45SegmentSql(r: String, f: String, m: String): String =
    s"""CASE WHEN $r >= 4 AND $f >= 4 AND $m >= 4 THEN 'champion'
       |  WHEN $f >= 4 THEN 'loyal'
       |  WHEN $m >= 4 THEN 'big_spender'
       |  WHEN $r <= 2 AND ($f >= 3 OR $m >= 3) THEN 'at_risk'
       |  WHEN $r <= 2 THEN 'hibernating'
       |  ELSE 'regular' END""".stripMargin

  def q45Rfm(s: SparkSession, dir: String): DataFrame = {
    val per = q45Per(s, dir)
    val qs = "array(0.2D, 0.4D, 0.6D, 0.8D)"
    val bounds = per.agg(
      expr(s"percentile(recency_days, $qs)").as("rb"),
      expr(s"percentile(frequency, $qs)").as("fb"),
      expr(s"percentile(monetary, $qs)").as("mb"))
    val scored = per.crossJoin(broadcast(bounds))
      .withColumn("r_score",
        lit(5) - size(filter(col("rb"), x => col("recency_days") > x)))
      .withColumn("f_score",
        lit(1) + size(filter(col("fb"), x => col("frequency") > x)))
      .withColumn("m_score",
        lit(1) + size(filter(col("mb"), x => col("monetary") > x)))
    scored.select(
      col("cust_key"), col("recency_days"), col("frequency"), col("monetary"),
      col("r_score"), col("f_score"), col("m_score"),
      q45Segment(col("r_score"), col("f_score"), col("m_score")).as("segment"))
      .orderBy("cust_key")
  }

  /** DuckDB oracle for q45: identical rollup, quantile_cont
    * boundaries (the q27 percentile equivalence), identical
    * strictly-greater boundary counting and segment precedence. */
  /** The per-customer rollup CTE — shared by q45's and q45b's
    * oracles, mirroring the shared [[q45Per]] body. */
  private[graft] val q45PerCte: String =
    """per AS (
      | SELECT o_custkey AS cust_key,
      |  CAST(datediff('day', CAST(max(o_orderdate) AS DATE), DATE '2001-09-01') AS INT)
      |    AS recency_days,
      |  count(*) AS frequency,
      |  ROUND(sum(o_totalprice), 2) AS monetary
      | FROM orders GROUP BY 1)""".stripMargin

  val q45Sql: String =
    s"""WITH $q45PerCte,
      |b AS (
      | SELECT quantile_cont(recency_days, [0.2, 0.4, 0.6, 0.8]) AS rb,
      |        quantile_cont(frequency, [0.2, 0.4, 0.6, 0.8]) AS fb,
      |        quantile_cont(monetary, [0.2, 0.4, 0.6, 0.8]) AS mb
      | FROM per),
      |scored AS (
      | SELECT cust_key, recency_days, frequency, monetary,
      |  CAST(5 - len(list_filter(rb, x -> recency_days > x)) AS INT) AS r_score,
      |  CAST(1 + len(list_filter(fb, x -> frequency > x)) AS INT) AS f_score,
      |  CAST(1 + len(list_filter(mb, x -> monetary > x)) AS INT) AS m_score
      | FROM per, b)
      |SELECT cust_key, recency_days, frequency, monetary,
      | r_score, f_score, m_score,
      | ${q45SegmentSql("r_score", "f_score", "m_score")} AS segment
      |FROM scored ORDER BY cust_key""".stripMargin

  /** q45b's customer-sample budget — the q68K regime. */
  private[graft] val q45bK = 512

  /** q45b: RFM with SKETCHED boundaries — the q52→q52b prose-to-code
    * rule applied to q45's "production swaps in approx_percentile"
    * sentence, now implementable with in-house machinery: quintile
    * boundaries come from a deterministic bottom-k customer sample
    * (the [[q68Sample]] draw idiom at k = [[q45bK]]) through the
    * SAME rank-quantile selection ([[q68RankQuantilesAt]]); the
    * EXACT rank-quantile boundaries stay in as the gate instrument;
    * every customer row carries BOTH segmentations plus the
    * agreement flag IN-BAND (the q68 estimate-vs-exact honesty
    * stance). Scoring counts and segment precedence are q45's
    * shared bodies ([[q45Segment]]) — one rule, three consumers.
    *
    * Scale (100 TB): the sample is one TakeOrdered bottom-k (k rows
    * per partition cross the wire), boundaries then run rank
    * quantiles over ≤ 3k rows; the exact leg (three full-corpus
    * sorts) is the declared gate instrument dropped at production
    * scale (the q68/s53 trade); scoring stays codegen'd in the
    * rollup scan against two 1-row boundary broadcasts. */
  def q45bRfmSketch(s: SparkSession, dir: String): DataFrame =
    q45bWith(s, dir, q45bK)

  /** [[q45bRfmSketch]] with an explicit budget — InvariantSpec
    * drives a small k on the spec corpus so the genuinely-sampled
    * regime is exercised there too (sf0.001's 150 customers < 512
    * make the shipped k the degenerate-exact regime, the q68/t57
    * boundary stance). */
  /** Stack a (cust_key, recency_days, frequency, monetary) frame
    * into (grp, v, key) rows for rank-quantile boundary selection —
    * shared by q45b (double monetary) and s66 (integer cents; the
    * double cast is exact for both). */
  private[graft] def q45bStacked(src: DataFrame): DataFrame =
    src.select(explode(array(
      struct(lit("r").as("grp"), col("recency_days").cast("double").as("v"),
        col("cust_key").as("key")),
      struct(lit("f").as("grp"), col("frequency").cast("double").as("v"),
        col("cust_key").as("key")),
      struct(lit("m").as("grp"), col("monetary").cast("double").as("v"),
        col("cust_key").as("key")))).as("x")).select("x.*")

  /** One 1-row frame of sorted quintile-boundary arrays
    * (rb/fb/mb + suffix) for a metric frame — the boundary pass
    * q45b runs twice (exact + sampled) and s66 runs on its live
    * state. */
  private[graft] def q45bWide(src: DataFrame, suffix: String): DataFrame = {
    val qs = q68RankQuantilesAt(q45bStacked(src), Seq(0.2, 0.4, 0.6, 0.8))
    def b(g: String) = qs.filter(col("grp") === g)
      .agg(array_sort(collect_list(col("v"))).as(s"${g}b$suffix"))
    b("r").crossJoin(b("f")).crossJoin(b("m"))
  }

  /** Apply the three boundary-count scores against the `sfx` arrays,
    * binding them to the given column names — q45's strictly-greater
    * counting, ONE definition for every consumer. */
  private[graft] def q45bApplyScores(df: DataFrame, sfx: String,
      names: (String, String, String)): DataFrame =
    df.withColumn(names._1,
        lit(5) - size(filter(col(s"rb$sfx"), x => col("recency_days") > x)))
      .withColumn(names._2,
        lit(1) + size(filter(col(s"fb$sfx"), x => col("frequency") > x)))
      .withColumn(names._3,
        lit(1) + size(filter(col(s"mb$sfx"), x => col("monetary") > x)))

  private[graft] def q45bWith(s: SparkSession, dir: String, k: Int): DataFrame = {
    val per = q45Per(s, dir)
    val samp = per.withColumn("draw", expr(
        "cast(conv(substring(md5(cast(cust_key as string)), 1, 7), 16, 10) as bigint)"))
      .orderBy(col("draw"), col("cust_key")).limit(k)
      .drop("draw")
    val scored = q45bApplyScores(q45bApplyScores(
      per.crossJoin(broadcast(q45bWide(per, "x")))
        .crossJoin(broadcast(q45bWide(samp, "s"))),
      "x", ("r_exact", "f_exact", "m_exact")),
      "s", ("r_est", "f_est", "m_est"))
    scored.select(col("cust_key"),
      col("r_est"), col("f_est"), col("m_est"),
      q45Segment(col("r_exact"), col("f_exact"), col("m_exact")).as("seg_exact"),
      q45Segment(col("r_est"), col("f_est"), col("m_est")).as("seg_est"))
      .withColumn("agree", col("seg_est") === col("seg_exact"))
      .orderBy("cust_key")
  }

  /** DuckDB oracle for q45b: identical rollup CTE, identical md5
    * bottom-k customer sample, identical rank-quantile boundary
    * selection on both legs, the shared segment CASE — the whole
    * sketch-vs-exact comparison replays byte-exactly. */
  /** The q45b boundary-pass SQL builders — shared with s66's oracle
    * so the stream's boundary arithmetic replays identically. */
  private[graft] def q45bStackSql(src: String): String =
    s"""SELECT 'r' AS grp, CAST(recency_days AS DOUBLE) AS v, cust_key AS key FROM $src
       | UNION ALL SELECT 'f', CAST(frequency AS DOUBLE), cust_key FROM $src
       | UNION ALL SELECT 'm', CAST(monetary AS DOUBLE), cust_key FROM $src""".stripMargin
  private[graft] def q45bQSql(stk: String): String =
    s"""SELECT grp, p, v FROM (
       |  SELECT grp, v,
       |   row_number() OVER (PARTITION BY grp ORDER BY v, key) AS rn,
       |   count(*) OVER (PARTITION BY grp) AS n
       |  FROM $stk) CROSS JOIN probes
       | WHERE rn = CAST(ceil(p * n) AS BIGINT)""".stripMargin
  private[graft] def q45bWideSql(q: String, sfx: String): String =
    s"""SELECT
       | (SELECT list_sort(list(v)) FROM $q WHERE grp = 'r') AS rb$sfx,
       | (SELECT list_sort(list(v)) FROM $q WHERE grp = 'f') AS fb$sfx,
       | (SELECT list_sort(list(v)) FROM $q WHERE grp = 'm') AS mb$sfx""".stripMargin
  /** The probes CTE every q45b-style oracle shares. */
  private[graft] val q45bProbesCte: String =
    "probes AS (SELECT CAST(unnest([0.2, 0.4, 0.6, 0.8]) AS DOUBLE) AS p)"

  val q45bSql: String = {
    def stackSql(src: String) = q45bStackSql(src)
    def qSql(stk: String) = q45bQSql(stk)
    def wideSql(q: String, sfx: String) = q45bWideSql(q, sfx)
    s"""WITH $q45PerCte,
       |samp AS (
       | SELECT cust_key, recency_days, frequency, monetary FROM (
       |  SELECT per.*, row_number() OVER (ORDER BY
       |    CAST(('0x' || substr(md5(CAST(cust_key AS VARCHAR)), 1, 7)) AS BIGINT),
       |    cust_key) AS srk
       |  FROM per) WHERE srk <= $q45bK),
       |$q45bProbesCte,
       |stx AS (${stackSql("per")}),
       |sts AS (${stackSql("samp")}),
       |qx AS (${qSql("stx")}),
       |qs AS (${qSql("sts")}),
       |wx AS (${wideSql("qx", "x")}),
       |ws AS (${wideSql("qs", "s")}),
       |scored AS (
       | SELECT cust_key,
       |  CAST(5 - len(list_filter(rbx, x -> recency_days > x)) AS INT) AS r_exact,
       |  CAST(1 + len(list_filter(fbx, x -> frequency > x)) AS INT) AS f_exact,
       |  CAST(1 + len(list_filter(mbx, x -> monetary > x)) AS INT) AS m_exact,
       |  CAST(5 - len(list_filter(rbs, x -> recency_days > x)) AS INT) AS r_est,
       |  CAST(1 + len(list_filter(fbs, x -> frequency > x)) AS INT) AS f_est,
       |  CAST(1 + len(list_filter(mbs, x -> monetary > x)) AS INT) AS m_est
       | FROM per, wx, ws),
       |seg AS (
       | SELECT cust_key, r_est, f_est, m_est,
       |  ${q45SegmentSql("r_exact", "f_exact", "m_exact")} AS seg_exact,
       |  ${q45SegmentSql("r_est", "f_est", "m_est")} AS seg_est
       | FROM scored)
       |SELECT cust_key, r_est, f_est, m_est, seg_exact, seg_est,
       | (seg_est = seg_exact) AS agree
       |FROM seg ORDER BY cust_key""".stripMargin
  }

  /** Shared co-purchase edge body (q46/q51): the deduped
    * (order, part) item stream, self-joined into unordered part
    * pairs with the ≥2-order support floor. ONE definition — q46
    * mines association rules over these pairs and q51 runs PageRank
    * over the graph they induce, so a support-floor or dedup change
    * moves the miner and the centrality ranking together. */
  private[graft] def q46Items(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_partkey")).distinct()

  private[graft] def q46PairsFrom(items: DataFrame): DataFrame =
    items.select(col("l_orderkey"), col("l_partkey").as("part_a"))
      .join(items.select(col("l_orderkey"), col("l_partkey").as("part_b")),
        Seq("l_orderkey"))
      .filter(col("part_a") < col("part_b"))
      .groupBy("part_a", "part_b").agg(count(lit(1)).as("pair_orders"))
      .filter(col("pair_orders") >= 2)

  /** Dialect-shared CTE body for the co-purchase pair stream —
    * `items` + `pairs` exactly as [[q46PairsFrom]] builds them, so
    * q46's and q51's oracles replay the SAME edge definition. */
  val q46PairsCte: String =
    """items AS (
      | SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |pairs AS (
      | SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
      |        count(*) AS pair_orders
      | FROM items a JOIN items b
      |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      | GROUP BY 1, 2 HAVING count(*) >= 2)""".stripMargin

  /** q46: co-purchase association mining — the market-basket
    * operator (Agrawal & Srikant 1994's support/confidence/lift on
    * 2-itemsets): for every unordered part pair appearing together
    * in ≥ 2 orders, the pair support, both per-part order counts,
    * both directed confidences, and the lift, top-100 by support
    * with a full deterministic tiebreak.
    *
    * Scale: the item stream dedups (order, part) in one keyed
    * exchange; the pair expansion is a SELF-equi-join on l_orderkey
    * — co-partitioned, one shuffle, and bounded per order by the
    * basket size squared (the classic market-basket shape, NOT a
    * corpus cross join); per-part counts are one part-keyed
    * aggregate joined back on the pair stream's own keys; the order
    * total broadcasts as one row; the top-100 is
    * TakeOrderedAndProject — per-partition partial top-k, never a
    * global sort. */
  def q46CoPurchase(s: SparkSession, dir: String): DataFrame = {
    val items = q46Items(s, dir)
    val pairs = q46PairsFrom(items)
    val perPart = items.groupBy("l_partkey").agg(count(lit(1)).as("part_orders"))
    val total = items.select(col("l_orderkey")).distinct()
      .agg(count(lit(1)).as("total_orders"))
    pairs
      .join(perPart.select(col("l_partkey").as("part_a"),
        col("part_orders").as("orders_a")), Seq("part_a"))
      .join(perPart.select(col("l_partkey").as("part_b"),
        col("part_orders").as("orders_b")), Seq("part_b"))
      .crossJoin(broadcast(total))
      .select(
        col("part_a"), col("part_b"), col("pair_orders"),
        col("orders_a"), col("orders_b"),
        round(col("pair_orders").cast("double") / col("orders_a"), 4)
          .as("conf_a_b"),
        round(col("pair_orders").cast("double") / col("orders_b"), 4)
          .as("conf_b_a"),
        round(col("pair_orders").cast("double") * col("total_orders") /
          (col("orders_a") * col("orders_b")), 4).as("lift"))
      .orderBy(col("pair_orders").desc, col("part_a"), col("part_b"))
      .limit(100)
  }

  /** DuckDB oracle for q46: identical dedup, pair expansion,
    * support floor, confidence/lift arithmetic, and tiebroken
    * top-100. */
  val q46Sql: String =
    s"""WITH $q46PairsCte,
      |per_part AS (
      | SELECT l_partkey, count(*) AS part_orders FROM items GROUP BY 1),
      |total AS (SELECT count(DISTINCT l_orderkey) AS total_orders FROM items)
      |SELECT part_a, part_b, pair_orders,
      | pa.part_orders AS orders_a, pb.part_orders AS orders_b,
      | ROUND(CAST(pair_orders AS DOUBLE) / pa.part_orders, 4) AS conf_a_b,
      | ROUND(CAST(pair_orders AS DOUBLE) / pb.part_orders, 4) AS conf_b_a,
      | ROUND(CAST(pair_orders AS DOUBLE) * total_orders
      |   / (pa.part_orders * pb.part_orders), 4) AS lift
      |FROM pairs
      |JOIN per_part pa ON pa.l_partkey = part_a
      |JOIN per_part pb ON pb.l_partkey = part_b
      |CROSS JOIN total
      |ORDER BY pair_orders DESC, part_a, part_b LIMIT 100""".stripMargin

  /** q47: point-in-time (as-of-version) join against the SCD2
    * dimension — the temporal-correctness join every warehouse
    * feature pipeline needs and most get wrong by joining the
    * CURRENT dimension row (leaking future attribute values into
    * historical facts): each purchase fact is joined to the q32
    * dimension VERSION valid at its own timestamp — valid_from ≤ ts
    * AND (ts < valid_to OR open-ended). The dimension is
    * [[q32Scd2]] VERBATIM (one definition; the PIT join probes
    * exactly the registered SCD2 output), and because q32's
    * versions tile each user's timeline from their first event —
    * empty [t, t) intervals from same-timestamp changes can match
    * nothing — every fact matches EXACTLY one version (the spec
    * proves the bijection). This differs from q25's as-of join in
    * kind: q25 matches the nearest preceding EVENT, q47 matches a
    * maintained INTERVAL dimension — the SCD2 contract.
    *
    * Scale: equi-join on user_id with the interval predicate as a
    * residual — SortMergeJoin co-partitioned with the dimension's
    * own build shuffle, never a range-explosion; at 100 TB both
    * sides bucket by the key (the q32/q08 stance). */
  def q47PitJoin(s: SparkSession, dir: String): DataFrame = {
    val dim = q32Scd2(s, dir).as("d")
    val facts = Tables.events(s, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ts"),
        round(col("value"), 4).as("purchase_value")).as("f")
    facts.join(dim,
        col("f.user_id") === col("d.user_id") &&
          col("f.ts") >= col("d.valid_from") &&
          (col("d.valid_to").isNull || col("f.ts") < col("d.valid_to")))
      .select(col("f.user_id").as("user_id"), col("event_id"), col("ts"),
        col("attr_value"), col("version"), col("purchase_value"))
      .orderBy("user_id", "event_id")
  }

  /** DuckDB oracle for q47: the shared [[q32DimCte]] dimension and
    * the identical interval predicate. */
  val q47Sql: String =
    s"""WITH $q32DimCte
       |SELECT f.user_id, f.event_id, f.ts, d.attr_value, d.version,
       | ROUND(f.value, 4) AS purchase_value
       |FROM (SELECT * FROM events WHERE event_type = 'purchase') f
       |JOIN dim d ON d.user_id = f.user_id
       | AND f.ts >= d.valid_from
       | AND (d.valid_to IS NULL OR f.ts < d.valid_to)
       |ORDER BY f.user_id, f.event_id""".stripMargin

  /** q48's qualifying-activity predicate — ONE dialect-neutral SQL
    * string evaluated verbatim by both engines (the q40 rule
    * stance): the retention universe is HIGH-VALUE PURCHASERS,
    * which on this corpus is sparse enough that the matrix shows
    * genuine decay (every user fires *some* event every week, so
    * all-events cohorts would be a vacuous all-1.0 gate). */
  private[graft] val q48Qualifies: String =
    "event_type = 'purchase' AND value > 80"

  /** q48's weekly activity pairs — ONE definition of "a user was
    * active in week w" shared by the batch matrix and s52's live
    * fold: distinct (user_id, ISO-week-start DATE) over qualifying
    * events. Both engines truncate weeks to Monday (Spark
    * date_trunc('week') == DuckDB date_trunc('week')), and the
    * distinct makes every downstream aggregate insensitive to event
    * multiplicity. */
  private[graft] def q48ActivityPairs(ev: DataFrame): DataFrame =
    ev.filter(expr(q48Qualifies))
      .select(col("user_id"),
        date_trunc("week", col("ts")).cast("date").as("week"))
      .distinct()

  /** Fold (user, week) activity pairs to the cohort retention
    * matrix — shared verbatim by q48 and s52's presentation, so the
    * batch matrix and the live fold cannot disagree on cohort or
    * retention arithmetic. */
  private[graft] def q48Present(act: DataFrame): DataFrame = {
    val cohort = act.groupBy("user_id").agg(min(col("week")).as("cohort_week"))
    val sizes = cohort.groupBy("cohort_week").agg(count(lit(1)).as("cohort_size"))
    act.join(cohort, Seq("user_id"))
      .groupBy(col("cohort_week"),
        expr("CAST(datediff(week, cohort_week) div 7 AS INT)").as("week_offset"))
      .agg(count(lit(1)).as("active_users"))
      .join(broadcast(sizes), Seq("cohort_week"))
      .select(col("cohort_week"), col("week_offset"), col("active_users"),
        col("cohort_size"),
        round(col("active_users").cast("double") / col("cohort_size"), 4)
          .as("retention"))
      .orderBy("cohort_week", "week_offset")
  }

  /** q48: cohort retention matrix — the product-analytics companion
    * to q44's funnel: users are grouped into WEEKLY COHORTS by their
    * first qualifying-activity week ([[q48Qualifies]] — high-value
    * purchasers, the slice with genuine decay on this corpus), and
    * each (cohort, week-offset) cell counts how many of that cohort
    * were active that many weeks later, as a retention rate against
    * the cohort's size. Week = ISO Monday truncation in both
    * engines; offset-0 retention is 1.0 by construction (a user is
    * active in their own first week). Activity is DISTINCT
    * (user, week) — multiplicity within a week is irrelevant, which
    * is also what makes s52's live fold of the same matrix exact
    * under ANY micro-batch slicing (union of distinct-pair sets,
    * then the same [[q48Present]]).
    *
    * Scale (100 TB of events): the distinct is one user-keyed
    * exchange of (user, week) pairs cut to ≤ users×weeks rows in
    * the map-side partial; the cohort min RE-USES the same user
    * partitioning (co-located groupBy then join on user_id); the
    * matrix rollup exchanges ≤ weeks² keys and the per-cohort size
    * frame (weeks rows) comes back by broadcast. Nothing driver-
    * side. */
  def q48Retention(s: SparkSession, dir: String): DataFrame =
    q48Present(q48ActivityPairs(Tables.events(s, dir)))

  /** DuckDB oracle for q48: identical pair/cohort/offset/retention
    * arithmetic (`//` == Spark integral div on the exact multiple-
    * of-7 day difference; week truncation is Monday in both). */
  val q48Sql: String =
    s"""WITH act AS (
      | SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS week
      | FROM events WHERE $q48Qualifies),
      |coh AS (SELECT user_id, min(week) AS cohort_week FROM act GROUP BY 1),
      |sizes AS (SELECT cohort_week, CAST(count(*) AS BIGINT) AS cohort_size
      | FROM coh GROUP BY 1),
      |cells AS (
      | SELECT c.cohort_week,
      |  CAST(datediff('day', c.cohort_week, a.week) // 7 AS INT) AS week_offset,
      |  CAST(count(*) AS BIGINT) AS active_users
      | FROM act a JOIN coh c ON a.user_id = c.user_id
      | GROUP BY 1, 2)
      |SELECT cells.cohort_week AS cohort_week, week_offset, active_users,
      | cohort_size,
      | ROUND(CAST(active_users AS DOUBLE) / cohort_size, 4) AS retention
      |FROM cells JOIN sizes ON cells.cohort_week = sizes.cohort_week
      |ORDER BY cells.cohort_week, week_offset""".stripMargin

  // ---- q49: deterministic HyperLogLog daily uniques ----

  /** q49's per-event register observations — ONE definition shared
    * by the batch sketch and s53's live fold: the 60-bit md5 key
    * (the d23/d34 house hash — dual-dialect exact) splits into a
    * register index j (low 8 bits) and a 52-bit suffix w whose
    * leading-zero run sets rho = 53 − bitlength(w) (w = 0 ⇒ the
    * full run, 53). Every piece is integer arithmetic both engines
    * replay bit-for-bit — this is what makes a SKETCH oracle-
    * checkable (the t33/q41 reproducible-sketch stance). */
  private[graft] def q49Rho(ev: DataFrame): DataFrame =
    ev.select(col("ts").cast("date").as("day"),
        expr("cast(conv(substring(md5(cast(user_id as string)),1,15),16,10) as bigint)")
          .as("h"))
      .select(col("day"), expr("h % 256").as("j"),
        expr("h div 256").as("w"))
      .select(col("day"), col("j"),
        expr("CASE WHEN w = 0 THEN 53 ELSE 53 - length(bin(w)) END")
          .cast("int").as("rho"))

  /** Fold per-event rho observations to the per-(day, register)
    * max: the HLL register table, the sketch's entire state. Max is
    * associative and idempotent, so register states merge with the
    * same operation (s53's fold). */
  private[graft] def q49Registers(rhos: DataFrame): DataFrame =
    rhos.groupBy("day", "j").agg(max("rho").as("m"))

  /** q49's raw-estimator arithmetic — alpha_256 · m² · 2⁵³ /
    * z_scaled, where z_scaled = Σ 2^(53−M[j]) over all 256
    * registers is an EXACT integer (≤ 2⁶¹) so the only floating-
    * point steps are one int→double cast and IEEE mul/div —
    * identical in both engines. */
  private[graft] val q49RawEst: String =
    "0.7213 / (1.0 + 1.079 / 256.0) * 65536.0 * " +
      "9007199254740992.0 / CAST(z_scaled AS DOUBLE)"

  /** q49's full estimator — ONE dialect-neutral SQL string (the q40
    * rule stance): Flajolet et al. 2007's small-range rule — when
    * the raw estimate is ≤ 2.5 m and empty registers remain, switch
    * to LINEAR COUNTING m·ln(m/V) (V = zero registers), the regime
    * where the raw estimator is systematically high. The ln has
    * exactly 256 possible inputs; all 256 were exhaustively checked
    * JVM-vs-libm to round identically at 4 decimals, so even the
    * correction branch crosses engines byte-exact. */
  private[graft] val q49Estimator: String =
    s"CASE WHEN $q49RawEst <= 640.0 AND zero_registers > 0 " +
      "THEN round(256.0 * ln(256.0 / zero_registers), 4) " +
      s"ELSE round($q49RawEst, 4) END"

  /** [[q49Estimator]] in INTEGER 1e-4 units via the explicit
    * float-path rounding floor(x·10⁴ + 0.5), with EVERY literal cast
    * to DOUBLE — two live cross-engine traps found by q52b's
    * event_id column (raw estimate 9279.96495…): (1) round(x, 4)
    * mixes Spark's BigDecimal half-up with DuckDB's float path; (2)
    * Spark parses bare decimal literals in SQL strings as DECIMAL,
    * so the "same" estimator arithmetic ran in decimal on one side
    * and IEEE on the other. With all-DOUBLE literals both engines
    * execute the identical IEEE op sequence, and floor/mul/add are
    * bit-exact. The linear-counting branch's 256 possible ln inputs
    * re-checked exhaustively JVM-vs-libm under this rounding — zero
    * mismatches. */
  private[graft] val q49EstimatorE4: String = {
    val d = (s: String) => s"CAST($s AS DOUBLE)"
    val raw = s"${d("0.7213")} / (${d("1.0")} + ${d("1.079")} / ${d("256.0")})" +
      s" * ${d("65536.0")} * ${d("9007199254740992.0")} / CAST(z_scaled AS DOUBLE)"
    s"CAST(CASE WHEN $raw <= ${d("640.0")} AND zero_registers > 0 " +
      s"THEN floor(${d("256.0")} * ln(${d("256.0")} / zero_registers) * " +
      s"${d("10000.0")} + ${d("0.5")}) " +
      s"ELSE floor(($raw) * ${d("10000.0")} + ${d("0.5")}) END AS BIGINT)"
  }

  /** Present register state as the daily-uniques dashboard: fill
    * the 256-register spine per day (empty register ⇒ M = 0 ⇒ it
    * contributes 2⁵³ to z_scaled), aggregate the exact z_scaled and
    * zero-register count, apply [[q49Estimator]], and carry the
    * exact distinct count + relative error — the sketch's honesty
    * columns. Shared verbatim by q49 and s53's presentation. */
  private[graft] def q49Present(registers: DataFrame, exact: DataFrame): DataFrame =
    hllEstimate(registers, exact.select("day"), "day")
      .join(exact, Seq("day"))
      .withColumn("hll_users", col("hll_est"))
      .withColumn("rel_err",
        round(abs(col("hll_users") - col("exact_users")) / col("exact_users"), 4))
      .select("day", "exact_users", "zero_registers", "z_scaled",
        "hll_users", "rel_err")
      .orderBy("day")

  /** The ONE HLL readout body, keyed generically — q49/s53 run it per
    * day, q52b per profiled column: fill the 256-register spine per
    * key (empty register ⇒ M = 0 ⇒ 2⁵³ into z_scaled), aggregate the
    * exact integer z_scaled and zero-register count, apply the ONE
    * shared [[q49Estimator]] string. */
  private[graft] def hllEstimate(registers: DataFrame, keys: DataFrame,
      key: String, estimator: String = q49Estimator): DataFrame =
    keys.select(col(key), explode(sequence(lit(0L), lit(255L))).as("j"))
      .join(registers, Seq(key, "j"), "left")
      .select(col(key), coalesce(col("m"), lit(0)).as("m"))
      .groupBy(key)
      .agg(sum(expr("shiftleft(CAST(1 AS BIGINT), 53 - m)")).as("z_scaled"),
        sum(when(col("m") === 0, 1L).otherwise(0L)).as("zero_registers"))
      .withColumn("hll_est", expr(estimator))

  /** q49's exact daily distinct pairs — the gate instrument s53
    * also folds (idempotent union-distinct, the s52 stance). */
  private[graft] def q49ExactPairs(ev: DataFrame): DataFrame =
    ev.select(col("ts").cast("date").as("day"), col("user_id")).distinct()

  /** q49: HyperLogLog daily uniques — the bounded-memory
    * count-distinct (Flajolet et al. 2007) every 100 TB dashboard
    * runs where q09's exact count-distinct would exchange the raw
    * (day, user) universe: per day, 256 max-of-rho registers (the
    * sketch's ENTIRE state — 256 small ints regardless of input
    * size), the exact integer z_scaled, and the raw HLL estimate,
    * alongside the exact distinct count and the relative error —
    * the estimator's honesty measured in-band, not claimed (the
    * a41/d51 stance; spec-bounded). The estimator carries
    * Flajolet's small-range rule: below 2.5 m it switches to linear
    * counting on the zero-register count — on this corpus (daily
    * uniques ≪ m) that branch is the live one, and the spec plants
    * a high-cardinality day to drive the raw branch too. The hash
    * is the house 60-bit md5, so — unlike production HLLs seeded
    * per-run — BOTH engines replay every register, the exact
    * z_scaled, and even the estimator's float path bit-for-bit
    * through the ONE shared estimator string (the ln's 256 possible
    * inputs exhaustively checked JVM-vs-libm).
    *
    * Scale (100 TB): the register build is ONE scan with a
    * (day, j) keyed exchange whose map-side partial is ≤ days×256
    * rows per task — the exchange carries sketch state, never
    * users; registers max-merge (associative + idempotent), which
    * is exactly what makes s53's live fold and any shard-then-merge
    * topology exact. The exact column is the gate instrument — at
    * production scale you drop it and keep the sketch; here it is
    * what the error column is measured against. */
  def q49HllDistinct(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    q49Present(q49Registers(q49Rho(ev)),
      q49ExactPairs(ev).groupBy("day").agg(count(lit(1)).as("exact_users")))
  }

  /** The daily register-table CTE chain (rho → reg) — shared by
    * q49's oracle and q91's rolling merge so the register definition
    * is ONE string in both engines. */
  private[graft] val q49RegCte: String =
    """rho AS (
      | SELECT CAST(ts AS DATE) AS day,
      |  h % 256 AS j,
      |  CASE WHEN h // 256 = 0 THEN 53
      |       ELSE 53 - length(bin(h // 256)) END AS rho
      | FROM (SELECT ts,
      |   CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)),1,15)) AS BIGINT) AS h
      |  FROM events)),
      |reg AS (SELECT day, j, max(rho) AS m FROM rho GROUP BY 1, 2)""".stripMargin

  /** DuckDB oracle for q49: identical hash split, register max,
    * spine fill, exact z_scaled, and the SAME estimator string. */
  val q49Sql: String =
    s"""WITH $q49RegCte,
       |days AS (SELECT CAST(ts AS DATE) AS day,
       |  CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users
       | FROM events GROUP BY 1),
       |filled AS (
       | SELECT s.day, coalesce(reg.m, 0) AS m
       | FROM (SELECT d.day, r.range AS j FROM days d CROSS JOIN range(256) r) s
       | LEFT JOIN reg ON s.day = reg.day AND s.j = reg.j),
       |agg AS (
       | SELECT day,
       |  CAST(sum(CAST(1 AS BIGINT) << (53 - m)) AS BIGINT) AS z_scaled,
       |  CAST(sum(CASE WHEN m = 0 THEN 1 ELSE 0 END) AS BIGINT) AS zero_registers
       | FROM filled GROUP BY 1),
       |est AS (
       | SELECT a.day, d.exact_users, a.zero_registers, a.z_scaled,
       |  $q49Estimator AS hll_users
       | FROM agg a JOIN days d ON a.day = d.day)
       |SELECT day, exact_users, zero_registers, z_scaled, hll_users,
       | round(abs(hll_users - exact_users) / exact_users, 4) AS rel_err
       |FROM est ORDER BY day""".stripMargin

  /** q91's trailing window length, days. */
  private[graft] val q91Window = 7

  /** q91: rolling 7-day distinct users — the WAU curve, the
    * dashboard staple exact distinct cannot serve at scale because
    * DISTINCT IS NOT SUBTRACTABLE: a sliding window cannot retire
    * yesterday's users from a running count, so the exact form
    * re-expands every (day, user) pair into all 7 windows it serves
    * (the declared gate instrument here). The production form is
    * q49's register table rolled through the window: registers
    * max-merge (associative + idempotent), so "uniques over any day
    * set" is a 256-int max over that set's registers — the window
    * merge touches days×256×7 SKETCH rows, never a user row. Both
    * legs ship in-band with the relative error (the q49/q68 honesty
    * stance) through the SAME [[q49Present]] readout, estimator
    * string, and register definition — a rolling sketch that cannot
    * drift from the daily one it merges.
    *
    * Scale (100 TB): the register build is q49's one scan; the
    * window expansion is ×7 on (day, 256)-row state; linear
    * counting / raw-branch selection is per-day via the one shared
    * estimator (both branches live across the gate SFs). The exact
    * leg's user-level ×7 expand is exactly what you DROP at
    * production scale — it exists here to measure the sketch
    * against. */
  def q91RollingDistinct(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val days = ev.select(col("ts").cast("date").as("day")).distinct()
    def expand(df: DataFrame, keep: Column*): DataFrame = df
      .select(explode(expr(
        s"transform(sequence(0, ${q91Window - 1}), i -> date_add(day, i))"))
        .as("tday") +: keep: _*)
      .join(days.select(col("day").as("tday")), Seq("tday"))
    val merged = expand(q49Registers(q49Rho(ev)), col("j"), col("m"))
      .groupBy("tday", "j").agg(max("m").as("m"))
      .withColumnRenamed("tday", "day")
    val exact = expand(q49ExactPairs(ev), col("user_id"))
      .groupBy("tday").agg(countDistinct("user_id").as("exact_users"))
      .withColumnRenamed("tday", "day")
    q49Present(merged, exact)
  }

  /** DuckDB oracle for q91: the shared [[q49RegCte]] register chain,
    * the identical ×7 day expansion on both legs, the shared spine
    * fill and estimator. */
  val q91Sql: String =
    s"""WITH $q49RegCte,
       |days AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events),
       |regx AS (
       | SELECT reg.day + CAST(r.range AS INT) AS day, j, m
       | FROM reg CROSS JOIN range($q91Window) r),
       |mreg AS (
       | SELECT x.day, j, max(m) AS m
       | FROM regx x JOIN days USING (day) GROUP BY 1, 2),
       |exact7 AS (
       | SELECT t.day, CAST(count(DISTINCT p.user_id) AS BIGINT) AS exact_users
       | FROM (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events) p
       | JOIN days t ON p.day BETWEEN t.day - ${q91Window - 1} AND t.day
       | GROUP BY 1),
       |filled AS (
       | SELECT s.day, coalesce(mreg.m, 0) AS m
       | FROM (SELECT d.day, r.range AS j FROM days d CROSS JOIN range(256) r) s
       | LEFT JOIN mreg ON s.day = mreg.day AND s.j = mreg.j),
       |agg AS (
       | SELECT day,
       |  CAST(sum(CAST(1 AS BIGINT) << (53 - m)) AS BIGINT) AS z_scaled,
       |  CAST(sum(CASE WHEN m = 0 THEN 1 ELSE 0 END) AS BIGINT) AS zero_registers
       | FROM filled GROUP BY 1),
       |est AS (
       | SELECT a.day, e.exact_users, a.zero_registers, a.z_scaled,
       |  $q49Estimator AS hll_users
       | FROM agg a JOIN exact7 e ON a.day = e.day)
       |SELECT day, exact_users, zero_registers, z_scaled, hll_users,
       | round(abs(hll_users - exact_users) / exact_users, 4) AS rel_err
       |FROM est ORDER BY day""".stripMargin

  /** q50: user-journey transition matrix — the Markov-chain view of
    * the event stream (the path/Sankey analysis next to q44's
    * funnel): for every consecutive event pair within a user's
    * timeline (ordered by ts, event_id — the q32/q47 total order),
    * count (from_type → to_type) transitions and normalize per
    * source state into transition probabilities. q44 asks "did the
    * canonical path happen"; q50 measures where users ACTUALLY go
    * next from each state.
    *
    * Scale (100 TB): one user-keyed window exchange builds the
    * successor pairs (the q32 lag shape — each user's partition
    * streams through lead() in one pass); everything after is
    * bounded by the TYPE alphabet, not data: the matrix is
    * ≤ |types|² rows, so its per-source normalization runs as a
    * window over a 25-row frame and the rollup's exchange carries
    * ≤ |types|² keys with map-side partials. */
  def q50EventTransitions(s: SparkSession, dir: String): DataFrame =
    q50Present(q50PairCounts(Tables.events(s, dir)))

  /** q50's successor-pair counting — THE transition definition, one
    * body for the batch matrix and s54's live fold (which applies it
    * to seed ∪ batch: under event-time-ordered slicing each user's
    * carried last event is the true predecessor of the batch's first,
    * so the union over generations telescopes to this full-history
    * count). Input needs (user_id, ts, event_id, event_type). */
  private[graft] def q50PairCounts(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ev.withColumn("to_type", lead(col("event_type"), 1).over(w))
      .filter(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("transitions"))
  }

  /** q50's presentation: per-source normalization over the bounded
    * |types|² matrix (shared with s54). */
  private[graft] def q50Present(m: DataFrame): DataFrame =
    m.withColumn("from_total",
        sum(col("transitions")).over(Window.partitionBy("from_type")))
      .withColumn("prob",
        round(col("transitions").cast("double") / col("from_total"), 4))
      .orderBy("from_type", "to_type")

  /** DuckDB oracle for q50: identical lead/count/normalize (window
    * sums cast back to BIGINT — DuckDB widens to HUGEINT). */
  val q50Sql: String =
    """WITH tr AS (
      | SELECT event_type AS from_type,
      |  lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |   AS to_type
      | FROM events),
      |m AS (
      | SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS transitions
      | FROM tr WHERE to_type IS NOT NULL GROUP BY 1, 2)
      |SELECT from_type, to_type, transitions,
      | CAST(sum(transitions) OVER (PARTITION BY from_type) AS BIGINT)
      |  AS from_total,
      | ROUND(CAST(transitions AS DOUBLE) /
      |  sum(transitions) OVER (PARTITION BY from_type), 4) AS prob
      |FROM m ORDER BY from_type, to_type""".stripMargin

  /** q51: PageRank over the co-purchase graph — the graph-centrality
    * staple (Page et al. 1999, the power-iteration form) run where a
    * warehouse actually has a graph: the part-affinity edges
    * [[q46PairsFrom]] mines (ONE shared pair body — the same
    * support-floored edges q46 scores with lift, so the miner and
    * the centrality ranking move together). Deterministic
    * SCALED-INTEGER arithmetic (the qualityScoreBp stance): ranks
    * live in a 1e12-scaled fixed-point, every transfer is
    * `(rank * w) div W(u)` in BIGINT — exact, summation-order-
    * independent, byte-identical across engines (float accumulation
    * order would not be); 3 unrolled Jacobi iterations with damping
    * 0.85 expressed as (15, 85)/100 integer splits against the
    * uniform teleport mass. The walk is WEIGHTED: an edge's share of
    * u's outflow is its pair support over u's total support mass.
    * Output: top-50 parts by final rank with degree and support
    * mass, full deterministic tiebreak.
    *
    * Scale (100 TB): the edge list is built once (q46's basket
    * self-join — bounded per order by basket size squared), then
    * each iteration is ONE src-keyed equi-join of the rank vector
    * against the persisted weighted edges plus ONE dst-keyed partial
    * aggregate — the canonical edge-partitioned power iteration;
    * persisting edges keyed by src lets all 3 iterations reuse one
    * partitioning; the node count crosses as a 1-row broadcast; the
    * top-50 is TakeOrderedAndProject, never a global sort. */
  def q51PageRank(s: SparkSession, dir: String): DataFrame = {
    val pairs = q46PairsFrom(q46Items(s, dir))
    // both edge directions emit from ONE pass over the pair stream:
    // the union-of-two-selects form duplicated the
    // whole q46 basket self-join subtree — the profile showed twin
    // explode and twin pair-agg stages, each pair of twins one union
    // side — because a Union's sides are independent subtrees Spark
    // does not common out. The explode emits the same edge multiset
    // (each pair once per direction) from a single subtree, halving
    // the dominant edge-construction cost; wsum/ew and the iterations
    // are unchanged.
    val edges = pairs.select(explode(array(
        struct(col("part_a").as("src"), col("part_b").as("dst"),
          col("pair_orders").as("w")),
        struct(col("part_b").as("src"), col("part_a").as("dst"),
          col("pair_orders").as("w")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"),
        col("e.w").as("w"))
    val wsum = edges.groupBy("src").agg(
      sum(col("w")).as("wtot"), count(lit(1)).as("deg"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ew = edges.join(wsum.select(col("src"), col("wtot")), Seq("src"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // eager materialization (the d51/d53 lesson): the final plan
    // carries FOUR broadcast(nn) subqueries (init + 3 iterations),
    // each reading wsum — broadcast exchanges materialize
    // concurrently when the action starts, and racing consumers of
    // the COLD persisted caches re-ran the q46 basket self-join once
    // each (measured 8.9 s cache-cold vs 1.8 warm). One count()
    // fills BOTH caches (ew's build reads wsum through the join)
    // before anything races; recomputed from parquet per invocation.
    ew.count()
    val nn = wsum.agg(count(lit(1)).as("n"))
    var rank = wsum.select(col("src").as("part")).crossJoin(broadcast(nn))
      .select(col("part"), expr(s"${q51Scale}L div n").as("rank"))
    for (_ <- 1 to 3) {
      val contrib = ew.join(rank.withColumnRenamed("part", "src"), Seq("src"))
        .select(col("dst").as("part"), expr("(rank * w) div wtot").as("c"))
        .groupBy("part").agg(sum(col("c")).as("cin"))
      rank = wsum.select(col("src").as("part"))
        .join(contrib, Seq("part"), "left")
        .crossJoin(broadcast(nn))
        .select(col("part"),
          expr(s"((${q51Scale}L div n) * 15) div 100" +
            " + (85 * coalesce(cin, 0L)) div 100").as("rank"))
    }
    rank.join(wsum.select(col("src").as("part"), col("deg"),
        col("wtot").as("support_mass")), Seq("part"))
      .select(col("part"), col("rank").as("rank_sc"), col("deg"),
        col("support_mass"))
      .orderBy(col("rank_sc").desc, col("part"))
      .limit(50)
  }

  private val q51Scale = 1000000000000L

  /** DuckDB oracle for q51: the shared [[q46PairsCte]] edge body,
    * then the identical 3 unrolled integer-arithmetic iterations
    * (`//` is DuckDB's truncating integer division = Spark's `div`
    * on the non-negative operands here; per-iteration SUMs are cast
    * back to BIGINT so the fixed-point never widens to HUGEINT). */
  val q51Sql: String = {
    def iter(k: Int): String = {
      val prev = if (k == 1) "r0" else s"r${k - 1}"
      s"""c$k AS (
         | SELECT e.dst AS part,
         |  CAST(sum((r.rank * e.w) // s.wtot) AS BIGINT) AS cin
         | FROM edges e JOIN wsum s ON s.src = e.src
         | JOIN $prev r ON r.part = e.src GROUP BY 1),
         |r$k AS (
         | SELECT w2.src AS part,
         |  ((${q51Scale} // nn.n) * 15) // 100
         |   + (85 * coalesce(c$k.cin, 0)) // 100 AS rank
         | FROM wsum w2 LEFT JOIN c$k ON c$k.part = w2.src CROSS JOIN nn)"""
        .stripMargin
    }
    s"""WITH $q46PairsCte,
      |edges AS (
      | SELECT part_a AS src, part_b AS dst, pair_orders AS w FROM pairs
      | UNION ALL
      | SELECT part_b AS src, part_a AS dst, pair_orders AS w FROM pairs),
      |wsum AS (
      | SELECT src, CAST(sum(w) AS BIGINT) AS wtot, count(*) AS deg
      | FROM edges GROUP BY 1),
      |nn AS (SELECT count(*) AS n FROM wsum),
      |r0 AS (
      | SELECT src AS part, ${q51Scale} // nn.n AS rank
      | FROM wsum CROSS JOIN nn),
      |${iter(1)},
      |${iter(2)},
      |${iter(3)}
      |SELECT r3.part, CAST(r3.rank AS BIGINT) AS rank_sc, w.deg,
      | w.wtot AS support_mass
      |FROM r3 JOIN wsum w ON w.src = r3.part
      |ORDER BY rank_sc DESC, part LIMIT 50""".stripMargin
  }

  /** q53: co-purchase communities — the component/cluster report
    * completing the graph pair (q51 ranks WITHIN the affinity graph,
    * q53 reports its SHAPE: how many connected product families
    * exist, how big, how densely co-bought — the "category
    * discovery" readout a merchandiser runs on basket data). Edges
    * are [[q46PairsFrom]] VERBATIM (the third consumer of the ONE
    * shared pair body, after the q46 miner and the q51 ranking);
    * labels come from the SAME [[graft.dedup.Dedup.connectedComponents]]
    * machinery the dedup family ships (d27/d32/m36 — min-label
    * contract), so the graph stack has one closure definition
    * engine-wide. Output: one row per community with its vertex
    * count, internal edge count, and total support mass, ordered
    * size-desc with full tiebreak.
    *
    * Scale (100 TB): the alternating-round CC is the audited d27
    * machinery (each round a keyed join + min-aggregate, plan-cut
    * between rounds; rounds ~ log diameter); the stats are two
    * component-keyed aggregates over label-joined edges. The giant-
    * component risk is real in basket graphs (sf0.01's graph is one
    * 1860-vertex family) — the support floor (≥ 2 co-orders) is the
    * production knob that keeps the graph sparse, and the CC rounds
    * are label-propagation joins either way, never per-component
    * materialization. */
  def q53Communities(s: SparkSession, dir: String): DataFrame = {
    val pairs = q46PairsFrom(q46Items(s, dir))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // NO eager count here (measured): the cold cache's racing
    // consumers DO re-run the q46 miner once per consumer (profiled:
    // twin 13-15 s-taskTime mining stages), but those recomputes
    // overlap on idle cores while a serializing count() measured
    // 5.26 -> 5.67 s — the d52/s73 back-fill boundary again. The lazy
    // persist stands; the vertex stream instead emits both endpoints
    // from ONE pass (the q51 explode form), removing one of the
    // racing subtrees outright.
    val verts = pairs
      .select(explode(array(col("part_a"), col("part_b"))).as("id"))
      .distinct()
    val labels = graft.dedup.Dedup.connectedComponents(verts,
      pairs.select(col("part_a").as("src"), col("part_b").as("dst")))
    val sizes = labels.groupBy("component").agg(count(lit(1)).as("size"))
    val es = pairs.join(labels.withColumnRenamed("id", "part_a"), Seq("part_a"))
      .groupBy("component").agg(count(lit(1)).as("edges"),
        sum(col("pair_orders")).as("support"))
    sizes.join(es, Seq("component"))
      .select(col("component").as("component_id"), col("size"),
        col("edges"), col("support"))
      .orderBy(col("size").desc, col("component_id"))
  }

  /** DuckDB oracle for q53: the shared [[q46PairsCte]] edge body,
    * closed with the d27b/m36b recursive-reachability idiom (UNION
    * dedups → termination), min label per vertex, then the identical
    * community arithmetic. */
  val q53Sql: String =
    s"""WITH RECURSIVE $q46PairsCte,
      |edges AS (
      | SELECT part_a AS src, part_b AS dst FROM pairs
      | UNION ALL SELECT part_b AS src, part_a AS dst FROM pairs),
      |reach(a, b) AS (
      | SELECT src, src FROM edges
      | UNION
      | SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src),
      |lab AS (SELECT a AS part, MIN(b) AS component_id FROM reach GROUP BY a),
      |sz AS (SELECT component_id, count(*) AS size FROM lab GROUP BY 1),
      |es AS (
      | SELECT l.component_id, count(*) AS edges,
      |  CAST(sum(p.pair_orders) AS BIGINT) AS support
      | FROM pairs p JOIN lab l ON l.part = p.part_a GROUP BY 1)
      |SELECT sz.component_id, CAST(sz.size AS BIGINT) AS size,
      | CAST(es.edges AS BIGINT) AS edges, es.support
      |FROM sz JOIN es USING (component_id)
      |ORDER BY size DESC, component_id""".stripMargin

  /** q54: item-item "also bought" recommender — the fourth consumer
    * of the ONE shared co-purchase pair body (q46 mines association
    * rules over it, q51 ranks centrality, q53 reports components,
    * q54 turns it into the per-item recommendation list a retailer
    * actually serves): for every part, its top-5 neighbors by
    * JACCARD over order sets — |orders(a) ∩ orders(b)| /
    * |orders(a) ∪ orders(b)| — the set-overlap normalization that
    * (unlike raw support) does not just surface globally popular
    * parts. Scored in scaled-integer basis points (the
    * qualityScoreBp/q51 stance): pair_orders × 10000 div
    * (orders_a + orders_b − pair_orders), exact BIGINT arithmetic,
    * byte-identical across engines. Full deterministic tiebreak
    * (score desc, support desc, neighbor asc), rank via
    * row_number partitioned BY PART.
    *
    * Scale (100 TB): the directed edge list is 2× the support-
    * floored pairs (bounded per order by basket size squared, the
    * q46 shape); per-part order counts join on the part key; the
    * top-5 window partitions by part — per-key parallelism, never a
    * single total order (the q15 topn-per-group stance, NOT ntile);
    * output is |parts| × ≤5 rows, orderable by any consumer. */
  def q54SimilarParts(s: SparkSession, dir: String): DataFrame = {
    val items = q46Items(s, dir)
    val pairs = q46PairsFrom(items)
    val perPart = items.groupBy("l_partkey").agg(count(lit(1)).as("part_orders"))
    val directed = pairs.select(col("part_a").as("part"),
        col("part_b").as("rec"), col("pair_orders"))
      .unionByName(pairs.select(col("part_b").as("part"),
        col("part_a").as("rec"), col("pair_orders")))
    val scored = directed
      .join(perPart.select(col("l_partkey").as("part"),
        col("part_orders").as("orders_p")), Seq("part"))
      .join(perPart.select(col("l_partkey").as("rec"),
        col("part_orders").as("orders_r")), Seq("rec"))
      .withColumn("jaccard_bp", expr(
        "pair_orders * 10000 div (orders_p + orders_r - pair_orders)"))
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("part"))
          .orderBy(col("jaccard_bp").desc, col("pair_orders").desc,
            col("rec"))))
      .filter(col("rank") <= 5)
      .select(col("part"), col("rec"), col("pair_orders"),
        col("jaccard_bp"), col("rank").cast("long").as("rank"))
      .orderBy(col("part"), col("rank"))
  }

  /** DuckDB oracle for q54: the shared [[q46PairsCte]], the same
    * directed doubling, the same BIGINT `//` Jaccard basis points
    * (DuckDB `//` == Spark `div` on the non-negative operands, the
    * q51 precedent), the same tiebroken per-part window. */
  val q54Sql: String =
    s"""WITH $q46PairsCte,
      |per_part AS (
      | SELECT l_partkey, count(*) AS part_orders FROM items GROUP BY 1),
      |directed AS (
      | SELECT part_a AS part, part_b AS rec, pair_orders FROM pairs
      | UNION ALL
      | SELECT part_b AS part, part_a AS rec, pair_orders FROM pairs),
      |scored AS (
      | SELECT d.part, d.rec, d.pair_orders,
      |  d.pair_orders * 10000 // (pp.part_orders + pr.part_orders - d.pair_orders)
      |    AS jaccard_bp
      | FROM directed d
      | JOIN per_part pp ON pp.l_partkey = d.part
      | JOIN per_part pr ON pr.l_partkey = d.rec),
      |ranked AS (
      | SELECT *, row_number() OVER (PARTITION BY part
      |   ORDER BY jaccard_bp DESC, pair_orders DESC, rec) AS rank
      | FROM scored)
      |SELECT part, rec, pair_orders, jaccard_bp, CAST(rank AS BIGINT) AS rank
      |FROM ranked WHERE rank <= 5 ORDER BY part, rank""".stripMargin

  /** q55: multi-touch marketing attribution — the "which channel
    * gets credit for this conversion" readout every growth team
    * runs, under the three canonical models AT ONCE so they can be
    * compared on one scan: for each purchase (the conversion), the
    * SAME user's touches (view / click / signup) in a 7-day
    * lookback window share 10000 basis points of credit per model —
    * FIRST-touch (all to the earliest), LAST-touch (all to the
    * latest), LINEAR (10000 div k each, division remainder pinned
    * to the first touch so every conversion's mass is EXACTLY
    * 10000 — the qualityScoreBp integer stance, no float splits). A
    * conversion with no touch in the window credits the synthetic
    * 'direct' channel in full under every model (the left-join row
    * IS the k=1 case — one code path, no special-casing). Output:
    * per channel, distinct conversions touched, credited touch
    * rows, and the three credit masses.
    *
    * Scale (100 TB): conversions join touches on user_id with the
    * lookback as a RESIDUAL predicate — co-partitioned
    * SortMergeJoin (the q47 PIT stance), bounded per user by 7-day
    * activity, never a time-range explosion; the per-conversion
    * k/first/last are one window partitioned by conversion id
    * (per-key parallelism); the final rollup is a |channels|-row
    * map-side-partial aggregate. At production scale both sides
    * bucket by user_id. */
  def q55Attribution(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    attributionRollup(
      attributionCredits(q55Conversions(ev), q55Touches(ev)))
  }

  /** q55's conversion stream (shared with s56's live fold). */
  private[graft] def q55Conversions(ev: DataFrame): DataFrame =
    ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("conv_id"), col("user_id"),
        col("ts").as("conv_ts"))

  /** q55's touch stream — view/click/signup ARE the channels
    * (shared with s56's retained touch buffer). */
  private[graft] def q55Touches(ev: DataFrame): DataFrame =
    ev.filter(col("event_type").isin("view", "click", "signup"))
      .select(col("user_id"), col("event_id").as("touch_id"),
        col("ts").as("touch_ts"), col("event_type").as("channel"))

  /** The ONE attribution credit rule — q55 runs it over the whole
    * table, s56 runs it per micro-batch against the retained touch
    * buffer: lookback left join, per-conversion (rn, k) window, the
    * three integer-bp credit vectors with the linear remainder
    * pinned to the first touch. */
  def attributionCredits(conv: DataFrame, touch: DataFrame): DataFrame = {
    val joined = conv.join(touch,
      conv("user_id") === touch("user_id") &&
        col("touch_ts") <= col("conv_ts") &&
        col("touch_ts") > col("conv_ts") - expr("INTERVAL 7 DAY"), "left")
    val w = Window.partitionBy(col("conv_id"))
    joined
      .withColumn("rn", row_number().over(
        w.orderBy(col("touch_ts"), col("touch_id"))))
      .withColumn("k", count(lit(1)).over(w))
      .select(col("conv_id"),
        coalesce(col("channel"), lit("direct")).as("channel"),
        col("touch_id"),
        when(col("rn") === 1, lit(10000L)).otherwise(lit(0L)).as("first_bp"),
        when(col("rn") === col("k"), lit(10000L)).otherwise(lit(0L))
          .as("last_bp"),
        (expr("10000 div k") + when(col("rn") === 1,
          lit(10000L) - col("k") * expr("10000 div k")).otherwise(lit(0L)))
          .as("linear_bp"))
  }

  /** Per-channel rollup of credit rows. DISTRIBUTIVE over disjoint
    * conversion sets (each conversion's rows land in exactly one
    * micro-batch), which is what lets s56 merge per-generation
    * deltas by plain per-channel sums. */
  def attributionRollup(credited: DataFrame): DataFrame =
    credited.groupBy("channel").agg(
      countDistinct(col("conv_id")).as("conversions"),
      count(col("touch_id")).as("touches"),
      sum(col("first_bp")).as("first_bp"),
      sum(col("last_bp")).as("last_bp"),
      sum(col("linear_bp")).as("linear_bp"))
      .orderBy(col("channel"))

  /** DuckDB oracle for q55: identical lookback left join, identical
    * window first/last/k, identical `//` remainder-to-first linear
    * split, identical rollup. */
  val q55Sql: String =
    """WITH conv AS (
      | SELECT event_id AS conv_id, user_id, ts AS conv_ts
      | FROM events WHERE event_type = 'purchase'),
      |touch AS (
      | SELECT user_id, event_id AS touch_id, ts AS touch_ts,
      |        event_type AS channel
      | FROM events WHERE event_type IN ('view', 'click', 'signup')),
      |joined AS (
      | SELECT c.conv_id, t.touch_id, t.touch_ts, t.channel
      | FROM conv c LEFT JOIN touch t
      |  ON t.user_id = c.user_id AND t.touch_ts <= c.conv_ts
      |   AND t.touch_ts > c.conv_ts - INTERVAL 7 DAY),
      |credited AS (
      | SELECT conv_id, COALESCE(channel, 'direct') AS channel, touch_id,
      |  CASE WHEN rn = 1 THEN 10000 ELSE 0 END AS first_bp,
      |  CASE WHEN rn = k THEN 10000 ELSE 0 END AS last_bp,
      |  10000 // k + CASE WHEN rn = 1 THEN 10000 - k * (10000 // k)
      |               ELSE 0 END AS linear_bp
      | FROM (SELECT *,
      |   row_number() OVER (PARTITION BY conv_id
      |     ORDER BY touch_ts, touch_id) AS rn,
      |   count(*) OVER (PARTITION BY conv_id) AS k
      |  FROM joined))
      |SELECT channel,
      | CAST(count(DISTINCT conv_id) AS BIGINT) AS conversions,
      | CAST(count(touch_id) AS BIGINT) AS touches,
      | CAST(sum(first_bp) AS BIGINT) AS first_bp,
      | CAST(sum(last_bp) AS BIGINT) AS last_bp,
      | CAST(sum(linear_bp) AS BIGINT) AS linear_bp
      |FROM credited GROUP BY channel ORDER BY channel""".stripMargin

  /** q56: the A/B experiment readout — deterministic hash-based arm
    * assignment plus the two-proportion z-test every experimentation
    * platform ships: each user lands in arm A or B by the PARITY of
    * the house 60-bit md5 key (the d23/q49 dual-dialect hash — the
    * assignment is a pure function of user_id, replayable by any
    * engine, no RNG state anywhere); a user CONVERTS iff they have
    * a HIGH-VALUE purchase (value > 100 — every user in this corpus
    * purchases SOMETHING, so bare has-a-purchase is the degenerate
    * p̂=1 outcome whose z denominator is 0; the thresholded outcome
    * is genuinely split in both arms at every SF). Per-arm users
    * and conversions are exact
    * integers; conversion rates are integer basis points (conv ×
    * 10000 div users); the z-score is the single closed-form
    * two-proportion statistic from those four exact counts — one
    * division each for p̂_a/p̂_b/p̂, one sqrt, ROUND 4 — no float
    * ACCUMULATION anywhere (the only FP is order-independent
    * scalar arithmetic, identical IEEE in both engines).
    *
    * Scale (100 TB): per-user conversion flags are one map-side-
    * combined groupBy(user_id); the readout is a conditional
    * aggregate to ONE row — scan-shaped end to end, no join, no
    * window, no driver loop. */
  def q56AbTest(s: SparkSession, dir: String): DataFrame = {
    val per = Tables.events(s, dir)
      .groupBy("user_id").agg(
        max(when(col("event_type") === "purchase" && col("value") > 100,
          1L).otherwise(0L)).as("converted"))
      .withColumn("arm", expr(
        "CASE WHEN cast(conv(substring(md5(cast(user_id as string)),1,15),16,10) " +
          "as bigint) % 2 = 0 THEN 'A' ELSE 'B' END"))
    per.agg(
        sum(when(col("arm") === "A", 1L).otherwise(0L)).as("a_users"),
        sum(when(col("arm") === "B", 1L).otherwise(0L)).as("b_users"),
        sum(when(col("arm") === "A", col("converted")).otherwise(0L))
          .as("a_conversions"),
        sum(when(col("arm") === "B", col("converted")).otherwise(0L))
          .as("b_conversions"))
      .select(col("a_users"), col("b_users"),
        col("a_conversions"), col("b_conversions"),
        expr("a_conversions * 10000 div a_users").as("a_conv_bp"),
        expr("b_conversions * 10000 div b_users").as("b_conv_bp"),
        (expr("b_conversions * 10000 div b_users") -
          expr("a_conversions * 10000 div a_users")).as("lift_bp"),
        expr("""ROUND(
          (CAST(b_conversions AS DOUBLE) / b_users
            - CAST(a_conversions AS DOUBLE) / a_users)
          / sqrt(
            (CAST(a_conversions + b_conversions AS DOUBLE) / (a_users + b_users))
            * (1.0 - CAST(a_conversions + b_conversions AS DOUBLE) / (a_users + b_users))
            * (1.0 / a_users + 1.0 / b_users)), 4)""").as("z_score"))
  }

  /** DuckDB oracle for q56: the q49 dual-dialect md5 key, identical
    * parity assignment, identical integer bp and closed-form z. */
  val q56Sql: String =
    """WITH per AS (
      | SELECT user_id,
      |  max(CASE WHEN event_type = 'purchase' AND value > 100
      |      THEN 1 ELSE 0 END) AS converted,
      |  CASE WHEN CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)),1,15))
      |        AS BIGINT) % 2 = 0 THEN 'A' ELSE 'B' END AS arm
      | FROM events GROUP BY user_id),
      |counts AS (
      | SELECT
      |  CAST(sum(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS a_users,
      |  CAST(sum(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS b_users,
      |  CAST(sum(CASE WHEN arm = 'A' THEN converted ELSE 0 END) AS BIGINT)
      |    AS a_conversions,
      |  CAST(sum(CASE WHEN arm = 'B' THEN converted ELSE 0 END) AS BIGINT)
      |    AS b_conversions
      | FROM per)
      |SELECT a_users, b_users, a_conversions, b_conversions,
      | a_conversions * 10000 // a_users AS a_conv_bp,
      | b_conversions * 10000 // b_users AS b_conv_bp,
      | b_conversions * 10000 // b_users
      |   - a_conversions * 10000 // a_users AS lift_bp,
      | ROUND(
      |  (CAST(b_conversions AS DOUBLE) / b_users
      |    - CAST(a_conversions AS DOUBLE) / a_users)
      |  / sqrt(
      |   (CAST(a_conversions + b_conversions AS DOUBLE) / (a_users + b_users))
      |   * (1.0 - CAST(a_conversions + b_conversions AS DOUBLE)
      |       / (a_users + b_users))
      |   * (1.0 / a_users + 1.0 / b_users)), 4) AS z_score
      |FROM counts""".stripMargin

  /** q57's daily series — purchase counts per day, the ONE body the
    * batch detector profiles and s57's live ledger sum-merges. */
  private[graft] def q57Daily(ev: DataFrame): DataFrame =
    ev.filter(col("event_type") === "purchase")
      .groupBy(col("ts").cast("date").as("day"))
      .agg(count(lit(1)).as("purchases"))

  /** q57's presentation over a daily ledger: the series median, the
    * MAD, and the per-day robust z — shared by batch and stream so
    * the detector has ONE definition. Holistic statistics are fine
    * HERE because they run over the |days|-sized ledger, never the
    * raw events (the q52-NDV / s53 trade does not arise: a year is
    * 365 rows at any corpus scale). */
  private[graft] def q57Present(daily: DataFrame): DataFrame = {
    val med = daily.agg(
      expr("percentile(purchases, 0.5)").as("med"))
    val mad = daily.crossJoin(broadcast(med))
      .agg(expr("percentile(abs(purchases - med), 0.5)").as("mad"))
    daily.crossJoin(broadcast(med)).crossJoin(broadcast(mad))
      .select(col("day"), col("purchases"), col("med"), col("mad"),
        expr("""CASE WHEN mad = 0.0 THEN 0.0
          ELSE ROUND((purchases - med) / (1.4826 * mad), 4) END""")
          .as("robust_z"))
      .withColumn("is_anomaly", abs(col("robust_z")) >= 3.5)
      .orderBy(col("day"))
  }

  /** q57: robust time-series anomaly detection — the median/MAD
    * z-score flagging ops teams run on every daily metric (robust
    * because ONE spiky day cannot drag the baseline the way a
    * mean/stddev z lets it): per day, the purchase count, the
    * series median, the median absolute deviation, and the robust z
    * ((x − med) / (1.4826·MAD), the normal-consistency constant),
    * flagged at |z| ≥ 3.5 (Iglewicz–Hoaglin). Counts are exact
    * integers; median/MAD of integers are exact halves; the z is
    * order-independent scalar IEEE — deterministic end to end, no
    * float accumulation (MAD = 0 is guarded to z = 0, not a
    * divide-by-zero).
    *
    * Scale (100 TB): the daily rollup is one map-side-combined
    * groupBy(day) over the scan; median/MAD are HOLISTIC but run
    * over the |days|-sized series (365 rows/year regardless of
    * corpus size), broadcast back as 1-row joins (the q28/q45
    * scalar stance); the per-day z is a projection. */
  def q57Anomaly(s: SparkSession, dir: String): DataFrame =
    q57Present(q57Daily(Tables.events(s, dir)))

  /** DuckDB oracle for q57: identical rollup, quantile_cont for the
    * two medians (== Spark percentile, the q27/q45 precedent),
    * identical guarded z arithmetic. */
  val q57Sql: String =
    """WITH daily AS (
      | SELECT CAST(ts AS DATE) AS day, count(*) AS purchases
      | FROM events WHERE event_type = 'purchase' GROUP BY 1),
      |med AS (SELECT quantile_cont(purchases, 0.5) AS med FROM daily),
      |mad AS (
      | SELECT quantile_cont(abs(purchases - med), 0.5) AS mad
      | FROM daily CROSS JOIN med)
      |SELECT day, purchases, med, mad,
      | CASE WHEN mad = 0.0 THEN 0.0
      |      ELSE ROUND((purchases - med) / (1.4826 * mad), 4) END AS robust_z,
      | abs(CASE WHEN mad = 0.0 THEN 0.0
      |      ELSE ROUND((purchases - med) / (1.4826 * mad), 4) END) >= 3.5
      |   AS is_anomaly
      |FROM daily CROSS JOIN med CROSS JOIN mad
      |ORDER BY day""".stripMargin

  /** q58: point-in-time trailing-window features — the feature-
    * engineering staple of every training pipeline (and the batch
    * complement of q47's PIT dimension join): for each purchase,
    * the user's trailing activity STRICTLY BEFORE it — views /
    * clicks / purchases in the prior 7 days and total events in the
    * prior 1 day — plus tenure (whole days since the user's first
    * event). "Strictly before" is the leakage guard: the RANGE
    * frame ends 1 microsecond before the purchase, so the label
    * row can never see itself or same-instant siblings — the
    * train-serve-skew bug this operator exists to prevent. All
    * features are exact integer counts over epoch-micros RANGE
    * frames (identical tie semantics in both engines: peers enter
    * by VALUE, not row position).
    *
    * Scale (100 TB): every feature shares ONE window partitioning —
    * a single user_id exchange serves all four trailing counts and
    * the tenure min (Catalyst stacks the Window operators on the
    * one sorted partitioning: the explained plan has exactly two
    * exchanges — the user_id shuffle and the final presentation
    * sort); frames are time-bounded so state per user is 7 days of
    * activity, never history; the label filter prunes AFTER the
    * window (features need the full event set — the documented
    * order). At production scale the events table buckets by
    * user_id and the exchange disappears. */
  def q58PitFeatures(s: SparkSession, dir: String): DataFrame = {
    val week = 7L * 24 * 3600 * 1000000L
    val day = 24L * 3600 * 1000000L
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("ts"),
        col("event_type"),
        expr("unix_micros(ts)").as("us"))
    val byUser = Window
      .partitionBy(col("user_id")).orderBy(col("us"))
    def trailing(lo: Long) = byUser.rangeBetween(-lo, -1L)
    val feat = ev
      .withColumn("views_7d", sum(when(col("event_type") === "view", 1L)
        .otherwise(0L)).over(trailing(week)))
      .withColumn("clicks_7d", sum(when(col("event_type") === "click", 1L)
        .otherwise(0L)).over(trailing(week)))
      .withColumn("purchases_7d", sum(when(col("event_type") === "purchase", 1L)
        .otherwise(0L)).over(trailing(week)))
      .withColumn("events_1d", sum(lit(1L)).over(trailing(day)))
      .withColumn("first_us", min(col("us")).over(
        Window.partitionBy(col("user_id"))))
    feat.filter(col("event_type") === "purchase")
      .select(col("event_id").as("conv_id"), col("user_id"), col("ts"),
        coalesce(col("views_7d"), lit(0L)).as("views_7d"),
        coalesce(col("clicks_7d"), lit(0L)).as("clicks_7d"),
        coalesce(col("purchases_7d"), lit(0L)).as("purchases_7d"),
        coalesce(col("events_1d"), lit(0L)).as("events_1d"),
        expr(s"(us - first_us) div $day").as("tenure_days"))
      .orderBy(col("conv_id"))
  }

  /** DuckDB oracle for q58: identical epoch-micros RANGE frames
    * (BIGINT bounds, so both engines share exact tie semantics),
    * identical strict-past guard, identical tenure `//`. */
  val q58Sql: String = {
    val week = 7L * 24 * 3600 * 1000000L
    val day = 24L * 3600 * 1000000L
    s"""WITH ev AS (
      | SELECT event_id, user_id, ts, event_type,
      |  epoch_us(ts) AS us FROM events),
      |feat AS (
      | SELECT *,
      |  SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) OVER
      |   (PARTITION BY user_id ORDER BY us
      |    RANGE BETWEEN $week PRECEDING AND 1 PRECEDING) AS views_7d,
      |  SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) OVER
      |   (PARTITION BY user_id ORDER BY us
      |    RANGE BETWEEN $week PRECEDING AND 1 PRECEDING) AS clicks_7d,
      |  SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) OVER
      |   (PARTITION BY user_id ORDER BY us
      |    RANGE BETWEEN $week PRECEDING AND 1 PRECEDING) AS purchases_7d,
      |  SUM(1) OVER
      |   (PARTITION BY user_id ORDER BY us
      |    RANGE BETWEEN $day PRECEDING AND 1 PRECEDING) AS events_1d,
      |  MIN(us) OVER (PARTITION BY user_id) AS first_us
      | FROM ev)
      |SELECT event_id AS conv_id, user_id, ts,
      | CAST(COALESCE(views_7d, 0) AS BIGINT) AS views_7d,
      | CAST(COALESCE(clicks_7d, 0) AS BIGINT) AS clicks_7d,
      | CAST(COALESCE(purchases_7d, 0) AS BIGINT) AS purchases_7d,
      | CAST(COALESCE(events_1d, 0) AS BIGINT) AS events_1d,
      | (us - first_us) // $day AS tenure_days
      |FROM feat WHERE event_type = 'purchase'
      |ORDER BY conv_id""".stripMargin
  }

  /** q59: PSI drift monitor — the Population Stability Index every
    * model-monitoring stack computes to answer "has the live
    * feature distribution drifted from the one the model was
    * trained on": purchase values split into a REFERENCE window
    * (Jan 1–15) and a CURRENT window (Jan 16–30); ten equal-
    * frequency bins whose edges are FROZEN from the reference
    * deciles (the production discipline — edges move only when the
    * baseline is re-trained, otherwise drift would hide inside the
    * re-binning), assignment by the q45 strictly-greater boundary
    * count; PSI = Σ (q̂ᵢ − p̂ᵢ)·ln(q̂ᵢ/p̂ᵢ) with add-one (Laplace)
    * smoothing — p̂ᵢ = (nᵢ+1)/(N+10) — so an EMPTY current bin is a
    * large finite contribution, never ln(0) (deterministic in both
    * engines, no epsilon knob). Output: per bin, both counts, the
    * per-bin contribution, and the total PSI (the >0.2 "significant
    * drift" convention is the consumer's threshold).
    *
    * Scale (100 TB): both windows are one filtered scan; the nine
    * reference edges are a 1-row broadcast (the q45 stance); bin
    * counting is a 10-group map-side-combined aggregate; the PSI
    * assembly runs over TEN rows. Nothing here grows with the
    * corpus but the two scans. */
  def q59PsiDrift(s: SparkSession, dir: String): DataFrame = {
    val pur = Tables.events(s, dir)
      .filter(col("event_type") === "purchase")
      .select(col("ts"), col("value"))
    val ref = pur.filter(col("ts") < lit(q59Cut))
    val cur = pur.filter(col("ts") >= lit(q59Cut))
    val edges = q59Edges(ref)
    q59Present(
      q59Bins(ref, edges).withColumnRenamed("n", "ref_n"),
      q59Bins(cur, edges).withColumnRenamed("n", "cur_n"))
  }

  /** The reference/current boundary (shared with s58's fold). */
  private[graft] val q59Cut = "2024-01-16"

  /** q59's frozen reference-decile edges — the TRAINED parameter of
    * the monitor (s58 persists this 1-row frame as its artifact,
    * the s48 history-trained stance). */
  private[graft] def q59Edges(ref: DataFrame): DataFrame =
    ref.agg(expr(
      "percentile(value, array(0.1D,0.2D,0.3D,0.4D,0.5D,0.6D,0.7D,0.8D,0.9D))")
      .as("edges"))

  /** The ONE bin-assignment + count body both windows (and s58's
    * per-batch fold) run: the q45 strictly-greater boundary count
    * against the broadcast frozen edges. */
  private[graft] def q59Bins(df: DataFrame, edges: DataFrame): DataFrame =
    df.crossJoin(broadcast(edges))
      .select((lit(1) + size(filter(col("edges"), x => col("value") > x)))
        .cast("long").as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("n"))

  /** The PSI assembly over the two 10-row bin ledgers — shared by
    * q59 and s58 so the monitor has ONE arithmetic definition. */
  private[graft] def q59Present(refN: DataFrame, curN: DataFrame): DataFrame =
    refN.join(curN, Seq("bin"), "full_outer")
      .select(col("bin"),
        coalesce(col("ref_n"), lit(0L)).as("ref_n"),
        coalesce(col("cur_n"), lit(0L)).as("cur_n"))
      .withColumn("p", (col("ref_n") + 1).cast("double") /
        (sum(col("ref_n")).over(Window
          .partitionBy()) + 10).cast("double"))
      .withColumn("q", (col("cur_n") + 1).cast("double") /
        (sum(col("cur_n")).over(Window
          .partitionBy()) + 10).cast("double"))
      .withColumn("raw", (col("q") - col("p")) * log(col("q") / col("p")))
      .select(col("bin"), col("ref_n"), col("cur_n"),
        round(col("raw"), 6).as("contribution"),
        round(sum(col("raw")).over(
          Window.partitionBy()), 6)
          .as("psi"))
      .orderBy(col("bin"))

  /** DuckDB oracle for q59: identical frozen-decile edges
    * (quantile_cont == Spark percentile), identical strictly-
    * greater bin assignment via list comprehension, identical
    * smoothed PSI arithmetic. */
  val q59Sql: String =
    """WITH pur AS (
      | SELECT ts, value FROM events WHERE event_type = 'purchase'),
      |ref AS (SELECT value FROM pur WHERE ts < '2024-01-16'),
      |cur AS (SELECT value FROM pur WHERE ts >= '2024-01-16'),
      |e AS (SELECT quantile_cont(value,
      |  [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS edges FROM ref),
      |ref_b AS (
      | SELECT 1 + len(list_filter(edges, x -> value > x)) AS bin,
      |        count(*) AS ref_n
      | FROM ref CROSS JOIN e GROUP BY 1),
      |cur_b AS (
      | SELECT 1 + len(list_filter(edges, x -> value > x)) AS bin,
      |        count(*) AS cur_n
      | FROM cur CROSS JOIN e GROUP BY 1),
      |j AS (
      | SELECT COALESCE(ref_b.bin, cur_b.bin) AS bin,
      |  CAST(COALESCE(ref_n, 0) AS BIGINT) AS ref_n,
      |  CAST(COALESCE(cur_n, 0) AS BIGINT) AS cur_n
      | FROM ref_b FULL OUTER JOIN cur_b ON ref_b.bin = cur_b.bin),
      |w AS (
      | SELECT *,
      |  CAST(ref_n + 1 AS DOUBLE) / (SUM(ref_n) OVER () + 10) AS p,
      |  CAST(cur_n + 1 AS DOUBLE) / (SUM(cur_n) OVER () + 10) AS q
      | FROM j)
      |SELECT CAST(bin AS BIGINT) AS bin, ref_n, cur_n,
      | ROUND((q - p) * ln(q / p), 6) AS contribution,
      | ROUND(SUM((q - p) * ln(q / p)) OVER (), 6) AS psi
      |FROM w ORDER BY bin""".stripMargin

  /** q60: the supplier scorecard — the vendor-performance rollup a
    * procurement team reviews (and the engine's canonical BROADCAST
    * DIMENSION join exercise): per supplier, shipped lines, distinct
    * parts, return rate in integer basis points (l_returnflag = 'R'
    * over all lines), revenue in INTEGER CENTS — each line's
    * extendedprice·(1−discount) rounds to cents BEFORE the sum, so
    * the total is an exact BIGINT, summation-order-independent (the
    * q33 lesson, re-learned here live: the first draft ROUNDed a
    * float SUM and the sf0.1 byte audit caught a one-cent tie split
    * between engines — money never float-accumulates), and the
    * supplier's revenue RANK WITHIN ITS NATION (row_number on the
    * integer cents with a suppkey tiebreak).
    *
    * Scale (100 TB): the fact rollup is ONE map-side-combined
    * groupBy(l_suppkey) over the lineitem scan; supplier and nation
    * are classic small dimensions — both joins BROADCAST (|S| ~
    * 10k/TB, |N| = 25; the explained plan shows two
    * BroadcastHashJoins, zero extra exchanges); the per-nation rank
    * windows by nation key — per-key parallelism over a |S|-sized
    * frame, never a global sort except the final |S|-row
    * presentation. */
  def q60SupplierScorecard(s: SparkSession, dir: String): DataFrame = {
    val per = Tables.lineitem(s, dir)
      .groupBy(col("l_suppkey").as("supp_key"))
      .agg(count(lit(1)).as("lines"),
        countDistinct(col("l_partkey")).as("parts"),
        sum(when(col("l_returnflag") === "R", 1L).otherwise(0L))
          .as("returns"),
        sum(expr(
          "cast(round(l_extendedprice * (1.0 - l_discount) * 100, 0) as bigint)"))
          .as("revenue_cents"))
    val dims = Tables.supplier(s, dir)
      .join(Tables.nation(s, dir),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey").as("supp_key"), col("s_name"),
        col("n_name").as("nation"))
    per.join(broadcast(dims), Seq("supp_key"))
      .withColumn("return_bp", expr("returns * 10000 div lines"))
      .withColumn("nation_rank", row_number().over(
        Window.partitionBy(col("nation"))
          .orderBy(col("revenue_cents").desc, col("supp_key"))).cast("long"))
      .select(col("supp_key"), col("s_name"), col("nation"), col("lines"),
        col("parts"), col("returns"), col("return_bp"), col("revenue_cents"),
        col("nation_rank"))
      .orderBy(col("supp_key"))
  }

  /** DuckDB oracle for q60: identical rollup, joins, bp division,
    * and rounded-revenue rank with the same tiebreak. */
  val q60Sql: String =
    """WITH per AS (
      | SELECT l_suppkey AS supp_key, count(*) AS lines,
      |  count(DISTINCT l_partkey) AS parts,
      |  CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT)
      |    AS returns,
      |  CAST(sum(CAST(ROUND(l_extendedprice * (1.0 - l_discount) * 100, 0)
      |    AS BIGINT)) AS BIGINT) AS revenue_cents
      | FROM lineitem GROUP BY 1)
      |SELECT p.supp_key, s.s_name, n.n_name AS nation,
      | CAST(p.lines AS BIGINT) AS lines, CAST(p.parts AS BIGINT) AS parts,
      | p.returns, p.returns * 10000 // p.lines AS return_bp, p.revenue_cents,
      | CAST(row_number() OVER (PARTITION BY n.n_name
      |   ORDER BY p.revenue_cents DESC, p.supp_key) AS BIGINT) AS nation_rank
      |FROM per p
      |JOIN supplier s ON s.s_suppkey = p.supp_key
      |JOIN nation n ON n.n_nationkey = s.s_nationkey
      |ORDER BY p.supp_key""".stripMargin

  /** q61: equi-width histograms — the OTHER statistic an optimizer's
    * stats collector keeps (q52 profiles scalar summaries; q61 adds
    * the per-column value DISTRIBUTION a cost model or a data-
    * quality reviewer bins by): for every numeric profiled column,
    * ten equal-width bins between the column's exact min and max,
    * one row per POPULATED bin with its edges and count. The
    * stacked scan is [[q52Stacked]] VERBATIM (the third consumer
    * after q52 and s55's fold — a new profiled column is one array
    * entry and every profiler moves together); bin assignment is
    * least(9, floor((v − min)·10 / (max − min))) with the constant-
    * column (max = min) guard pinning everything to bin 0 — every
    * step identical scalar IEEE in both engines, and the edges are
    * derived from min/max by the same arithmetic, so the whole
    * result is byte-exact without any rounding.
    *
    * Scale (100 TB): the per-column min/max is a 4-row broadcast
    * (only the numeric columns survive the value_num filter)
    * joined back onto the stacked scan (map-side, no shuffle on the
    * fact side beyond the stats partial); bin counting is a
    * (column × 10)-group map-side-combined aggregate — two scans
    * total, both scan-shaped. */
  def q61Histogram(s: SparkSession, dir: String): DataFrame = {
    val nums = q52Stacked(Tables.events(s, dir))
      .filter(col("value_num").isNotNull)
      .select(col("col_name"), col("value_num"))
    val stats = nums.groupBy("col_name").agg(
      min(col("value_num")).as("min_num"), max(col("value_num")).as("max_num"))
    nums.join(broadcast(stats), Seq("col_name"))
      .withColumn("bin", expr("""CASE WHEN max_num = min_num THEN 0
        ELSE least(9, cast(floor((value_num - min_num) * 10
          / (max_num - min_num)) as bigint)) END"""))
      .groupBy("col_name", "bin", "min_num", "max_num")
      .agg(count(lit(1)).as("n"))
      .select(col("col_name"), col("bin"),
        expr("min_num + bin * (max_num - min_num) / 10").as("lo"),
        expr("min_num + (bin + 1) * (max_num - min_num) / 10").as("hi"),
        col("n"))
      .orderBy(col("col_name"), col("bin"))
  }

  /** DuckDB oracle for q61: the shared [[q52StackCte]], identical
    * guarded bin arithmetic, identical edge derivation. Lazy: it
    * references [[q52StackCte]], declared later in this object —
    * the known val-init-order NPE otherwise. */
  lazy val q61Sql: String =
    s"""WITH $q52StackCte,
      |nums AS (
      | SELECT col_name, value_num FROM st WHERE value_num IS NOT NULL),
      |stats AS (
      | SELECT col_name, min(value_num) AS min_num, max(value_num) AS max_num
      | FROM nums GROUP BY 1),
      |binned AS (
      | SELECT n.col_name,
      |  CASE WHEN max_num = min_num THEN 0
      |       ELSE least(9, CAST(floor((value_num - min_num) * 10
      |         / (max_num - min_num)) AS BIGINT)) END AS bin,
      |  min_num, max_num
      | FROM nums n JOIN stats s ON s.col_name = n.col_name)
      |SELECT col_name, CAST(bin AS BIGINT) AS bin,
      | min_num + bin * (max_num - min_num) / 10 AS lo,
      | min_num + (bin + 1) * (max_num - min_num) / 10 AS hi,
      | count(*) AS n
      |FROM binned GROUP BY col_name, bin, min_num, max_num
      |ORDER BY col_name, bin""".stripMargin

  /** q62: calendar gap-fill with FORWARD FILL — the stateful fill
    * q28's zero-fill spine cannot express (a dashboard or feature
    * join needs "the last known value as of this day", not zero,
    * for stock-like series): every calendar day from the first to
    * the last order date, with that day's order count and revenue
    * (zero on silent days), the forward-filled last OBSERVED
    * revenue, and the gap age (days since the last observed day —
    * the staleness signal a consumer thresholds). Revenue follows
    * the q60 integer-cents discipline (per-order cents, exact
    * BIGINT sums). The fill runs on ONE ordered window over the
    * |days|-row spine — single-partition BY DESIGN, the q57
    * bounded-series argument: the calendar is ~365 rows/year at ANY
    * corpus scale, so the sequential pass is over the summary, never
    * the facts.
    *
    * Scale (100 TB): the daily rollup is one map-side-combined
    * groupBy(day) over the orders scan; the spine is a 1-row range
    * broadcast exploded to |days| rows; the fill window and the
    * left join run over that bounded series. */
  def q62GapFill(s: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(s, dir)
    val daily = ord.groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(count(lit(1)).as("n_orders"),
        sum(expr("cast(round(o_totalprice * 100, 0) as bigint)"))
          .as("day_cents"))
    val range = ord.agg(to_date(min(col("o_orderdate"))).as("d0"),
      to_date(max(col("o_orderdate"))).as("d1"))
    val spine = range.select(explode(
      sequence(col("d0"), col("d1"), expr("INTERVAL 1 DAY"))).as("day"))
    val w = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(daily, Seq("day"), "left")
      .withColumn("ffill_cents",
        last(col("day_cents"), ignoreNulls = true).over(w))
      .withColumn("last_obs",
        last(when(col("n_orders").isNotNull, col("day")), ignoreNulls = true)
          .over(w))
      .select(col("day"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"),
        coalesce(col("day_cents"), lit(0L)).as("day_cents"),
        col("ffill_cents"),
        datediff(col("day"), col("last_obs")).cast("long").as("gap_days"))
      .orderBy("day")
  }

  /** DuckDB oracle for q62: identical spine, identical per-order
    * cents rollup, last_value IGNORE NULLS for both fills, identical
    * gap arithmetic. */
  val q62Sql: String =
    """WITH daily AS (
      | SELECT CAST(o_orderdate AS DATE) AS day, count(*) AS n_orders,
      |  CAST(sum(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
      |    AS day_cents
      | FROM orders GROUP BY 1),
      |r AS (SELECT CAST(min(o_orderdate) AS DATE) AS d0,
      |             CAST(max(o_orderdate) AS DATE) AS d1 FROM orders),
      |spine AS (
      | SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE)
      |   AS day FROM r),
      |filled AS (
      | SELECT s.day, d.n_orders, d.day_cents,
      |  last_value(d.day_cents IGNORE NULLS) OVER
      |   (ORDER BY s.day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |    AS ffill_cents,
      |  last_value(CASE WHEN d.n_orders IS NOT NULL THEN s.day END
      |    IGNORE NULLS) OVER
      |   (ORDER BY s.day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |    AS last_obs
      | FROM spine s LEFT JOIN daily d ON d.day = s.day)
      |SELECT day, COALESCE(n_orders, 0) AS n_orders,
      | CAST(COALESCE(day_cents, 0) AS BIGINT) AS day_cents, ffill_cents,
      | CAST(date_diff('day', last_obs, day) AS BIGINT) AS gap_days
      |FROM filled ORDER BY day""".stripMargin

  /** q63: Benford first-digit audit — the fraud/synthetic-data
    * screen auditors run on any money column (natural multi-scale
    * amounts follow log-uniform first digits; fabricated or
    * truncated data does not): the distribution of o_totalprice's
    * leading digit against the Benford expectation log10(1 + 1/d),
    * with the chi-square statistic from the NINE exact counts. The
    * digit is integer arithmetic (first char of the floored
    * amount); expectations are the same nine literal doubles in
    * both engines; each chi² term (obs − n·p)²/(n·p) is closed-form
    * scalar IEEE over exact counts (the q56 z stance), and the
    * nine-term total is a windowed SUM over nine rows, ROUND 4 —
    * the q59 PSI precedent.
    *
    * Scale (100 TB): one scan, a 9-group map-side-combined count,
    * and a nine-row assembly — nothing else. */
  def q63Benford(s: SparkSession, dir: String): DataFrame =
    q63Present(q63Digits(Tables.orders(s, dir)))

  /** q63's digit ledger — one row per leading digit with its exact
    * count; the ONE body the batch audit aggregates and s59's live
    * fold sum-merges. */
  private[graft] def q63Digits(ord: DataFrame): DataFrame =
    ord.filter(col("o_totalprice") > 0)
      .select(expr(
        "cast(substring(cast(cast(floor(o_totalprice) as bigint) as string), 1, 1) as bigint)")
        .as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n"))

  /** q63's readout over a digit ledger — expectations, ppm, and the
    * chi-square assembly; shared by batch and stream so the audit
    * has ONE arithmetic definition. */
  private[graft] def q63Present(digits: DataFrame): DataFrame = {
    val w = Window.partitionBy()
    digits
      .withColumn("total", sum(col("n")).over(w))
      .withColumn("p", expr("log10(1.0 + 1.0 / digit)"))
      .withColumn("term", expr(
        "(n - total * p) * (n - total * p) / (total * p)"))
      .select(col("digit"), col("n"),
        expr("cast(round(p * 1000000, 0) as bigint)").as("expected_ppm"),
        expr("n * 1000000 div total").as("obs_ppm"),
        round(col("term"), 4).as("chi2_term"),
        round(sum(col("term")).over(w), 4).as("chi2"))
      .orderBy(col("digit"))
  }

  /** DuckDB oracle for q63: identical digit extraction, identical
    * literal-free Benford expectation (log10 both engines),
    * identical chi-square assembly over the nine rows. */
  val q63Sql: String =
    """WITH d AS (
      | SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR),
      |   1, 1) AS BIGINT) AS digit, count(*) AS n
      | FROM orders WHERE o_totalprice > 0 GROUP BY 1),
      |w AS (
      | SELECT digit, n, SUM(n) OVER () AS total,
      |  log10(1.0 + 1.0 / digit) AS p
      | FROM d),
      |t AS (
      | SELECT *, (n - total * p) * (n - total * p) / (total * p) AS term
      | FROM w)
      |SELECT digit, n,
      | CAST(ROUND(p * 1000000, 0) AS BIGINT) AS expected_ppm,
      | CAST(n * 1000000 // total AS BIGINT) AS obs_ppm,
      | ROUND(term, 4) AS chi2_term,
      | ROUND(SUM(term) OVER (), 4) AS chi2
      |FROM t ORDER BY digit""".stripMargin

  /** q64: market share with an OTHER rollup — the "top-N plus
    * other" report every BI layer renders and a naive GROUP BY
    * cannot produce in one pass (the long tail must collapse
    * WITHOUT losing mass): per order year, the top-3 customer
    * market segments by revenue keep their names, the tail rolls
    * into 'OTHER', and every row carries its share of the year in
    * integer basis points. Revenue per the q60 integer-cents
    * discipline; the top-3 cut is a deterministic rank (cents desc,
    * segment asc); shares are cents × 10000 div year-total — the
    * sum of shares telescopes to ≤ 10000 exactly (integer division
    * only sheds).
    *
    * Scale (100 TB): orders join customers on the customer key
    * (both sides bucket by it at production scale); the rollup is a
    * (year × segment)-group map-side-combined aggregate — a
    * |years|·|segments| frame; the rank, OTHER collapse, and share
    * window all run on that summary, never the facts. */
  def q64MarketShare(s: SparkSession, dir: String): DataFrame = {
    val per = Tables.orders(s, dir)
      .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
      .groupBy(year(col("o_orderdate")).as("yr"),
        col("c_mktsegment").as("segment"))
      .agg(count(lit(1)).as("orders"),
        sum(expr("cast(round(o_totalprice * 100, 0) as bigint)"))
          .as("cents"))
    val ranked = per.withColumn("rk", row_number().over(
      Window.partitionBy(col("yr"))
        .orderBy(col("cents").desc, col("segment"))))
    ranked
      .withColumn("seg",
        when(col("rk") <= 3, col("segment")).otherwise(lit("OTHER")))
      .groupBy(col("yr"), col("seg").as("segment"))
      .agg(sum(col("orders")).as("orders"), sum(col("cents")).as("cents"))
      .withColumn("year_cents",
        sum(col("cents")).over(Window.partitionBy(col("yr"))))
      .select(col("yr").cast("long").as("yr"), col("segment"), col("orders"),
        col("cents"), expr("cents * 10000 div year_cents").as("share_bp"))
      .orderBy(col("yr"), col("cents").desc, col("segment"))
  }

  /** DuckDB oracle for q64: identical cents rollup, identical rank
    * cut and OTHER collapse, identical integer share (year totals
    * cast back from HUGEINT — the dtype gate). */
  val q64Sql: String =
    """WITH per AS (
      | SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
      |  c_mktsegment AS segment, count(*) AS orders,
      |  CAST(sum(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
      |    AS cents
      | FROM orders JOIN customer ON o_custkey = c_custkey
      | GROUP BY 1, 2),
      |ranked AS (
      | SELECT *, row_number() OVER (PARTITION BY yr
      |   ORDER BY cents DESC, segment) AS rk FROM per),
      |bucketed AS (
      | SELECT yr, CASE WHEN rk <= 3 THEN segment ELSE 'OTHER' END AS segment,
      |  CAST(sum(orders) AS BIGINT) AS orders, CAST(sum(cents) AS BIGINT) AS cents
      | FROM ranked GROUP BY 1, 2)
      |SELECT yr, segment, orders, cents,
      | CAST(cents * 10000 // CAST(SUM(cents) OVER (PARTITION BY yr) AS BIGINT)
      |   AS BIGINT) AS share_bp
      |FROM bucketed ORDER BY yr, cents DESC, segment""".stripMargin

  /** q65: Kaplan–Meier survival — the time-to-second-order curve a
    * retention team reads as "how long until a new customer
    * reorders", with CENSORING done right (single-order customers
    * are not failures; they are observed only up to the corpus
    * horizon — dropping them is the classic churn-analysis bias
    * this estimator exists to avoid): per customer, duration =
    * days from first to second order (event) or to the horizon
    * (censored); the KM table lists every event time with the
    * number at risk, events, same-day censored, and the survival
    * estimate Π (1 − dᵢ/nᵢ). The product is computed as
    * exp(Σ ln(1 − d/n)) over the event times in ORDER — a
    * cumulative ordered window, so both engines accumulate the
    * identical IEEE sequence (ROUND 6); the d = n full-death step
    * (where ln(0) diverges — Spark returns NULL, DuckDB −inf) is
    * guarded by a cumulative flag that pins survival to exactly
    * 0.0 from that step on.
    *
    * Scale (100 TB): first/second order dates are one per-customer
    * window (user-keyed, the q58 stance) + rollup; the KM table
    * itself is |distinct durations| rows (bounded by the calendar,
    * the q57/q62 bounded-series argument) — the risk counts, the
    * flag, and the log-sum all run on that summary, never the
    * facts. */
  def q65Survival(s: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(s, dir)
      .select(col("o_custkey"), to_date(col("o_orderdate")).as("d"))
    val horizon = ord.agg(max(col("d")).as("dmax"))
    val per = ord
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("o_custkey")).orderBy(col("d"))))
      .filter(col("rn") <= 2)
      .groupBy("o_custkey").agg(
        min(col("d")).as("t1"),
        max(when(col("rn") === 2, col("d"))).as("t2"))
    val subj = per.crossJoin(broadcast(horizon)).select(
      when(col("t2").isNotNull, datediff(col("t2"), col("t1")))
        .otherwise(datediff(col("dmax"), col("t1"))).cast("long").as("dur"),
      when(col("t2").isNotNull, 1L).otherwise(0L).as("event"))
    val byDur = subj.groupBy("dur").agg(
      sum(col("event")).as("d_events"),
      sum(lit(1L) - col("event")).as("censored_at"),
      count(lit(1)).as("at_dur"))
    val before = Window.orderBy(col("dur"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val risked = byDur
      .withColumn("n_total", sum(col("at_dur")).over(Window.partitionBy()))
      .withColumn("n_risk", col("n_total") -
        coalesce(sum(col("at_dur")).over(before), lit(0L)))
    val cum = Window.orderBy(col("dur"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    risked.filter(col("d_events") > 0)
      .withColumn("dead", sum(when(col("d_events") === col("n_risk"), 1L)
        .otherwise(0L)).over(cum))
      .withColumn("term", when(col("d_events") === col("n_risk"), lit(0.0))
        .otherwise(expr("ln(1.0 - cast(d_events as double) / n_risk)")))
      .select(col("dur").as("t_days"), col("n_risk"), col("d_events"),
        col("censored_at"),
        when(col("dead") > 0, lit(0.0))
          .otherwise(round(exp(sum(col("term")).over(cum)), 6))
          .as("survival"))
      .orderBy(col("t_days"))
  }

  /** DuckDB oracle for q65: identical first/second-order windows,
    * identical risk-set arithmetic, identical guarded ordered
    * log-sum (ln/exp agree on identical IEEE inputs). */
  val q65Sql: String =
    """WITH ord AS (
      | SELECT o_custkey, CAST(o_orderdate AS DATE) AS d FROM orders),
      |h AS (SELECT max(d) AS dmax FROM ord),
      |per AS (
      | SELECT o_custkey, min(d) AS t1,
      |  max(CASE WHEN rn = 2 THEN d END) AS t2
      | FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
      |        ORDER BY d) AS rn FROM ord)
      | WHERE rn <= 2 GROUP BY 1),
      |subj AS (
      | SELECT CASE WHEN t2 IS NOT NULL THEN date_diff('day', t1, t2)
      |         ELSE date_diff('day', t1, dmax) END AS dur,
      |  CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END AS event
      | FROM per CROSS JOIN h),
      |by_dur AS (
      | SELECT dur, CAST(sum(event) AS BIGINT) AS d_events,
      |  CAST(sum(1 - event) AS BIGINT) AS censored_at,
      |  count(*) AS at_dur
      | FROM subj GROUP BY 1),
      |risked AS (
      | SELECT *,
      |  CAST(SUM(at_dur) OVER () AS BIGINT)
      |   - CAST(COALESCE(SUM(at_dur) OVER (ORDER BY dur
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      |   AS n_risk
      | FROM by_dur),
      |ev AS (
      | SELECT *,
      |  SUM(CASE WHEN d_events = n_risk THEN 1 ELSE 0 END) OVER
      |   (ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |   AS dead,
      |  CASE WHEN d_events = n_risk THEN 0.0
      |       ELSE ln(1.0 - CAST(d_events AS DOUBLE) / n_risk) END AS term
      | FROM risked WHERE d_events > 0)
      |SELECT CAST(dur AS BIGINT) AS t_days, n_risk, d_events, censored_at,
      | CASE WHEN dead > 0 THEN 0.0
      |      ELSE ROUND(exp(SUM(term) OVER (ORDER BY dur
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 6) END
      |  AS survival
      |FROM ev ORDER BY t_days""".stripMargin

  /** q66: cohort LTV curves — the cumulative-revenue-by-cohort-age
    * matrix that completes the retention triptych (q48 counts WHO
    * comes back, q65 times WHEN they first do, q66 accumulates WHAT
    * they are worth as they age): customers cohort by first-order
    * month; every order lands in (cohort, age-in-months) by pure
    * integer month arithmetic (year×12+month deltas — no calendar
    * library divergence); per cell, orders and revenue in the q60
    * integer-cents discipline; the running LTV accumulates per
    * cohort over age (an ordered window partitioned BY COHORT —
    * per-key parallelism) and normalizes per original member
    * (cum-cents div cohort size — integer, so curves compare across
    * cohorts of different sizes).
    *
    * Scale (100 TB): first-order month is one customer-keyed
    * window/rollup (the q58/q65 stance); the cell rollup is a
    * (cohort × age)-group map-side-combined aggregate; cumulation
    * and normalization run on that |cohorts|·|ages| summary
    * (calendar-bounded both ways), never the facts. */
  def q66CohortLtv(s: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(s, dir).select(col("o_custkey"),
      col("o_orderdate"),
      expr("year(o_orderdate) * 12 + month(o_orderdate) - 1").as("m"),
      expr("cast(round(o_totalprice * 100, 0) as bigint)").as("cents"))
    val first = ord.groupBy("o_custkey").agg(min(col("m")).as("cohort_m"))
    val cells = ord.join(first, Seq("o_custkey"))
      .groupBy(col("cohort_m"), (col("m") - col("cohort_m")).as("age"))
      .agg(count(lit(1)).as("orders"), sum(col("cents")).as("cents"))
    val sizes = first.groupBy("cohort_m")
      .agg(count(lit(1)).as("cohort_size"))
    val cum = Window.partitionBy(col("cohort_m")).orderBy(col("age"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cells.join(sizes, Seq("cohort_m"))
      .withColumn("cum_cents", sum(col("cents")).over(cum))
      .select(
        expr("cast(concat(cohort_m div 12, '-', lpad(cast(cohort_m % 12 + 1 as string), 2, '0')) as string)")
          .as("cohort"),
        col("age").cast("long").as("age"), col("cohort_size"),
        col("orders"), col("cents"), col("cum_cents"),
        expr("cum_cents div cohort_size").as("ltv_cents"))
      .orderBy(col("cohort"), col("age"))
  }

  /** DuckDB oracle for q66: identical integer month arithmetic,
    * cents rollup, per-cohort ordered cumulation, and integer
    * normalization (HUGEINT sums cast back — the dtype gate). */
  val q66Sql: String =
    """WITH ord AS (
      | SELECT o_custkey,
      |  year(o_orderdate) * 12 + month(o_orderdate) - 1 AS m,
      |  CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents
      | FROM orders),
      |first_m AS (
      | SELECT o_custkey, min(m) AS cohort_m FROM ord GROUP BY 1),
      |cells AS (
      | SELECT cohort_m, o.m - cohort_m AS age, count(*) AS orders,
      |  CAST(sum(cents) AS BIGINT) AS cents
      | FROM ord o JOIN first_m f USING (o_custkey) GROUP BY 1, 2),
      |sizes AS (
      | SELECT cohort_m, count(*) AS cohort_size FROM first_m GROUP BY 1),
      |cum AS (
      | SELECT c.*, s.cohort_size,
      |  CAST(SUM(c.cents) OVER (PARTITION BY c.cohort_m ORDER BY c.age
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |   AS cum_cents
      | FROM cells c JOIN sizes s USING (cohort_m))
      |SELECT cohort_m // 12 || '-' || lpad(CAST(cohort_m % 12 + 1 AS VARCHAR), 2, '0')
      |  AS cohort,
      | CAST(age AS BIGINT) AS age, CAST(cohort_size AS BIGINT) AS cohort_size,
      | CAST(orders AS BIGINT) AS orders, cents, cum_cents,
      | cum_cents // cohort_size AS ltv_cents
      |FROM cum ORDER BY cohort, age""".stripMargin

  /** q67: ABC / Pareto classification — the inventory-management
    * cut ("which 20% of parts carry 80% of revenue") every supply
    * chain runs: parts ordered by revenue desc (integer cents, the
    * q60 discipline, partkey tiebreak), each with its running
    * revenue share in basis points and the class the standard cut
    * assigns — A while the running share is ≤ 8000 bp, B while
    * ≤ 9500, C for the tail (the boundary part that crosses a
    * threshold takes the lower class — a deterministic convention,
    * documented). The running total is [[graft.functions.Ranks
    * .rangeCumsum]] — the value-ordered two-level cumsum (range-
    * partitioned contiguous sorted ranges + broadcast prefix
    * offsets), NOT a single-partition `SUM OVER (ORDER BY …)`
    * window: |parts| grows with the corpus, so the one-reducer
    * window is exactly the d36-class perf flaw this machinery
    * exists to avoid. The DuckDB oracle IS the plain one-window
    * form — the cross-engine proof the two-level cumsum equals the
    * textbook window (the d36/t50 stance).
    *
    * Scale (100 TB): the revenue rollup is one map-side-combined
    * groupBy(partkey); the cumsum's only global movement is the
    * range exchange an ORDER BY would do anyway, its offsets a
    * ≤32-row broadcast; the grand total is a 1-row broadcast. */
  def q67AbcPareto(s: SparkSession, dir: String): DataFrame = {
    val per = Tables.lineitem(s, dir)
      .groupBy(col("l_partkey").as("part"))
      .agg(sum(expr(
        "cast(round(l_extendedprice * (1.0 - l_discount) * 100, 0) as bigint)"))
        .as("cents"))
    val cum = graft.functions.Ranks.rangeCumsum(per,
      Seq(col("cents").desc, col("part")), col("cents"), 32, "cum_cents")
    val total = per.agg(sum(col("cents")).as("total_cents"))
    cum.crossJoin(broadcast(total))
      .withColumn("cum_bp", expr("cum_cents * 10000 div total_cents"))
      .select(col("part"), col("cents"), col("cum_cents"), col("cum_bp"),
        when(col("cum_bp") <= 8000, "A")
          .when(col("cum_bp") <= 9500, "B")
          .otherwise("C").as("abc_class"))
      .orderBy(col("cents").desc, col("part"))
  }

  /** DuckDB oracle for q67: the textbook single-window cumulative
    * (the proof rangeCumsum equals it), identical cents, identical
    * bp and class cuts (HUGEINT sums cast back — the dtype gate). */
  val q67Sql: String =
    """WITH per AS (
      | SELECT l_partkey AS part,
      |  CAST(sum(CAST(ROUND(l_extendedprice * (1.0 - l_discount) * 100, 0)
      |    AS BIGINT)) AS BIGINT) AS cents
      | FROM lineitem GROUP BY 1),
      |cum AS (
      | SELECT *,
      |  CAST(SUM(cents) OVER (ORDER BY cents DESC, part
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |   AS cum_cents,
      |  CAST(SUM(cents) OVER () AS BIGINT) AS total_cents
      | FROM per)
      |SELECT part, cents, cum_cents,
      | CAST(cum_cents * 10000 // total_cents AS BIGINT) AS cum_bp,
      | CASE WHEN cum_cents * 10000 // total_cents <= 8000 THEN 'A'
      |      WHEN cum_cents * 10000 // total_cents <= 9500 THEN 'B'
      |      ELSE 'C' END AS abc_class
      |FROM cum ORDER BY cents DESC, part""".stripMargin

  /** q69's session gap: a strictly-greater-than-30-minutes silence
    * starts a new session (exactly 30:00 stays in-session — the
    * documented boundary convention, integer micros in both
    * engines). */
  private[graft] val q69GapUs = 1800000000L

  /** q69: batch sessionization — the session table every product
    * analytics store derives before anything else (s36 keeps the
    * STREAMING side; this is the batch twin over history, the
    * q44/s50 pairing in reverse): events partition into sessions at
    * >30-min silences via the classic lag-flag-cumsum idiom, then
    * roll up per session to start/end, event count, duration, and
    * purchase count. All arithmetic is integer micros; the session
    * index is a per-user running sum of new-session flags, so the
    * numbering is deterministic under the (ts, event_id) total
    * order (the q32/q47 stance).
    *
    * Scale (100 TB): ONE user-keyed window exchange (the q32 lag
    * shape — each user's partition streams through lag + running
    * sum in one pass) and the rollup reuses the same user-keyed
    * partitioning (groupBy on user_id, session_idx co-locates);
    * output rows grow with sessions, not events — this is a
    * transform, not a driver-side report. */
  def q69Sessions(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val flagged = Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("prev_us", lag(col("us"), 1).over(w))
      .withColumn("new_s",
        when(col("prev_us").isNull ||
          col("us") - col("prev_us") > lit(q69GapUs), 1L).otherwise(0L))
      .withColumn("session_idx", sum(col("new_s"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("int"))
    flagged.groupBy("user_id", "session_idx")
      .agg(min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        count(lit(1)).as("events"),
        expr("(max(us) - min(us)) div 1000000").as("duration_sec"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("purchases"))
      .orderBy("user_id", "session_idx")
  }

  /** DuckDB oracle for q69: identical lag-flag-cumsum session
    * assignment in integer micros, identical rollup. */
  val q69Sql: String =
    s"""WITH f AS (
       | SELECT user_id, ts, event_id, event_type, epoch_us(ts) AS us,
       |  lag(epoch_us(ts)) OVER
       |   (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
       | FROM events),
       |g AS (
       | SELECT *, CAST(sum(CASE WHEN prev_us IS NULL OR us - prev_us > $q69GapUs
       |    THEN 1 ELSE 0 END) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INT)
       |   AS session_idx
       | FROM f)
       |SELECT user_id, session_idx,
       | min(ts) AS session_start, max(ts) AS session_end,
       | count(*) AS events,
       | CAST((max(us) - min(us)) // 1000000 AS BIGINT) AS duration_sec,
       | CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
       |  AS purchases
       |FROM g GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** q70's as-of date — a REPORT PARAMETER the analyst picks (the
    * aging question is "outstanding as of when?"), not a hidden
    * corpus-coupled watermark (the s56 lesson applies to state
    * pruning, not to an explicit report input); two weeks past the
    * corpus max order date, which populates all six buckets at every
    * SF (spec-checked). */
  private[graft] val q70AsOf = "2001-08-15"

  /** q70: AR aging report — the receivables staple every finance
    * team runs at close: orders still outstanding (status ≠ 'F')
    * bucketed by days outstanding against the as-of date
    * (0-30/31-60/61-90/91-180/181-365/365+), with order count,
    * integer cents (the q60 money discipline), and the bucket's
    * share of total outstanding in basis points (integer div — the
    * q64 sheds-only stance).
    *
    * Scale (100 TB): one scan with the age/bucket computed in the
    * map stage, a 6-group map-side-combined rollup, and a 1-row
    * grand-total broadcast — nothing else. */
  def q70Aging(s: SparkSession, dir: String): DataFrame = {
    val per = Tables.orders(s, dir)
      .filter(col("o_orderstatus") =!= "F")
      .withColumn("age", datediff(lit(q70AsOf).cast("date"),
        col("o_orderdate").cast("date")))
      .withColumn("cents", expr("cast(round(o_totalprice * 100, 0) as bigint)"))
      .withColumn("bucket_ord",
        when(col("age") <= 30, 0).when(col("age") <= 60, 1)
          .when(col("age") <= 90, 2).when(col("age") <= 180, 3)
          .when(col("age") <= 365, 4).otherwise(5))
      .groupBy("bucket_ord")
      .agg(count(lit(1)).as("orders"), sum(col("cents")).as("cents"))
    per.crossJoin(broadcast(per.agg(sum(col("cents")).as("total_cents"))))
      .select(col("bucket_ord"),
        expr("CASE bucket_ord WHEN 0 THEN '0-30' WHEN 1 THEN '31-60' " +
          "WHEN 2 THEN '61-90' WHEN 3 THEN '91-180' WHEN 4 THEN '181-365' " +
          "ELSE '365+' END").as("bucket"),
        col("orders"), col("cents"),
        expr("cents * 10000 div total_cents").as("share_bp"))
      .orderBy("bucket_ord")
  }

  /** DuckDB oracle for q70: identical age/bucket cuts, identical
    * integer cents and share arithmetic. */
  val q70Sql: String =
    s"""WITH per AS (
       | SELECT CASE WHEN age <= 30 THEN 0 WHEN age <= 60 THEN 1
       |   WHEN age <= 90 THEN 2 WHEN age <= 180 THEN 3
       |   WHEN age <= 365 THEN 4 ELSE 5 END AS bucket_ord,
       |  count(*) AS orders,
       |  CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
       |   AS cents
       | FROM (SELECT *,
       |   date_diff('day', CAST(o_orderdate AS DATE), DATE '$q70AsOf') AS age
       |  FROM orders WHERE o_orderstatus <> 'F')
       | GROUP BY 1),
       |t AS (SELECT CAST(sum(cents) AS BIGINT) AS total_cents FROM per)
       |SELECT bucket_ord,
       | CASE bucket_ord WHEN 0 THEN '0-30' WHEN 1 THEN '31-60'
       |  WHEN 2 THEN '61-90' WHEN 3 THEN '91-180' WHEN 4 THEN '181-365'
       |  ELSE '365+' END AS bucket,
       | orders, cents,
       | CAST(cents * 10000 // total_cents AS BIGINT) AS share_bp
       |FROM per CROSS JOIN t ORDER BY bucket_ord""".stripMargin

  /** q71's readout over a (day, purchases) ledger: the XmR
    * individuals control chart (Shewhart/Wheeler — the SPC
    * complement to q57's median/MAD detector: q57 flags outliers
    * against a ROBUST center, XmR flags special-cause variation
    * against the process's own short-term noise). ALL integer
    * arithmetic in 1e-4 units: X̄ and the mean moving range MR̄ are
    * integer-div e4 scalars, the limits are X̄ ± 2.66·MR̄ with
    * 2.66 = 266/100 exact, LCL clamps at 0 — both engines replay
    * every value byte-exactly with no float in sight (the q60/q68
    * integer discipline). Shared verbatim by q71 and s61. The
    * moving range runs over the |days|-sized ledger in ONE
    * unpartitioned window — the documented q57 bounded-series
    * stance. */
  private[graft] def q71Present(daily: DataFrame): DataFrame = {
    val wd = Window.orderBy("day")
    val withMr = daily
      .withColumn("mr", abs(col("purchases") -
        lag(col("purchases"), 1).over(wd)))
    val stats = withMr.agg(
      expr("sum(purchases) * 10000 div count(1)").as("xbar_e4"),
      expr("sum(mr) * 10000 div count(mr)").as("mrbar_e4"))
    withMr.crossJoin(broadcast(stats))
      .withColumn("ucl_e4", expr("xbar_e4 + (266 * mrbar_e4) div 100"))
      .withColumn("lcl_e4",
        expr("greatest(cast(0 as bigint), xbar_e4 - (266 * mrbar_e4) div 100)"))
      .select(col("day"), col("purchases"), col("mr"),
        col("xbar_e4"), col("mrbar_e4"), col("ucl_e4"), col("lcl_e4"),
        (col("purchases") * lit(10000L) > col("ucl_e4") ||
          col("purchases") * lit(10000L) < col("lcl_e4")).as("out_of_control"))
      .orderBy("day")
  }

  /** q71: XmR control chart over the daily purchase series — q57's
    * daily ledger (the ONE shared [[q57Daily]] body) read out as the
    * SPC individuals chart: per day the count, its moving range, the
    * process center X̄, the mean moving range MR̄, and the
    * ±2.66·MR̄ natural process limits with the out-of-control flag.
    *
    * Scale (100 TB): the ledger build is q57's one map-side-combined
    * day rollup; everything after runs over |days| rows (the q57
    * bounded-series stance) with a 1-row stats broadcast. s61 keeps
    * the same chart live by sum-merging the ledger. */
  def q71XmrControl(s: SparkSession, dir: String): DataFrame =
    q71Present(q57Daily(Tables.events(s, dir)))

  /** DuckDB oracle for q71: identical ledger, identical integer e4
    * X̄/MR̄/limit arithmetic, identical flags. */
  val q71Sql: String =
    """WITH d AS (
      | SELECT CAST(ts AS DATE) AS day, count(*) AS purchases
      | FROM events WHERE event_type = 'purchase' GROUP BY 1),
      |m AS (
      | SELECT *, abs(purchases - lag(purchases) OVER (ORDER BY day)) AS mr
      | FROM d),
      |st AS (
      | SELECT CAST(sum(purchases) * 10000 // count(*) AS BIGINT) AS xbar_e4,
      |  CAST(sum(mr) * 10000 // count(mr) AS BIGINT) AS mrbar_e4
      | FROM m),
      |lim AS (
      | SELECT xbar_e4, mrbar_e4,
      |  CAST(xbar_e4 + (266 * mrbar_e4) // 100 AS BIGINT) AS ucl_e4,
      |  CAST(greatest(0, xbar_e4 - (266 * mrbar_e4) // 100) AS BIGINT)
      |   AS lcl_e4
      | FROM st)
      |SELECT day, purchases, mr, xbar_e4, mrbar_e4, ucl_e4, lcl_e4,
      | (purchases * 10000 > ucl_e4 OR purchases * 10000 < lcl_e4)
      |  AS out_of_control
      |FROM m CROSS JOIN lim ORDER BY day""".stripMargin

  /** q72's readout over a (day, purchases) ledger: the seasonal-
    * naive forecast backtest — forecast(d) = actual(d − 7) (the
    * no-parameter baseline every real forecast must beat, and the
    * first number a forecasting platform reports), evaluated on
    * every day whose lag-7 exists. Per-day absolute error plus the
    * in-band summary: MAE in 1e-4 units and MAPE in basis points,
    * both integer-div over integer counts (the q71/q68 discipline —
    * MAPE is the floor-mean of per-day floor-bp ratios, a documented
    * integer definition both engines replay exactly). Shared
    * verbatim by q72 and s62. */
  private[graft] def q72Present(daily: DataFrame): DataFrame = {
    val backtest = daily.select(col("day"), col("purchases").as("actual"))
      .join(daily.select(date_add(col("day"), 7).as("day"),
        col("purchases").as("forecast")), Seq("day"))
      .withColumn("abs_err", abs(col("actual") - col("forecast")))
      .withColumn("ape_bp", expr("abs_err * 10000 div actual"))
    val summary = backtest.agg(
      expr("sum(abs_err) * 10000 div count(1)").as("mae_e4"),
      expr("sum(ape_bp) div count(1)").as("mape_bp"))
    backtest.crossJoin(broadcast(summary))
      .select(col("day"), col("actual"), col("forecast"), col("abs_err"),
        col("ape_bp"), col("mae_e4"), col("mape_bp"))
      .orderBy("day")
  }

  /** q72: seasonal-naive forecast backtest — the time-series eval
    * that completes the daily-series stack (q57 robust anomaly, q71
    * SPC limits, q62 gap-fill, q72 forecast skill): the week-ago
    * naive forecast scored against actuals over q57's ONE shared
    * daily ledger, with MAE/MAPE carried in-band on every row.
    * Scale (100 TB): the ledger is q57's map-side rollup; the
    * backtest is a |days|-row self-join on a shifted date key plus a
    * 1-row summary broadcast. */
  def q72ForecastBacktest(s: SparkSession, dir: String): DataFrame =
    q72Present(q57Daily(Tables.events(s, dir)))

  /** DuckDB oracle for q72: identical ledger, lag-7 join, and
    * integer MAE/MAPE arithmetic. */
  val q72Sql: String =
    """WITH d AS (
      | SELECT CAST(ts AS DATE) AS day, count(*) AS purchases
      | FROM events WHERE event_type = 'purchase' GROUP BY 1),
      |bt AS (
      | SELECT a.day, a.purchases AS actual, f.purchases AS forecast,
      |  abs(a.purchases - f.purchases) AS abs_err,
      |  CAST(abs(a.purchases - f.purchases) * 10000 // a.purchases AS BIGINT)
      |   AS ape_bp
      | FROM d a JOIN d f ON a.day = f.day + INTERVAL 7 DAY),
      |st AS (
      | SELECT CAST(sum(abs_err) * 10000 // count(*) AS BIGINT) AS mae_e4,
      |  CAST(sum(ape_bp) // count(*) AS BIGINT) AS mape_bp
      | FROM bt)
      |SELECT day, actual, forecast, abs_err, ape_bp, mae_e4, mape_bp
      |FROM bt CROSS JOIN st ORDER BY day""".stripMargin

  /** q73: triangle count + local clustering coefficient — the graph
    * density analytic that completes the co-purchase stack (q46
    * edges, q51 PageRank, q53 communities, q54 similarity, q73
    * structure): over the ONE shared [[q46PairsFrom]] edge set, per
    * part its degree, triangle count, and local clustering
    * coefficient 2·tri/(deg·(deg−1)) in integer e4 (the q71/q68
    * discipline). Triangles enumerate once each as ordered (a<b<c)
    * wedges closed by an (a,c) edge — the standard join-based
    * node-iterator.
    *
    * Scale (100 TB): edges persist once and every join is edge-
    * keyed equi (wedge on the shared midpoint, closure on the
    * (a,c) pair); the ordered a<b<c form counts each triangle
    * exactly once with no orientation dedup pass; per-node rollups
    * are map-side combines over 8-byte keys. */
  def q73Triangles(s: SparkSession, dir: String): DataFrame = {
    val items = Tables.lineitem(s, dir)
      .select("l_orderkey", "l_partkey").distinct()
    val e = q46PairsFrom(items)
      .select(col("part_a").as("a"), col("part_b").as("b"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val wedges = e.join(
      e.select(col("a").as("b"), col("b").as("c")), Seq("b"))
    val tris = wedges.join(
      e.select(col("a"), col("b").as("c")), Seq("a", "c"))
    val triCounts = tris
      .select(explode(array(col("a"), col("b"), col("c"))).as("part"))
      .groupBy("part").agg(count(lit(1)).as("triangles"))
    e.select(explode(array(col("a"), col("b"))).as("part"))
      .groupBy("part").agg(count(lit(1)).as("degree"))
      .join(triCounts, Seq("part"), "left")
      .select(col("part"), col("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"),
        expr("CASE WHEN degree >= 2 THEN " +
          "(2 * coalesce(triangles, 0) * 10000) div (degree * (degree - 1)) " +
          "ELSE 0 END").as("clustering_e4"))
      .orderBy("part")
  }

  /** DuckDB oracle for q73: the shared [[q46PairsCte]] edge set, the
    * identical ordered wedge/closure joins, identical integer
    * clustering arithmetic. */
  val q73Sql: String =
    s"""WITH $q46PairsCte,
       |e AS (SELECT part_a AS a, part_b AS b FROM pairs),
       |w AS (SELECT e1.a, e1.b, e2.b AS c FROM e e1 JOIN e e2 ON e1.b = e2.a),
       |t AS (SELECT w.a, w.b, w.c FROM w JOIN e e3
       |      ON e3.a = w.a AND e3.b = w.c),
       |tc AS (SELECT part, count(*) AS triangles FROM (
       |  SELECT unnest([a, b, c]) AS part FROM t) GROUP BY 1),
       |dg AS (SELECT part, count(*) AS degree FROM (
       |  SELECT unnest([a, b]) AS part FROM e) GROUP BY 1)
       |SELECT dg.part, CAST(degree AS BIGINT) AS degree,
       | CAST(coalesce(triangles, 0) AS BIGINT) AS triangles,
       | CAST(CASE WHEN degree >= 2 THEN
       |   (2 * coalesce(triangles, 0) * 10000) // (degree * (degree - 1))
       |   ELSE 0 END AS BIGINT) AS clustering_e4
       |FROM dg LEFT JOIN tc USING (part) ORDER BY dg.part""".stripMargin

  /** q85: k-hop neighborhood reach (k = 2) — the graph FEATURE the
    * co-purchase stack still lacked (q46 mines edges, q51 ranks
    * globally, q53 labels components, q73 measures local density;
    * none answers "how much of the graph is within two hops of this
    * node" — the friends-of-friends feature recommendation and
    * fraud models consume): per part, its degree, the count of
    * DISTINCT nodes at exactly distance 2 (neighbors-of-neighbors
    * minus direct neighbors minus self), and the total 2-hop reach,
    * over the ONE shared [[q46PairsFrom]] edge set.
    *
    * Scale (100 TB): the adjacency is the edge set both ways (no
    * blow-up — 2|E| rows); the 2-hop expansion is the SAME
    * midpoint-keyed wedge join q73 plans (bounded by Σ deg², the
    * price of the metric itself), deduped with one (u, w) exchange;
    * the direct-neighbor exclusion is a co-keyed left-anti join;
    * rollups are map-side combines over 8-byte keys. No iteration,
    * no driver loop — k is a literal, not a frontier queue. */
  def q85Khop(s: SparkSession, dir: String): DataFrame = {
    val e = q46PairsFrom(q46Items(s, dir))
      .select(col("part_a").as("a"), col("part_b").as("b"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // undirected adjacency: each a<b edge both ways, distinct by
    // construction (a<b means (u,v) and (v,u) never collide). Both
    // directions emit from ONE pass over the pair stream (the
    // q51/q53 explode form) — the union-of-selects shape put TWO
    // independent subtrees over the cold persisted miner per
    // consumer, and adj has four consumers below.
    val adj = e.select(explode(array(
        struct(col("a").as("u"), col("b").as("v")),
        struct(col("b").as("u"), col("a").as("v")))).as("p"))
      .select(col("p.u").as("u"), col("p.v").as("v"))
    val deg = adj.groupBy("u").agg(count(lit(1)).as("degree"))
    val two = adj.join(
        adj.select(col("u").as("v"), col("v").as("w")), Seq("v"))
      .filter(col("w") =!= col("u"))
      .select("u", "w").distinct()
      .join(adj.select(col("u"), col("v").as("w")), Seq("u", "w"), "left_anti")
      .groupBy("u").agg(count(lit(1)).as("two_hop"))
    deg.join(two, Seq("u"), "left")
      .select(col("u").as("part"), col("degree"),
        coalesce(col("two_hop"), lit(0L)).as("two_hop"),
        (col("degree") + coalesce(col("two_hop"), lit(0L))).as("reach2"))
      .orderBy("part")
  }

  /** DuckDB oracle for q85: the shared [[q46PairsCte]] edge set, the
    * identical two-way adjacency, wedge dedup, direct-neighbor
    * anti-join, and integer rollup. */
  val q85Sql: String =
    s"""WITH $q46PairsCte,
       |adj AS (
       | SELECT part_a AS u, part_b AS v FROM pairs
       | UNION ALL
       | SELECT part_b AS u, part_a AS v FROM pairs),
       |dg AS (SELECT u, count(*) AS degree FROM adj GROUP BY 1),
       |two AS (
       | SELECT u, count(*) AS two_hop FROM (
       |  SELECT DISTINCT x.u, y.v AS w
       |  FROM adj x JOIN adj y ON x.v = y.u AND y.v <> x.u
       |  WHERE NOT EXISTS (
       |   SELECT 1 FROM adj d WHERE d.u = x.u AND d.v = y.v))
       | GROUP BY 1)
       |SELECT dg.u AS part, CAST(degree AS BIGINT) AS degree,
       | CAST(coalesce(two_hop, 0) AS BIGINT) AS two_hop,
       | CAST(degree + coalesce(two_hop, 0) AS BIGINT) AS reach2
       |FROM dg LEFT JOIN two USING (u) ORDER BY part""".stripMargin

  /** q68's per-group sample budget. 512 is a real sampling regime at
    * the gate SFs (~3000 orders per priority at sf0.01, ~30000 at
    * sf0.1) and the degenerate-exact regime at sf0.001 (~300 per
    * group < k, so the sample IS the group and every estimate is
    * exact — the t57 boundary stance, spec-pinned). */
  private[graft] val q68K = 512

  /** q68's quantile probes — median, tail, extreme tail. */
  private[graft] val q68Probes = Seq(0.5, 0.9, 0.99)

  /** q68's source frame: order money in integer cents (the q60
    * discipline) keyed by the UNIQUE order key, grouped by
    * priority — (grp, v, key). ONE definition shared by the batch
    * sketch, the exact leg, and s60's live folds. */
  private[graft] def q68Src(ord: DataFrame): DataFrame =
    ord.select(col("o_orderpriority").as("grp"),
      expr("cast(round(o_totalprice * 100, 0) as bigint)").as("v"),
      col("o_orderkey").as("key"))

  /** q68's bounded-memory quantile STATE: the deterministic bottom-k
    * sample — each row draws a priority from the house md5 idiom
    * (the a42 seed / q56 assignment draw — content-blind, both
    * engines replay it byte-exactly) and the k smallest draws per
    * group survive. This is the KMV/bottom-k form of a mergeable
    * quantile summary (Agarwal et al. 2013 §"random sampling"): the
    * merge law is EXACT set algebra, not an approximation —
    * bottomK(bottomK(A) ∪ B) = bottomK(A ∪ B), because an element of
    * A among the k smallest of A ∪ B is a fortiori among the k
    * smallest of A (QuantileSpec pins the law on a real split, plus
    * idempotency under redelivery: a re-delivered row is either
    * already in state or out-ranked by everything in it). Scale:
    * state is ≤ k rows per group FOREVER; the rank window runs over
    * (state ∪ batch), never history. */
  private[graft] def q68Sample(src: DataFrame): DataFrame =
    q68SampleK(src, q68K)

  /** [[q68Sample]] with an explicit budget — QuantileSpec drives the
    * merge/idempotency laws at a small k so the eviction path is
    * exercised on the spec corpus (sf0.001 is the degenerate regime
    * at the shipped k). */
  private[graft] def q68SampleK(src: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("grp").orderBy(col("draw"), col("key"))
    src.withColumn("draw", expr(
        "cast(conv(substring(md5(cast(key as string)), 1, 7), 16, 10) as bigint)"))
      .withColumn("srk", row_number().over(w))
      .filter(col("srk") <= k)
      .select("grp", "v", "key")
  }

  /** Rank-based (type-1, inverse-CDF) quantiles of a (grp, v, key)
    * frame: the value at rank ceil(p·n) in (v, key) order, for each
    * probe. Rank selection, NOT interpolation — the picked value is
    * a value IN the data, so both engines return the identical
    * BIGINT cent amount and the cross-engine gate is byte-exact (the
    * ceil argument is the same IEEE product in both engines). ONE
    * definition applied to the full corpus (the exact leg) and to
    * the sample (the estimate) — the instrument and the product
    * cannot diverge. */
  private[graft] def q68RankQuantiles(df: DataFrame): DataFrame =
    q68RankQuantilesAt(df, q68Probes)

  /** [[q68RankQuantiles]] at caller-chosen probes — q45b reuses the
    * identical rank-selection machinery for its quintile boundaries. */
  private[graft] def q68RankQuantilesAt(df: DataFrame, probes: Seq[Double]): DataFrame = {
    val w = Window.partitionBy("grp").orderBy(col("v"), col("key"))
    val cw = Window.partitionBy("grp")
    df.withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(cw))
      .select(col("grp"), col("v"), col("n"),
        explode(array(probes.map(lit(_)): _*)).as("p"), col("rn"))
      .filter(col("rn") === ceil(col("p") * col("n")))
      .select("grp", "p", "v", "n")
  }

  /** q68's readout: estimate vs exact side by side, with the error
    * IN-BAND (the a41/d51 honesty stance — the sketch ships its own
    * measured error, integer arithmetic only: absolute cents and
    * floor basis points of the exact value). Shared verbatim by q68
    * and s60. */
  private[graft] def q68Present(full: DataFrame, samp: DataFrame): DataFrame = {
    val ex = q68RankQuantiles(full)
      .select(col("grp"), col("p"), col("v").as("exact_cents"), col("n"))
    val es = q68RankQuantiles(samp)
      .select(col("grp"), col("p"), col("v").as("est_cents"),
        col("n").as("sample_k"))
    ex.join(es, Seq("grp", "p"))
      .select(col("grp").as("o_orderpriority"), col("p"), col("n"),
        col("sample_k"), col("exact_cents"), col("est_cents"),
        abs(col("est_cents") - col("exact_cents")).as("abs_err_cents"),
        expr("abs(est_cents - exact_cents) * 10000 div exact_cents")
          .as("err_bp"))
      .orderBy("o_orderpriority", "p")
  }

  /** q68: mergeable quantile sketch — the third classic bounded-
    * memory summary after q41 (Misra–Gries heavy hitters) and q49
    * (HLL distinct), completing the sketch trio a 100 TB dashboard
    * needs: per order priority, p50/p90/p99 of the order value
    * estimated from the [[q68Sample]] deterministic bottom-k sample,
    * with the exact rank quantile and the measured error in the same
    * row. The exact leg is the gate instrument (one full sort per
    * group — the q27 class of work); the SAMPLE is the product: ≤ k
    * rows per group, mergeable by exact set algebra, so s60 keeps it
    * live with bounded state under any slicing including redelivery.
    *
    * Scale (100 TB): the sample pass is one rank window per group
    * keyed by (grp, draw) — map-side the filter cannot cut rows (the
    * draw is content-blind), but state out of the window is ≤ k rows
    * per group; the estimate then runs rank quantiles over ≤ k·|grp|
    * rows. At production scale the exact leg drops (the s53/q52
    * documented trade) and the error column is monitored on gate
    * corpora only. */
  def q68QuantileSketch(s: SparkSession, dir: String): DataFrame = {
    val src = q68Src(Tables.orders(s, dir))
    q68Present(src, q68Sample(src))
  }

  /** DuckDB oracle for q68: identical cents source, identical md5
    * bottom-k sample (the house draw idiom), identical rank-quantile
    * selection and integer error arithmetic — the whole sketch
    * replays byte-exactly cross-engine (the q49 reproducible-sketch
    * stance). */
  val q68Sql: String =
    s"""WITH src AS (
       | SELECT o_orderpriority AS grp,
       |  CAST(round(o_totalprice * 100, 0) AS BIGINT) AS v,
       |  o_orderkey AS key
       | FROM orders),
       |samp AS (
       | SELECT grp, v, key FROM (
       |  SELECT grp, v, key,
       |   row_number() OVER (PARTITION BY grp ORDER BY
       |     CAST(('0x' || substr(md5(CAST(key AS VARCHAR)), 1, 7)) AS BIGINT),
       |     key) AS srk
       |  FROM src) WHERE srk <= $q68K),
       |probes AS (SELECT CAST(unnest([0.5, 0.9, 0.99]) AS DOUBLE) AS p),
       |ex AS (
       | SELECT grp, p, v, n FROM (
       |   SELECT grp, v,
       |    row_number() OVER (PARTITION BY grp ORDER BY v, key) AS rn,
       |    count(*) OVER (PARTITION BY grp) AS n
       |   FROM src) CROSS JOIN probes
       | WHERE rn = CAST(ceil(p * n) AS BIGINT)),
       |es AS (
       | SELECT grp, p, v, n FROM (
       |   SELECT grp, v,
       |    row_number() OVER (PARTITION BY grp ORDER BY v, key) AS rn,
       |    count(*) OVER (PARTITION BY grp) AS n
       |   FROM samp) CROSS JOIN probes
       | WHERE rn = CAST(ceil(p * n) AS BIGINT))
       |SELECT ex.grp AS o_orderpriority, p, ex.n AS n, es.n AS sample_k,
       | ex.v AS exact_cents, es.v AS est_cents,
       | abs(es.v - ex.v) AS abs_err_cents,
       | abs(es.v - ex.v) * 10000 // ex.v AS err_bp
       |FROM ex JOIN es USING (grp, p)
       |ORDER BY o_orderpriority, p""".stripMargin

  /** s60's sample-state fold: (state ∪ batch).distinct re-ranked —
    * exact by the [[q68Sample]] merge law, IDEMPOTENT under
    * redelivery (the s52 set stance: a re-delivered row dedups
    * against state or out-ranks out). */
  private[graft] def q68SampleFold(state: DataFrame, batch: DataFrame): DataFrame =
    q68Sample(state.unionByName(q68Src(batch)).distinct())

  /** s60's exact-anchor fold: the distinct (grp, v, key) rows —
    * union-distinct per batch (the s53 exact-leg stance; at
    * production scale this leg is dropped and only the sample state
    * remains). */
  private[graft] def q68ExactFold(state: DataFrame, batch: DataFrame): DataFrame =
    state.unionByName(q68Src(batch)).distinct()

  /** q52's stacked view of the events table: one (col_name,
    * value_num, value_str) row per source row per profiled column —
    * numerics (ids, the double measure, epoch-micros timestamps)
    * carry value_num, strings carry value_str, a NULL source value
    * carries neither. ONE definition — the batch profiler (q52)
    * aggregates it directly and the live profiler (s55) folds its
    * per-batch summaries, so "what counts as a profiled value" can
    * never diverge between the two. Scan-stage: the stack is a
    * generator over one scan, no exchange. */
  private[graft] def q52Stacked(ev: DataFrame): DataFrame = {
    def num(name: String, c: Column) = struct(lit(name).as("col_name"),
      c.cast("double").as("value_num"),
      lit(null).cast("string").as("value_str"))
    def str(name: String, c: Column) = struct(lit(name).as("col_name"),
      lit(null).cast("double").as("value_num"), c.as("value_str"))
    ev.select(explode(array(
        num("event_id", col("event_id")),
        num("ts", unix_micros(col("ts"))),
        num("user_id", col("user_id")),
        num("value", col("value")),
        str("event_type", col("event_type")),
        str("props", col("props")))).as("s"))
      .select("s.*")
  }

  /** q52's MERGEABLE per-column summary over a stacked slice: counts
    * sum-merge, extrema min/max-merge — every column is an exact
    * distributive aggregate, so partial summaries of disjoint slices
    * fold to the full-corpus summary (the s52/s53 mergeable-state
    * requirement; min/max are raw here — presentation rounds). */
  private[graft] def q52Stats(st: DataFrame): DataFrame =
    st.groupBy("col_name").agg(
      count(lit(1)).as("cnt"),
      count(when(col("value_num").isNull && col("value_str").isNull, 1))
        .as("nulls"),
      min(col("value_num")).as("min_num"), max(col("value_num")).as("max_num"),
      min(length(col("value_str"))).cast("int").as("min_len"),
      max(length(col("value_str"))).cast("int").as("max_len"))

  /** q52's presentation: the summary plus the exact NDV leg (count
    * of distinct values in whichever slot the column populates),
    * shared verbatim by q52 (dvals = the raw stack) and s55 (dvals =
    * the folded distinct-value state — same multiset of distincts,
    * so the same result). */
  private[graft] def q52Present(stats: DataFrame, dvals: DataFrame): DataFrame = {
    val ndv = dvals.groupBy("col_name").agg(
      (countDistinct(col("value_num")) + countDistinct(col("value_str")))
        .as("ndv"))
    // LEFT join: s55's folded distinct-value state drops both-null
    // stacked rows, so an all-NULL column has NO ndv group there —
    // an inner join would silently drop that column's summary row
    // from the live face only (review finding); ndv coalesces to 0.
    stats.join(ndv, Seq("col_name"), "left")
      .select(col("col_name"), col("cnt"), col("nulls"),
        coalesce(col("ndv"), lit(0L)).as("ndv"),
        round(col("min_num"), 4).as("min_num"),
        round(col("max_num"), 4).as("max_num"),
        col("min_len"), col("max_len"))
      .orderBy("col_name")
  }

  /** q52: the column profiler — the data-quality staple every
    * warehouse runs before trusting a table (and the summary a query
    * optimizer's statistics collector computes): per column of the
    * events table, row count, NULL count, exact distinct count, and
    * numeric/length extrema, via ONE stacked scan ([[q52Stacked]])
    * so a new profiled column is one array entry, not a new query.
    *
    * Scale (100 TB): count/null/extrema are distributive aggregates
    * over the scan stage — map-side partials, |columns|-row result.
    * The exact NDV leg is the gate-regime instrument (one
    * (col, value)-keyed expand exchange); at production scale that
    * leg swaps for q49's HLL registers per column — the same
    * mergeable-summary trade s53 documents for live uniques. */
  def q52Profile(s: SparkSession, dir: String): DataFrame = {
    val st = q52Stacked(Tables.events(s, dir))
    q52Present(q52Stats(st), st)
  }

  /** Dialect-shared CTE body for the stacked profile scan — the SQL
    * twin of [[q52Stacked]], shared by q52's oracle and q61's so
    * "what counts as a profiled value" is ONE definition in both
    * engines too. (UNION ALL per column — the oracle may re-scan;
    * the engine must not.) */
  val q52StackCte: String =
    """st AS (
      | SELECT 'event_id' AS col_name, CAST(event_id AS DOUBLE) AS value_num,
      |        CAST(NULL AS VARCHAR) AS value_str FROM events
      | UNION ALL SELECT 'ts', CAST(epoch_us(ts) AS DOUBLE), NULL FROM events
      | UNION ALL SELECT 'user_id', CAST(user_id AS DOUBLE), NULL FROM events
      | UNION ALL SELECT 'value', value, NULL FROM events
      | UNION ALL SELECT 'event_type', NULL, event_type FROM events
      | UNION ALL SELECT 'props', NULL, props FROM events)""".stripMargin

  /** DuckDB oracle for q52: the shared [[q52StackCte]] stack and
    * the identical aggregate arithmetic. */
  val q52Sql: String =
    s"""WITH $q52StackCte
      |SELECT col_name, count(*) AS cnt,
      | CAST(count(CASE WHEN value_num IS NULL AND value_str IS NULL
      |   THEN 1 END) AS BIGINT) AS nulls,
      | CAST(count(DISTINCT value_num) + count(DISTINCT value_str) AS BIGINT)
      |  AS ndv,
      | ROUND(min(value_num), 4) AS min_num, ROUND(max(value_num), 4) AS max_num,
      | CAST(min(length(value_str)) AS INT) AS min_len,
      | CAST(max(length(value_str)) AS INT) AS max_len
      |FROM st GROUP BY 1 ORDER BY 1""".stripMargin

  /** q52b's per-(column, value) register observations — the q49Rho
    * split applied to the profile stack. Each populated stacked
    * value canonicalizes to a tagged hash key: the numeric slot
    * prints %.6f (deterministic cross-engine for binary doubles — a
    * decimal tie at the 7th place needs an odd/10⁷ value, never
    * binary-representable; on this corpus the map is injective —
    * ids/micros are integers, the measure is 2-decimal money — and
    * any residual quantization is measured by the exact leg), the
    * string slot passes through raw; disjoint 'n:'/'s:' tags mirror
    * q52's ndv = distinct_num + distinct_str universe split. */
  private[graft] def q52bRho(st: DataFrame): DataFrame =
    st.select(col("col_name"),
        when(col("value_num").isNotNull,
          concat(lit("n:"), format_string("%.6f", col("value_num"))))
          .when(col("value_str").isNotNull, concat(lit("s:"), col("value_str")))
          .as("vkey"))
      .filter(col("vkey").isNotNull)
      .select(col("col_name"),
        expr("cast(conv(substring(md5(vkey),1,15),16,10) as bigint)").as("h"))
      .select(col("col_name"), expr("h % 256").as("j"), expr("h div 256").as("w"))
      .select(col("col_name"), col("j"),
        expr("CASE WHEN w = 0 THEN 53 ELSE 53 - length(bin(w)) END")
          .cast("int").as("rho"))

  /** q52b: per-column HLL NDV — q52's documented "at production
    * scale the exact NDV leg swaps for q49's registers" as CODE (the
    * prose-to-code rule): the profile stack unchanged ([[q52Stacked]]
    * verbatim), the NDV column carried by 256 max-of-rho registers
    * per column through the ONE shared [[hllEstimate]] readout
    * (q49's spine/z_scaled body keyed by col_name, with the
    * [[q49EstimatorE4]] integer form — this column's raw-branch
    * estimates land on live round-tie boundaries round(x,4) cannot
    * cross engines), with the exact NDV and the integer bp error
    * in-band (the a41/d51/q68 honesty stance). The exact leg is the gate
    * instrument; the registers are the product: 256 small ints per
    * column regardless of corpus size, max-mergeable, so s55's
    * production form folds them exactly like s53 folds q49's.
    *
    * Scale (100 TB): the register build is ONE stacked scan with a
    * (col_name, j)-keyed exchange whose map-side partial is
    * ≤ |columns|×256 rows per task — the exchange carries sketch
    * state, never values; the exact-NDV leg is the (col, value)
    * expand exchange q52 already declares as the gate-only
    * instrument. */
  def q52bHllNdv(s: SparkSession, dir: String): DataFrame = {
    // spread below the stack: without it the 1-split scan's single
    // task carries the 6× stack explode + per-row md5 rho chain (3.3 s
    // of a 4.3 s entry in a profile) — the q12/t35 class. The exchange
    // moves raw event rows once and both legs ReuseExchange it;
    // measured 3.60 → 1.66 s in a matched-window A/B
    // (OPTIMIZATION_r16.md).
    val st = q52Stacked(Par.spread(Tables.events(s, dir), col("event_id")))
    val ndv = st.groupBy("col_name").agg(
      (countDistinct(col("value_num")) + countDistinct(col("value_str")))
        .as("ndv"))
    hllEstimate(q52bRho(st).groupBy("col_name", "j").agg(max("rho").as("m")),
        ndv.select("col_name"), "col_name", q49EstimatorE4)
      .join(ndv, Seq("col_name"))
      .select(col("col_name"), col("ndv"), col("zero_registers"),
        col("z_scaled"), col("hll_est").as("hll_ndv_e4"),
        expr("abs(hll_est - ndv * 10000) div ndv").as("err_bp"))
      .orderBy("col_name")
  }

  /** DuckDB oracle for q52b: the shared [[q52StackCte]] stack, the
    * identical tagged canonicalization and hash split, and the SAME
    * estimator string — the whole per-column sketch replays
    * byte-exactly (the q49 stance). */
  val q52bSql: String =
    s"""WITH $q52StackCte,
       |vk AS (
       | SELECT col_name,
       |  CASE WHEN value_num IS NOT NULL THEN 'n:' || printf('%.6f', value_num)
       |       WHEN value_str IS NOT NULL THEN 's:' || value_str END AS vkey
       | FROM st),
       |rho AS (
       | SELECT col_name, h % 256 AS j,
       |  CASE WHEN h // 256 = 0 THEN 53
       |       ELSE 53 - length(bin(h // 256)) END AS rho
       | FROM (SELECT col_name,
       |    CAST(('0x' || substr(md5(vkey),1,15)) AS BIGINT) AS h
       |   FROM vk WHERE vkey IS NOT NULL)),
       |reg AS (SELECT col_name, j, max(rho) AS m FROM rho GROUP BY 1, 2),
       |nd AS (SELECT col_name,
       |  CAST(count(DISTINCT value_num) + count(DISTINCT value_str) AS BIGINT)
       |   AS ndv
       | FROM st GROUP BY 1),
       |filled AS (
       | SELECT s.col_name, coalesce(reg.m, 0) AS m
       | FROM (SELECT n.col_name, r.range AS j
       |       FROM nd n CROSS JOIN range(256) r) s
       | LEFT JOIN reg ON s.col_name = reg.col_name AND s.j = reg.j),
       |agg AS (
       | SELECT col_name,
       |  CAST(sum(CAST(1 AS BIGINT) << (53 - m)) AS BIGINT) AS z_scaled,
       |  CAST(sum(CASE WHEN m = 0 THEN 1 ELSE 0 END) AS BIGINT)
       |   AS zero_registers
       | FROM filled GROUP BY 1),
       |est AS (
       | SELECT a.col_name, n.ndv, a.zero_registers, a.z_scaled,
       |  $q49EstimatorE4 AS hll_ndv_e4
       | FROM agg a JOIN nd n USING (col_name))
       |SELECT col_name, ndv, zero_registers, z_scaled, hll_ndv_e4,
       | abs(hll_ndv_e4 - ndv * 10000) // ndv AS err_bp
       |FROM est ORDER BY col_name""".stripMargin

  def entries: Seq[Entry] = Seq(
    Entry("q01_agg_filter", q01AggFilter, q01Sql),
    Entry("q02_project_enrich", q02ProjectEnrich, q02Sql),
    Entry("q03_join_enrich", q03JoinEnrich, q03Sql),
    Entry("q04_multiway_left_join", q04MultiwayLeftJoin, q04Sql),
    Entry("q05_explode_pos", q05ExplodePos, q05Sql),
    Entry("q06_json_extract", q06JsonExtract, q06Sql),
    Entry("q07_classify_case", q07ClassifyCase, q07Sql),
    Entry("q08_latest_per_key", q08LatestPerKey, q08Sql),
    Entry("q09_daily_active", q09DailyActive, q09Sql),
    Entry("q10_epoch_rollup", q10EpochRollup, q10Sql),
    Entry("q11_range_join", q11RangeJoin, q11Sql),
    Entry("q12_double_entry", q12DoubleEntry, q12Sql),
    Entry("q13_event_index", q13EventIndex, q13Sql),
    Entry("q14_semi_anti", q14SemiAnti, q14Sql),
    Entry("q15_topn_per_group", q15TopNPerGroup, q15Sql),
    Entry("q16_string_codec", q16StringCodec, q16Sql),
    Entry("q17_conditional_pivot", q17ConditionalPivot, q17Sql),
    Entry("q18_rollup", q18Rollup, q18Sql),
    Entry("q19_sliding_window", q19SlidingWindow, q19Sql),
    Entry("q20_time_bucket", q20TimeBucket, q20Sql),
    Entry("q21_merge_upsert", q21MergeUpsert, q21Sql),
    Entry("q22_json_roundtrip", q22JsonRoundtrip, q22Sql),
    Entry("q23_codec_chain", q23CodecChain, q23Sql),
    Entry("q24_collect_set", q24CollectSet, q24Sql),
    Entry("q25_asof_join", q25AsofJoin, q25Sql),
    Entry("q26_unpivot", q26Unpivot, q26Sql),
    Entry("q27_percentiles", q27Percentiles, q27Sql),
    Entry("q28_date_spine", q28DateSpine, q28Sql),
    Entry("q29_json_keys", q29JsonKeys, q29Sql),
    Entry("q32_scd2", q32Scd2, q32Sql),
    Entry("q33_bucketed_join", q33BucketedJoin, q33Sql),
    Entry("q34_zorder", q34Zorder, q34Sql),
    Entry("q35_snapshot_diff", q35SnapshotDiff, q35Sql),
    Entry("q77_time_travel", q77TimeTravel, q77Sql),
    // q78 serves the SAME version q77 does, through the vacuumed
    // chain - retention above the horizon must be invisible
    Entry("q78_retention", q78Retention, q77Sql),
    Entry("q81_restore", q81Restore, q81Sql),
    Entry("q92_checkpointed_travel", q92CheckpointedTravel, q92Sql),
    Entry("q93_change_feed", q93ChangeFeed, q93Sql),
    Entry("q89_optimistic_commit", q89OptimisticCommit, q89Sql),
    Entry("q96_wap", q96Wap, q96Sql),
    Entry("q103_atomic_publish", q103AtomicPublish, q103Sql),
    Entry("q85_khop", q85Khop, q85Sql),
    Entry("q86_merge_full", q86MergeFull, q86Sql),
    Entry("q36_lockup_schedule", q36LockupSchedule, q36Sql),
    Entry("q37_lockup_termination", q37LockupTermination, q37Sql),
    Entry("q38_mv_maintenance", q38MvMaintenance, q38Sql),
    Entry("q88_join_mv", q88JoinMv, q88Sql),
    Entry("q90_fifo_attribution", q90FifoAttribution, q90Sql),
    Entry("q39_skew_join", q39SkewJoin, q39Sql),
    Entry("q40_expectations", q40Expectations, q40Sql),
    Entry("q41_heavy_hitters", q41HeavyHitters, q41Sql),
    Entry("q43_cube", q43Cube, q43Sql),
    Entry("q97_grouping_sets", q97GroupingSets, q97Sql),
    Entry("q98_pseudonymize", q98Pseudonymize, q98Sql),
    Entry("q99_constraint_audit", q99ConstraintAudit, q99Sql),
    Entry("q44_funnel", q44Funnel, q44Sql),
    Entry("q45_rfm", q45Rfm, q45Sql),
    Entry("q45b_rfm_sketch", q45bRfmSketch, q45bSql),
    Entry("q46_copurchase", q46CoPurchase, q46Sql),
    Entry("q47_pit_join", q47PitJoin, q47Sql),
    Entry("q48_retention", q48Retention, q48Sql),
    Entry("q49_hll_distinct", q49HllDistinct, q49Sql),
    Entry("q91_rolling_distinct", q91RollingDistinct, q91Sql),
    Entry("q50_event_transitions", q50EventTransitions, q50Sql),
    Entry("q51_pagerank", q51PageRank, q51Sql),
    Entry("q52_profile", q52Profile, q52Sql),
    Entry("q53_communities", q53Communities, q53Sql),
    Entry("q54_similar_parts", q54SimilarParts, q54Sql),
    Entry("q55_attribution", q55Attribution, q55Sql),
    Entry("q56_ab_test", q56AbTest, q56Sql),
    Entry("q57_anomaly", q57Anomaly, q57Sql),
    Entry("q58_pit_features", q58PitFeatures, q58Sql),
    Entry("q59_psi_drift", q59PsiDrift, q59Sql),
    Entry("q60_supplier_scorecard", q60SupplierScorecard, q60Sql),
    Entry("q61_histogram", q61Histogram, q61Sql),
    Entry("q62_gap_fill", q62GapFill, q62Sql),
    Entry("q63_benford", q63Benford, q63Sql),
    Entry("q64_market_share", q64MarketShare, q64Sql),
    Entry("q65_survival", q65Survival, q65Sql),
    Entry("q66_cohort_ltv", q66CohortLtv, q66Sql),
    Entry("q67_abc_pareto", q67AbcPareto, q67Sql),
    Entry("q68_quantile_sketch", q68QuantileSketch, q68Sql),
    Entry("q52b_hll_ndv", q52bHllNdv, q52bSql),
    Entry("q69_sessions", q69Sessions, q69Sql),
    Entry("q70_aging", q70Aging, q70Sql),
    Entry("q71_xmr_control", q71XmrControl, q71Sql),
    Entry("q72_forecast_backtest", q72ForecastBacktest, q72Sql),
    Entry("q73_triangles", q73Triangles, q73Sql))

  // ---- q40: data-quality expectations audit (DLT expectations) ----

  /** The q40 rule table — ONE definition per rule, as a dialect-
    * neutral SQL predicate string evaluated verbatim by BOTH Spark
    * (`expr(p)`) and DuckDB (inlined), so the gate and its oracle
    * cannot disagree on a rule's semantics. (name, action, predicate):
    * `drop` rules gate the pipeline (DLT `expect_or_drop`), `warn`
    * rules only meter (DLT `expect`). valid_user is genuinely
    * violated in the corpus (orphan/anonymous user_ids ≤ 0);
    * value_expected meters a real tail; the other two pass — the
    * audit must prove both populated and clean rules. */
  private[graft] val q40Rules: Seq[(String, String, String)] = Seq(
    ("valid_user", "drop", "user_id > 0"),
    ("known_type", "drop",
      "event_type IN ('click','view','purchase','signup','error')"),
    ("value_expected", "warn", "value > 0 AND value < 100"),
    ("fresh_ts", "warn",
      "ts >= TIMESTAMP '2024-01-01 00:00:00' AND ts < TIMESTAMP '2024-02-01 00:00:00'"))

  /** q40: expectations audit — Delta Live Tables data-quality
    * expectations (the platform contract the reference's DLT
    * pipeline runs under: `@dlt.expect` / `expect_or_drop`,
    * `CONSTRAINT … EXPECT … ON VIOLATION DROP ROW`), re-expressed as
    * one declarative pass: per rule, violation count, passed count,
    * and exact-integer pass ppm (div, no float); plus the
    * `__retained__` summary row — rows surviving ALL drop rules
    * conjointly, the cardinality the downstream table actually sees.
    * A NULL predicate counts as violated in BOTH dialects (the
    * when/otherwise vs CASE/ELSE shape — DLT's own convention:
    * expectations on NULL fail).
    *
    * Scale (100 TB): ONE scan of the fact table with every rule as a
    * map-side conditional sum — no shuffle at all until the 1-row
    * global aggregate crosses (4+1 longs per map task); the per-rule
    * output rows are a `stack` over that single row, never a second
    * scan (a UNION-of-selects formulation would rescan the corpus
    * once per rule). */
  /** q40's mergeable partial: ONE row of conditional-sum counters
    * (total, per-rule violations, retained) — associative under
    * union+re-sum, so the audit folds across micro-batches (s47's
    * streaming face) exactly like q38's MV partials. */
  private[graft] def q40Partials(ev: DataFrame): DataFrame = {
    val viols = q40Rules.map { case (n, _, p) =>
      sum(when(expr(p), 0L).otherwise(1L)).as(s"viol_$n") }
    val dropConj = q40Rules.filter(_._2 == "drop").map(_._3)
      .map(p => s"($p)").mkString(" AND ")
    val retained = sum(when(expr(dropConj), 1L).otherwise(0L)).as("retained")
    ev.agg(count(lit(1)).as("total"), viols :+ retained: _*)
  }

  /** Fold a partials stream to the presented per-rule audit rows. */
  private[graft] def q40Present(partials: DataFrame): DataFrame = {
    val folded = partials.agg(sum("total").as("total"),
      q40Rules.map { case (n, _, _) => sum(s"viol_$n").as(s"viol_$n") } :+
        sum("retained").as("retained"): _*)
    val stackArgs = (q40Rules.map { case (n, a, _) =>
      s"'$n', '$a', viol_$n, total - viol_$n, (total - viol_$n) * 1000000L div total"
    } :+ s"'__retained__', 'summary', total - retained, retained, retained * 1000000L div total")
      .mkString(", ")
    folded.selectExpr(
      s"stack(${q40Rules.size + 1}, $stackArgs) AS (rule, action, violations, passed, pass_ppm)")
      .orderBy("rule")
  }

  def q40Expectations(s: SparkSession, dir: String): DataFrame =
    q40Present(q40Partials(Tables.events(s, dir)))

  /** DuckDB oracle for q40: the same single-aggregate + per-rule
    * projection, each predicate the SAME string the Spark side
    * evaluates; sums cross as BIGINT (never HUGEINT), ppm as `//`
    * floor division. */
  val q40Sql: String = {
    val violSums = q40Rules.map { case (n, _, p) =>
      s"CAST(sum(CASE WHEN $p THEN 0 ELSE 1 END) AS BIGINT) AS viol_$n" }
      .mkString(",\n  ")
    val dropConj = q40Rules.filter(_._2 == "drop").map(_._3)
      .map(p => s"($p)").mkString(" AND ")
    val ruleRows = q40Rules.map { case (n, a, _) =>
      s"""SELECT '$n' AS rule, '$a' AS action, viol_$n AS violations,
         | total - viol_$n AS passed,
         | (total - viol_$n) * 1000000 // total AS pass_ppm FROM agg""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH agg AS (
       | SELECT CAST(count(*) AS BIGINT) AS total,
       |  $violSums,
       |  CAST(sum(CASE WHEN $dropConj THEN 1 ELSE 0 END) AS BIGINT) AS retained
       | FROM events)
       |$ruleRows
       |UNION ALL
       |SELECT '__retained__', 'summary', total - retained, retained,
       | retained * 1000000 // total FROM agg
       |ORDER BY rule""".stripMargin
  }
}
