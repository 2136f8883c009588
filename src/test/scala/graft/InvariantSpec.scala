package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Cross-query invariants on real data — properties the oracle gate
  * can't express because both engines could be wrong together. */
class InvariantSpec extends SparkSpec {
  import spark.implicits._

  test("q13 event indexes are globally unique across types and shards") {
    val idx = SparkEntry.queries("q13_event_index")(spark, sfDir)
      .select("event_index")
    assert(idx.count() == idx.distinct().count(),
      "every event must get a unique index")
  }

  test("q43 cube partitions: leaves match groupBy, subtotals sum, gid marks levels") {
    val out = SparkEntry.queries("q43_cube")(spark, sfDir)
      .as[(Int, String, String, Double, Long)].collect()
    // gid semantics: 0 = leaf, 1 = orderpriority rolled away,
    // 2 = mktsegment rolled away, 3 = grand total
    val byGid = out.groupBy(_._1)
    assert(byGid.keySet == Set(0, 1, 2, 3))
    val leaves = byGid(0)
    val total = byGid(3).head
    assert(byGid(3).size == 1 && total._2 == "ALL" && total._3 == "ALL")
    // counts partition exactly at every level
    assert(leaves.map(_._5).sum == total._5)
    byGid(1).foreach { case (_, seg, _, _, n) =>
      assert(leaves.filter(_._2 == seg).map(_._5).sum == n,
        s"segment $seg subtotal != its leaves") }
    byGid(2).foreach { case (_, _, pri, _, n) =>
      assert(leaves.filter(_._3 == pri).map(_._5).sum == n,
        s"priority $pri subtotal != its leaves") }
    // the leaf slice IS the plain groupBy (cube adds, never distorts)
    val plain = Tables.orders(spark, sfDir)
      .join(Tables.customer(spark, sfDir), col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment", "o_orderpriority").count()
      .as[(String, String, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(leaves.map(l => (l._2, l._3) -> l._5).toMap == plain)
  }

  test("q97 grouping sets: both marginals sum their leaves, no grand total") {
    val out = SparkEntry.queries("q97_grouping_sets")(spark, sfDir)
      .as[(Int, String, String, Long, Long, Long, Long)].collect()
    val byGid = out.groupBy(_._1)
    // asymmetric set list: leaf + both marginals, NO () — the shape
    // that distinguishes grouping sets from rollup/cube
    assert(byGid.keySet == Set(0, 1, 2), "gid 3 (grand total) must be absent")
    val leaves = byGid(0)
    byGid(1).foreach { case (_, rf, ls, n, _, cents, qty) =>
      assert(ls == "ALL")
      val mine = leaves.filter(_._2 == rf)
      assert(mine.map(_._4).sum == n && mine.map(_._6).sum == cents &&
        mine.map(_._7).sum == qty, s"returnflag $rf marginal != its leaves")
    }
    byGid(2).foreach { case (_, rf, ls, n, _, cents, qty) =>
      assert(rf == "ALL")
      val mine = leaves.filter(_._3 == ls)
      assert(mine.map(_._4).sum == n && mine.map(_._6).sum == cents &&
        mine.map(_._7).sum == qty, s"linestatus $ls marginal != its leaves")
    }
    // the leaf slice IS the plain groupBy (sets add grains, never distort)
    val plain = Tables.lineitem(spark, sfDir)
      .groupBy("l_returnflag", "l_linestatus").count()
      .as[(String, String, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(leaves.map(l => (l._2, l._3) -> l._4).toMap == plain)
  }

  test("q98 pseudonyms: MessageDigest mirror, linkage exact, no raw key survives") {
    val R = graft.operators.Relational
    val out = SparkEntry.queries("q98_pseudonymize")(spark, sfDir)
      .as[(String, String, Long, Long, Long)].collect().toSeq
    // independent JVM mirror of the keyed hash + the fact rollup
    def pseudo(k: Long): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest((R.q98Salt + k.toString).getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val perUser = Tables.events(spark, sfDir).select("user_id")
      .as[Long].collect().groupBy(identity).view.mapValues(_.length.toLong)
    assert(out.map(r => r._1 -> r._3).toMap ==
      perUser.map { case (u, n) => pseudo(u) -> n }.toMap,
      "pseudonymized event counts != MessageDigest mirror")
    // hygiene: every pseudonym is a 32-hex digest, never a raw key
    assert(out.forall(_._1.matches("[0-9a-f]{32}")))
    val rawKeys = perUser.keySet.map(_.toString)
    assert(out.forall(r => !rawKeys.contains(r._1)))
  }

  test("q99 constraint ledger equals the planted-corruption arithmetic") {
    val R = graft.operators.Relational
    val out = SparkEntry.queries("q99_constraint_audit")(spark, sfDir)
      .as[(String, String, Long, Long)].collect()
      .map(r => r._1 -> (r._3, r._4)).toMap
    val liKeys = Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_partkey").as[(Long, Long)].collect()
    val ordKeys = Tables.orders(spark, sfDir)
      .select("o_orderkey").as[Long].collect()
    val nLi = liKeys.length.toLong
    val expOrphans = liKeys.count(_._1 % R.q99OrphanRes == 0).toLong
    val expNulls = liKeys.count(_._2 % R.q99NullRes == 0).toLong
    val expDupKeys = ordKeys.filter(_ % R.q99DupRes == 0).distinct.length.toLong
    assert(out("fk_lineitem_orders") == ((nLi, expOrphans)))
    assert(out("nn_lineitem_partkey") == ((nLi, expNulls)))
    val (pkChecked, pkViol) = out("pk_orders_unique")
    assert(pkViol == expDupKeys, "duplicated-key tally != planted residue count")
    assert(pkChecked == ordKeys.distinct.length.toLong,
      "pk check must count distinct keys")
    assert(out("fk_orders_customer")._2 == 0L &&
      out("pk_customer_unique")._2 == 0L)
  }

  test("q25 as-of join emits every purchase exactly once") {
    val purchases = Tables.events(spark, sfDir)
      .filter(col("event_type") === "purchase").count()
    val out = SparkEntry.queries("q25_asof_join")(spark, sfDir)
    assert(out.count() == purchases)
    assert(out.select("purchase_id").distinct().count() == purchases)
  }

  test("q28 date spine is complete: every user has every day exactly once") {
    val out = SparkEntry.queries("q28_date_spine")(spark, sfDir)
    val users = out.select("user_id").distinct().count()
    val days = out.select("event_date").distinct().count()
    assert(out.count() == users * days,
      "spine must be the full user × day cross product")
  }

  test("q32 SCD2 on handcrafted changes: collapse, windows, versions, current flag") {
    // ts written as long nanos — the same physical shape the driver's
    // events table has, so Tables.events' nanos→micros path is exercised
    val dir = java.nio.file.Files.createTempDirectory("graftevents").toString
    Seq( // (event_id, user_id, event_type, ts_sec)
      (1L, 1L, "signup", 100L),
      (2L, 1L, "signup", 200L),   // consecutive dup: must collapse into v1
      (3L, 1L, "purchase", 300L),
      (4L, 1L, "signup", 400L),   // back to signup: a NEW version, not merged
      (5L, 2L, "error", 150L))
      .toDF("event_id", "user_id", "event_type", "ts_sec")
      .withColumn("ts", col("ts_sec") * 1000000000L)
      .withColumn("value", lit(1.0)).withColumn("props", lit("{}"))
      .drop("ts_sec")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")

    val out = SparkEntry.queries("q32_scd2")(spark, dir)
      .select(col("user_id"), col("version"), col("attr_value"),
        col("valid_from").cast("long"), col("valid_to").cast("long"),
        col("is_current"))
      .as[(Long, Int, String, Long, Option[Long], Boolean)].collect().toSet
    assert(out == Set(
      (1L, 1, "signup", 100L, Some(300L), false),
      (1L, 2, "purchase", 300L, Some(400L), false),
      (1L, 3, "signup", 400L, None, true),
      (2L, 1, "error", 150L, None, true)))
  }

  test("q32 SCD2 invariants: one open version per user, chained windows, no repeated consecutive attr") {
    val out = SparkEntry.queries("q32_scd2")(spark, sfDir).cache()
    try {
      val users = Tables.events(spark, sfDir).select("user_id").distinct().count()
      assert(out.filter(col("is_current")).count() == users,
        "exactly one open version per user")
      val w = Window.partitionBy("user_id").orderBy("version")
      val chained = out
        .withColumn("next_from", lead(col("valid_from"), 1).over(w))
        .withColumn("next_ver", lead(col("version"), 1).over(w))
        .withColumn("next_attr", lead(col("attr_value"), 1).over(w))
      assert(chained.filter(col("next_from").isNotNull &&
        col("valid_to") =!= col("next_from")).count() == 0,
        "each version's valid_to must equal the next version's valid_from")
      assert(chained.filter(col("next_from").isNull &&
        col("valid_to").isNotNull).count() == 0,
        "only the open tail may have a NULL valid_to")
      assert(chained.filter(col("next_ver").isNotNull &&
        col("next_ver") =!= col("version") + 1).count() == 0,
        "versions are consecutive from 1")
      assert(chained.filter(col("next_attr").isNotNull &&
        col("next_attr") === col("attr_value")).count() == 0,
        "consecutive versions must differ (dup collapse)")
    } finally { out.unpersist(): Unit }
  }

  test("d27 components partition the corpus: every doc appears once, one keeper per component") {
    val out = SparkEntry.queries("d27_dedup_components")(spark, sfDir)
    val docs = Tables.documents(spark, sfDir).count()
    assert(out.count() == docs)
    val perComponent = out.groupBy("component_id")
      .agg(sum(when(col("keep"), 1).otherwise(0)).as("keepers"))
      .filter(col("keepers") =!= 1).count()
    assert(perComponent == 0, "exactly one kept doc per component")
  }

  test("q35 change feed closes the CDC loop: v1 + diff == v2, images pair up") {
    import graft.streaming.Streaming
    import graft.operators.Relational
    def snapshot(pre: Boolean): Set[(Long, Long, String, Double)] = {
      val ev = Tables.events(spark, sfDir)
      val src = if (pre) ev.filter(col("ts") <= lit(Streaming.s42Cutoff)) else ev
      Streaming.applyChangesSnapshot(src)
        .filter(col("event_type") =!= "error")
        .select(col("user_id"), col("event_id"), col("event_type"),
          round(col("value"), 4))
        .as[(Long, Long, String, Double)].collect().toSet
    }
    val (v1, v2) = (snapshot(pre = true), snapshot(pre = false))
    val diff = Relational.q35SnapshotDiff(spark, sfDir)
      .as[(Long, String, Long, String, Double)].collect()
    assert(diff.nonEmpty)
    // update images arrive in pairs on the same key with different rows
    val byType = diff.groupBy(_._2)
    val pre = byType.getOrElse("update_preimage", Array.empty).map(_._1).sorted
    val post = byType.getOrElse("update_postimage", Array.empty).map(_._1).sorted
    assert(pre.toSeq == post.toSeq, "every update has both images on the same key")
    // applying the feed to v1 reproduces v2 exactly
    val removedKeys = diff.filter(r => r._2 == "delete" || r._2 == "update_preimage")
      .map(_._1).toSet
    val added = diff.filter(r => r._2 == "insert" || r._2 == "update_postimage")
      .map(r => (r._1, r._3, r._4, r._5)).toSet
    val reconstructed = v1.filterNot(r => removedKeys(r._1)) ++ added
    assert(reconstructed == v2, "v1 + change feed must reconstruct v2")
    // and the feed is minimal: no unchanged rows leak through
    diff.filter(_._2 == "update_preimage").foreach { r =>
      assert(v2.exists(x => x._1 == r._1 && x._2 != r._3),
        s"preimage for key ${r._1} must differ from the v2 row")
    }
  }

  test("q36 lockup schedule: hand-computed cliff/linear/full checkpoints + BigInt floor mirror") {
    // Handcrafted schedules pinning every branch of the reference's
    // get_locked_amount / get_unvested_amount (lockup.rs:105-200):
    // user 1 starts 2024-01-04T00:00:00Z, so the four checkpoints hit
    //   01-05: pre-lockup AND pre-cliff  → locked = amount
    //   01-12: mid-release × mid-vesting → max of two linear decays
    //   01-25: post-vest-end, release tail → unreleased only
    //   02-20: past both windows         → locked = 0
    // User 2 starts 1 µs later, so every duration is non-round and
    // the floor-division (decimal `div`) behavior is exercised on
    // inexact quotients, not just .0-tail ones.
    val dir = java.nio.file.Files.createTempDirectory("graftlockup").toString
    val startSec = 1704326400L // 2024-01-04T00:00:00Z
    Seq( // (event_id, user_id, ts_nanos) — q36 keys on min(ts) per user
      (1L, 1L, startSec * 1000000000L),
      (2L, 1L, (startSec + 864000L) * 1000000000L), // later event: min() must win
      (3L, 2L, startSec * 1000000000L + 1000L))     // +1 µs start
      .toDF("event_id", "user_id", "ts")
      .withColumn("event_type", lit("signup"))
      .withColumn("value", lit(1.0)).withColumn("props", lit("{}"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")

    val out = SparkEntry.queries("q36_lockup_schedule")(spark, dir)
      .select(col("user_id"), unix_micros(col("checkpoint")),
        col("amount"), col("locked"), col("unlocked"))
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => ((r._1, r._2), (r._3, r._4, r._5))).toMap
    assert(out.size == 8, "2 users x 4 checkpoints")

    val day = 86400000000L
    val chks = Seq("2024-01-05", "2024-01-12", "2024-01-25", "2024-02-20")
      .map(d => java.time.Instant.parse(s"${d}T00:00:00Z").getEpochSecond * 1000000L)

    // user 1 literals, hand-computed (amount = 1e12 + 1*1000000007):
    // 01-12 → max(floor(a*14/20), floor(a*8/16)) = floor(a*7/10)
    //   1001000000007*7 = 7007000000049 → /10 floors to ...004 (not .9-rounded)
    // 01-25 → floor(a/20) = 50050000000.35 → 50050000000
    val a1 = 1001000000007L
    assert(out((1L, chks(0))) == ((a1, a1, 0L)), "pre-lockup: fully locked")
    assert(out((1L, chks(1))) == ((a1, 700700000004L, a1 - 700700000004L)),
      "mid linear: floor(amount*7/10), truncated not rounded")
    assert(out((1L, chks(2))) == ((a1, 50050000000L, a1 - 50050000000L)),
      "release tail after vest end: floor(amount/20)")
    assert(out((1L, chks(3))) == ((a1, 0L, a1)), "past both windows: all unlocked")

    // BigInt mirror of the contract arithmetic for EVERY cell — an
    // independent floor-division path (BigInt /) checking Spark's
    // decimal(38,0) `div` bit-for-bit on the non-round user-2 offsets
    for (uid <- Seq(1L, 2L); t <- chks) {
      val start = startSec * 1000000L + (if (uid == 2L) 1L else 0L)
      val amount = BigInt(1000000000000L) + BigInt(uid) * 1000000007L
      val (lockup, relEnd, cliff, vestEnd) =
        (start + 2 * day, start + 22 * day, start + 4 * day, start + 16 * day)
      val unreleased =
        if (t >= relEnd) BigInt(0) else amount * (relEnd - t) / (relEnd - lockup)
      val unvested =
        if (t < cliff) amount
        else if (t >= vestEnd) BigInt(0)
        else amount * (vestEnd - t) / (vestEnd - start)
      val locked = if (t < lockup) amount else unreleased.max(unvested)
      assert(out((uid, t)) == ((amount.toLong, locked.toLong, (amount - locked).toLong)),
        s"user $uid at t=$t")
    }
  }

  test("q37 lockup termination: bug/terminating/explicit-lockup branches + saturating_sub pins") {
    // Users picked to cover every branch of get_locked_amount
    // (lockup.rs:105-167): 1 = plain, 3 = explicit lockup_timestamp
    // (the max at :111, +1 µs start so floors are inexact), 5 = the
    // has_bug release-start shift, 7 = terminating vesting with
    // withdrawn tokens, 21 = terminating with ZERO withdrawn
    // (21 % 3 = 0), 35 = bug + terminating composed.
    val dir = java.nio.file.Files.createTempDirectory("graftterm").toString
    val startSec = 1704326400L // 2024-01-04T00:00:00Z
    Seq(1L, 3L, 5L, 7L, 21L, 35L).zipWithIndex.map { case (uid, i) =>
      (i.toLong, uid, startSec * 1000000000L + (if (uid == 3L) 1000L else 0L))
    }.toDF("event_id", "user_id", "ts")
      .withColumn("event_type", lit("signup"))
      .withColumn("value", lit(1.0)).withColumn("props", lit("{}"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")

    val out = SparkEntry.queries("q37_lockup_termination")(spark, dir)
      .select(col("user_id"), unix_micros(col("checkpoint")),
        col("amount"), col("withdrawn"), col("locked"), col("liquid"))
      .as[(Long, Long, Long, Long, Long, Long)].collect()
      .map(r => ((r._1, r._2), (r._3, r._4, r._5, r._6))).toMap
    assert(out.size == 24, "6 users x 4 checkpoints")

    val day = 86400000000L
    val chks = Seq("2024-01-05", "2024-01-12", "2024-01-25", "2024-02-20")
      .map(d => java.time.Instant.parse(s"${d}T00:00:00Z").getEpochSecond * 1000000L)

    // BigInt mirror of the full branch structure — independent floor
    // division path, checked for every (user, checkpoint) cell
    def mirror(uid: Long, start: Long, t: Long): (Long, Long, Long, Long) = {
      val amount = BigInt(1000000000000L) + BigInt(uid) * 1000000007L
      val explicitU = if (uid % 3 == 0) start + 3 * day else 0L
      val lockup = math.max(start + 2 * day, explicitU)
      val relStart = if (uid % 5 == 0) start else lockup
      val relEnd = relStart + 20 * day
      val withdrawn = if (uid % 7 == 0) (amount / 20) * (uid % 3) else BigInt(0)
      val (cliff, vestEnd) = (start + 4 * day, start + 16 * day)
      val unreleased =
        if (t >= relEnd) BigInt(0) else amount * (relEnd - t) / (20 * day)
      val unvested =
        if (uid % 7 == 0) amount / 3
        else if (t < cliff) amount
        else if (t >= vestEnd) BigInt(0)
        else amount * (vestEnd - t) / (vestEnd - start)
      val locked =
        if (t < lockup) amount - withdrawn
        else (unreleased - withdrawn).max(BigInt(0)).max(unvested)
      (amount.toLong, withdrawn.toLong, locked.toLong,
        (amount - withdrawn - locked).toLong)
    }
    for (uid <- Seq(1L, 3L, 5L, 7L, 21L, 35L); t <- chks) {
      val start = startSec * 1000000L + (if (uid == 3L) 1L else 0L)
      assert(out((uid, t)) == mirror(uid, start, t), s"user $uid at t=$t")
    }

    // saturating_sub pinned both ways at the 01-25 checkpoint:
    // user 7 (no bug): unreleased = amount*1d div 20d = withdrawn
    //   exactly → sub is 0 by EQUALITY; locked falls to amount div 3
    val a7 = 1000000000000L + 7L * 1000000007L
    assert(out((7L, chks(2)))._3 == a7 / 3,
      "user 7: unreleased-withdrawn hits exactly 0, terminating floor holds")
    // user 35 (bug): release window ended 01-24 → unreleased = 0,
    //   withdrawn > 0 → raw sub is NEGATIVE, clamp must engage
    val a35 = 1000000000000L + 35L * 1000000007L
    assert(out((35L, chks(2)))._3 == a35 / 3,
      "user 35: negative sub clamped to 0, locked = terminating unvested")
    // and the explicit-lockup max: user 3 still fully locked at 01-05
    // though transfers+2d would have unlocked on 01-06 — via 01-12 the
    // window is shifted one day vs user 1 (check at exactly lockup+ε
    // not needed; mirror covers it — here just pin the pre-lockup row)
    assert(out((3L, chks(0)))._3 == out((3L, chks(0)))._1,
      "user 3 fully locked pre-lockup")
  }

  test("q39 salted join is salt-invariant and the skew is non-vacuous") {
    import graft.operators.Relational
    val salted = SparkEntry.queries("q39_skew_join")(spark, sfDir)
    // the plain unsalted join + rollup, built here independently —
    // salt invariance means the salted plan is indistinguishable
    val facts = Relational.q39Facts(spark, sfDir)
    val dim = Tables.customer(spark, sfDir).select(col("c_custkey"), col("c_mktsegment"))
    val plain = facts.join(dim, col("uid") === col("c_custkey"))
      .groupBy("uid", "c_mktsegment")
      .agg(count(lit(1)).as("n_events"), sum("value_bp").as("value_bp_sum"))
      .orderBy("uid", "c_mktsegment")
    assert(salted.collect().toSeq == plain.collect().toSeq,
      "salting must not change the join result")
    // non-vacuous: the synthesized hot key really dominates (≈ 3/4 of
    // all events) — without it the operator tests nothing
    val total = facts.count()
    val hot = salted.filter(col("uid") === 0L)
      .agg(sum("n_events")).as[Long].head()
    assert(hot >= total / 2, s"hot key holds $hot of $total events")
    // and the salt really fans the hot key out: at sf0.001 the hot
    // key's fact rows land in every one of the 16 salt buckets
    val hotSalts = facts.filter(col("uid") === 0L)
      .select(pmod(xxhash64(col("event_id")), lit(Relational.q39Salt)))
      .distinct().count()
    assert(hotSalts == Relational.q39Salt,
      "hot key must spread across all salt buckets")
  }

  test("q40 expectations: independent recount, NULL-fails convention, retained law") {
    import graft.operators.Relational
    val lo = java.time.Instant.parse("2024-01-01T00:00:00Z")
    val hi = java.time.Instant.parse("2024-02-01T00:00:00Z")
    val known = Set("click", "view", "purchase", "signup", "error")
    val rows = Tables.events(spark, sfDir)
      .select("user_id", "event_type", "value", "ts").collect()
    // rule semantics mirrored independently; a NULL input FAILS the
    // expectation (the DLT convention the operator documents)
    def pass(r: org.apache.spark.sql.Row): Map[String, Boolean] = Map(
      "valid_user" -> (!r.isNullAt(0) && r.getLong(0) > 0),
      "known_type" -> (!r.isNullAt(1) && known(r.getString(1))),
      "value_expected" -> (!r.isNullAt(2) && r.getDouble(2) > 0 && r.getDouble(2) < 100),
      "fresh_ts" -> (!r.isNullAt(3) && {
        val t = r.getTimestamp(3).toInstant
        !t.isBefore(lo) && t.isBefore(hi)
      }))
    val per = rows.map(pass)
    val total = rows.length.toLong
    val got = SparkEntry.queries("q40_expectations")(spark, sfDir)
      .as[(String, String, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(got.keySet ==
      Relational.q40Rules.map(_._1).toSet + "__retained__")
    Relational.q40Rules.foreach { case (n, a, _) =>
      val viol = per.count(!_(n))
      val (_, action, v, p, ppm) = got(n)
      assert(action == a && v == viol && p == total - viol,
        s"$n: got ($v,$p) expected ($viol,${total - viol})")
      assert(ppm == (total - viol) * 1000000L / total, s"$n ppm")
    }
    // retained = rows passing ALL drop rules conjointly; warn rules
    // must NOT gate
    val dropRules = Relational.q40Rules.filter(_._2 == "drop").map(_._1)
    val retained = per.count(m => dropRules.forall(m))
    val (_, _, rv, rp, rppm) = got("__retained__")
    assert(rp == retained && rv == total - retained &&
      rppm == retained * 1000000L / total, "retained law")
    assert(per.exists(m => !m("value_expected") && dropRules.forall(m)),
      "a warn-violating row must survive the drop gate — else warn==drop")
    // non-vacuous in both directions: a violated rule and a clean rule
    val viols = Relational.q40Rules.map { case (n, _, _) => per.count(!_(n)) }
    assert(viols.exists(_ > 0) && viols.contains(0),
      s"need both violated and clean rules, got $viols")
  }

  test("q45 RFM equals an in-memory quintile mirror; all scores and segments exercised") {
    val got = SparkEntry.queries("q45_rfm")(spark, sfDir)
      .as[(Long, Int, Long, Double, Int, Int, Int, String)].collect().toSeq
    // mirror: same rollup, same exact interpolated percentiles
    // (idx = p·(n−1), linear between neighbors — the percentile /
    // quantile_cont definition), same strictly-greater counting
    val per = Tables.orders(spark, sfDir)
      .groupBy("o_custkey")
      .agg(datediff(lit("2001-09-01").cast("date"),
          to_date(max(col("o_orderdate")))).as("r"),
        count(lit(1)).as("f"),
        round(sum(col("o_totalprice")), 2).as("m"))
      .as[(Long, Int, Long, Double)].collect().sortBy(_._1)
    def bounds(vs: Seq[Double]): Seq[Double] = {
      val s = vs.sorted
      Seq(0.2, 0.4, 0.6, 0.8).map { p =>
        val idx = p * (s.length - 1)
        val lo = s(idx.toInt)
        val hi = s(math.min(idx.toInt + 1, s.length - 1))
        lo + (idx - idx.toInt) * (hi - lo)
      }
    }
    val (rb, fb, mb) = (bounds(per.map(_._2.toDouble)),
      bounds(per.map(_._3.toDouble)), bounds(per.map(_._4)))
    val expected = per.map { case (ck, r, f, m) =>
      val rs = 5 - rb.count(r > _)
      val fs = 1 + fb.count(f > _)
      val ms = 1 + mb.count(m > _)
      val seg =
        if (rs >= 4 && fs >= 4 && ms >= 4) "champion"
        else if (fs >= 4) "loyal"
        else if (ms >= 4) "big_spender"
        else if (rs <= 2 && (fs >= 3 || ms >= 3)) "at_risk"
        else if (rs <= 2) "hibernating"
        else "regular"
      (ck, r, f, m, rs, fs, ms, seg)
    }.toSeq
    assert(got == expected, "q45 != in-memory quintile mirror")
    // every score level and several segments must be live
    (1 to 5).foreach { v =>
      assert(got.exists(_._5 == v) && got.exists(_._6 == v) && got.exists(_._7 == v),
        s"score level $v unexercised") }
    assert(got.map(_._8).distinct.size >= 4,
      s"segments degenerate: ${got.map(_._8).distinct}")
  }

  test("q45b sketch boundaries: degenerate-exact at shipped k, sampled regime in-band vs q45") {
    // sf0.001 has 150 customers < k = 512, so the shipped budget is
    // the degenerate-exact regime (the q68/t57 boundary stance): the
    // sample IS the population and the two legs must agree everywhere
    val reg = SparkEntry.queries("q45b_rfm_sketch")(spark, sfDir)
      .as[(Long, Int, Int, Int, String, String, Boolean)].collect().toSeq
    assert(reg.nonEmpty && reg.forall(_._7),
      "degenerate regime must have est == exact for every customer")
    reg.foreach { r => assert(r._7 == (r._5 == r._6), "agree flag inconsistent") }
    // the exact leg's rank-quantile (type-1) segmentation vs q45's
    // interpolated-percentile segmentation: different boundary
    // definitions, near-identical segments (measured: 1.0 at sf0.01)
    val q45 = SparkEntry.queries("q45_rfm")(spark, sfDir)
      .as[(Long, Int, Long, Double, Int, Int, Int, String)].collect()
      .map(r => r._1 -> r._8).toMap
    val exactAgree = reg.count(r => q45(r._1) == r._5).toDouble / reg.size
    assert(exactAgree >= 0.95,
      s"rank-quantile segmentation drifted from q45's: $exactAgree")
    // the genuinely-sampled regime: a small budget on the spec corpus
    // still scores every customer, and segment agreement stays in the
    // band the production swap promises (measured 0.971 at sf0.01
    // with k=512/1500; k=32/150 is a harsher sample)
    val small = graft.operators.Relational.q45bWith(spark, sfDir, 32)
      .as[(Long, Int, Int, Int, String, String, Boolean)].collect().toSeq
    assert(small.size == reg.size, "sampled boundaries must still score everyone")
    val sampleAgree = small.count(_._7).toDouble / small.size
    assert(sampleAgree >= 0.8 && sampleAgree < 1.0,
      s"sampled-regime agreement out of band: $sampleAgree")
    // exact leg is k-invariant: only the est columns may move
    assert(small.map(r => r._1 -> r._5).toMap == reg.map(r => r._1 -> r._5).toMap,
      "exact leg must not depend on the sample budget")
  }

  test("q77 time travel: replay(v0, changes<=k) == direct snapshot for EVERY version; head == s42") {
    val R = graft.operators.Relational
    val S = graft.streaming.Streaming
    val ev = Tables.events(spark, sfDir)
      .select("user_id", "event_id", "ts", "event_type", "value")
    val chain = R.writeChain(spark, sfDir, "q77_chain", R.q77Cutoffs)
    val cuts = R.q77Cutoffs
    // the Delta CDF closure, quantified over every version —
    // artifact level, INCLUDING tombstone rows
    for (k <- 0 to 3) {
      val replayed = R.replay(spark, chain, "v0", 0, k)
        .orderBy("user_id").collect().toSeq
      val direct = S.applyChangesSnapshot(
        if (k < 3) ev.filter(col("ts") <= lit(cuts(k))) else ev)
        .orderBy("user_id").collect().toSeq
      assert(replayed == direct, s"version $k: replay != direct snapshot")
      assert(replayed.nonEmpty, s"version $k empty")
    }
    // the head's serving view IS s42's registered incremental apply
    val head = S.applyServing(R.replay(spark, chain, "v0", 0, 3)).collect().toSeq
    val s42 = SparkEntry.queries("s42_apply_changes")(spark, sfDir).collect().toSeq
    assert(head == s42, "head version != s42's incremental apply")
    // the chain is non-degenerate: versions differ
    val heads = (0 to 3).map(k => R.replay(spark, chain, "v0", 0, k)
      .agg(max("event_id")).head.getLong(0))
    assert(heads.distinct.size >= 2, s"degenerate chain: $heads")
  }

  test("q78 vacuum: surviving versions identical, below-horizon fails fast, artifacts gone") {
    val R = graft.operators.Relational
    val chain = R.writeChain(spark, sfDir, "q78spec_chain", R.q77Cutoffs)
    val h = R.q78Horizon
    val before = (h to 3).map(k =>
      R.replay(spark, chain, "v0", 0, k).orderBy("user_id").collect().toSeq)
    R.q78VacuumChain(spark, chain, h)
    // every surviving version reads byte-identically through the
    // checkpoint + surviving logs
    (h to 3).zip(before).foreach { case (k, b) =>
      val after = R.replay(spark, chain, "ckpt", h, k).orderBy("user_id").collect().toSeq
      assert(after == b, s"version $k changed across vacuum")
    }
    // below the horizon: a fail-fast, not a wrong answer
    intercept[IllegalArgumentException] {
      R.replay(spark, chain, "ckpt", h, h - 1)
    }
    // the base and compacted logs are genuinely gone; the surviving
    // logs and the checkpoint are present
    assert(!new java.io.File(s"$chain/v0").exists, "old base must be deleted")
    (1 to h).foreach(k => assert(!new java.io.File(s"$chain/changes_$k").exists,
      s"compacted log $k must be deleted"))
    assert(new java.io.File(s"$chain/ckpt").exists)
    (h + 1 to 3).foreach(k => assert(new java.io.File(s"$chain/changes_$k").exists))
    // the registered face serves exactly what q77 serves
    val a = SparkEntry.queries("q78_retention")(spark, sfDir).collect().toSeq
    val b = SparkEntry.queries("q77_time_travel")(spark, sfDir).collect().toSeq
    assert(a == b, "q78's served version != q77's")
  }

  test("q81 restore: post-restore head serves the target version; history preserved; head-restore is identity") {
    val R = graft.operators.Relational
    val S = graft.streaming.Streaming
    val chain = R.writeChain(spark, sfDir, "q81spec_chain", R.q77Cutoffs)
    val k = R.q81Target
    val headBefore = R.replay(spark, chain, "v0", 0, 3)
      .orderBy("user_id").collect().toSeq
    val log = R.q81RestoreLog(spark, chain, k)
    log.write.mode("overwrite").parquet(s"$chain/changes_4")
    // serving the post-restore head == serving the target version
    val restored = S.applyServing(R.replay(spark, chain, "v0", 0, 4)).collect().toSeq
    val target = S.applyServing(R.replay(spark, chain, "v0", 0, k)).collect().toSeq
    assert(restored == target, "restored head != target version at serving")
    // history is preserved: the pre-restore head still reads unchanged
    val headAfter = R.replay(spark, chain, "v0", 0, 3)
      .orderBy("user_id").collect().toSeq
    assert(headAfter == headBefore, "restore must not rewrite history")
    // the restore genuinely bit: head and restored head differ
    val headServed = S.applyServing(R.replay(spark, chain, "v0", 0, 3)).collect().toSeq
    assert(headServed != restored, "degenerate restore: head == target")
    // both branches populate: >=1 tombstone (insert-after-k undone)
    // and >=1 re-assert (moved key rolled back)
    val byType = log.groupBy(col("event_type") === "error")
      .count().collect().map(r => r.getBoolean(0) -> r.getLong(1)).toMap
    assert(byType.getOrElse(true, 0L) > 0, "no tombstone branch exercised")
    assert(byType.getOrElse(false, 0L) > 0, "no re-assert branch exercised")
    // the log is exactly the key diff: one row per key whose winning
    // event moved (or that did not exist at the target)
    val h = R.replay(spark, chain, "v0", 0, 3).select("user_id", "event_id")
      .withColumnRenamed("event_id", "h_eid")
    val t = R.replay(spark, chain, "v0", 0, k).select("user_id", "event_id")
      .withColumnRenamed("event_id", "t_eid")
    val diffKeys = h.join(t, Seq("user_id"), "left")
      .filter(col("t_eid").isNull || col("t_eid") =!= col("h_eid")).count()
    assert(log.count() == diffKeys, "restore log must equal the key diff")
    // restore-to-head is the identity: an EMPTY compensating log
    assert(R.q81RestoreLog(spark, chain, 3).isEmpty,
      "restore to the head must append nothing")
  }

  test("q91 rolling registers == per-window max of daily; WAU dominates DAU; rel_err bounded") {
    val R = graft.operators.Relational
    val got = SparkEntry.queries("q91_rolling_distinct")(spark, sfDir)
      .as[(java.sql.Date, Long, Long, Long, Double, Double)].collect().toSeq
    assert(got.nonEmpty)
    // merged register table == an independent per-window max over the
    // daily registers (computed via a different path: in-memory maps)
    val daily = R.q49Registers(R.q49Rho(Tables.events(spark, sfDir)))
      .as[(java.sql.Date, Long, Int)].collect()
      .groupBy(_._1).view.mapValues(_.map(r => r._2 -> r._3).toMap).toMap
    val days = daily.keySet.toSeq.sortBy(_.getTime)
    val mergedGot = {
      val ev = Tables.events(spark, sfDir)
      val dayDf = ev.select(col("ts").cast("date").as("day")).distinct()
      val m = R.q49Registers(R.q49Rho(ev))
        .select(explode(expr(
          s"transform(sequence(0, ${R.q91Window - 1}), i -> date_add(day, i))"))
          .as("tday"), col("j"), col("m"))
        .join(dayDf.select(col("day").as("tday")), Seq("tday"))
        .groupBy("tday", "j").agg(max("m").as("m"))
      m.as[(java.sql.Date, Long, Int)].collect()
        .groupBy(_._1).view.mapValues(_.map(r => r._2 -> r._3).toMap).toMap
    }
    days.foreach { d =>
      val window = days.filter(w => !w.after(d) &&
        w.toLocalDate.plusDays(R.q91Window - 1).compareTo(d.toLocalDate) >= 0)
      val expect = window.flatMap(w => daily(w).toSeq)
        .groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
      assert(mergedGot(d) == expect, s"day $d: merged registers != window max")
    }
    // WAU dominates DAU everywhere, strictly somewhere
    val dau = SparkEntry.queries("q49_hll_distinct")(spark, sfDir)
      .select("day", "exact_users")
      .as[(java.sql.Date, Long)].collect().toMap
    val wau = got.map(r => r._1 -> r._2).toMap
    assert(wau.forall { case (d, w) => w >= dau(d) }, "WAU < DAU somewhere")
    assert(wau.exists { case (d, w) => w > dau(d) }, "WAU never exceeds DAU")
    // the sketch's honesty column stays in HLL's error regime
    assert(got.map(_._6).max <= 0.2,
      s"rel_err out of band: ${got.map(_._6).max}")
  }

  test("q90 FIFO pairs == sequential queue simulation; conservation law holds per user") {
    val got = SparkEntry.queries("q90_fifo_attribution")(spark, sfDir)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got.nonEmpty)
    // a TRUE sequential FIFO queue, per user: draws arrive in (ts,
    // event_id) order and consume from the oldest lot with cents
    // remaining — an independent code path with no interval algebra
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("ts"),
        col("event_type"), expr("cast(round(value * 100, 0) as bigint)").as("cents"))
      .as[(Long, Long, java.sql.Timestamp, String, Long)].collect()
      .filter(_._5 > 0)
    val byUser = ev.groupBy(_._1)
    val sim = scala.collection.mutable.Buffer.empty[(Long, Long, Long, Long)]
    byUser.toSeq.sortBy(_._1).foreach { case (u, rows) =>
      // positional two-sequence FIFO: each ordered stream is its own
      // sequence (the q90 semantic — sells match buys in order, the
      // capital-gains rule), draws consume the lot queue head
      val lots = scala.collection.mutable.Queue.empty[(Long, Long)] // (lot_id, left)
      rows.filter(_._4 == "purchase").sortBy(r => (r._3.getTime, r._2))
        .foreach { case (_, id, _, _, c) => lots.enqueue((id, c)) }
      rows.filter(_._4 == "click").sortBy(r => (r._3.getTime, r._2))
        .foreach { case (_, id, _, _, c) =>
          var need = c
          while (need > 0 && lots.nonEmpty) {
            val (lid, left) = lots.head
            val take = math.min(left, need)
            sim += ((u, lid, id, take))
            need -= take
            lots.dequeue()
            if (left > take) (lid, left - take) +=: lots
          }
        }
    }
    val simSorted = sim.toSeq.sortBy(r => (r._1, r._2, r._3))
    assert(got == simSorted,
      s"interval algebra != FIFO queue: ${got.diff(simSorted).take(3)}")
    // conservation: per user, Σ alloc == min(Σ lots, Σ draws)
    val lotTot = ev.filter(_._4 == "purchase").groupBy(_._1)
      .view.mapValues(_.map(_._5).sum).toMap
    val drawTot = ev.filter(_._4 == "click").groupBy(_._1)
      .view.mapValues(_.map(_._5).sum).toMap
    val allocTot = got.groupBy(_._1).view.mapValues(_.map(_._4).sum).toMap
    (lotTot.keySet ++ drawTot.keySet).foreach { u =>
      val expect = math.min(lotTot.getOrElse(u, 0L), drawTot.getOrElse(u, 0L))
      assert(allocTot.getOrElse(u, 0L) == expect,
        s"user $u: allocated ${allocTot.getOrElse(u, 0L)} != $expect")
    }
    // the matching is non-trivially structured: some draw spans
    // multiple lots and some lot feeds multiple draws
    assert(got.groupBy(r => (r._1, r._3)).exists(_._2.size > 1),
      "no draw spans multiple lots")
    assert(got.groupBy(r => (r._1, r._2)).exists(_._2.size > 1),
      "no lot feeds multiple draws")
  }

  test("q92 checkpointing: checkpoint-routed read == genesis replay for EVERY version; read scans only ckpt + trailing deltas") {
    val R = graft.operators.Relational
    val chain = R.writeChain(spark, sfDir, "q92spec_chain", R.q92Bounds)
    R.q92WriteCheckpoints(spark, chain)
    // the checkpoint closure, quantified over every version —
    // artifact level, INCLUDING tombstone rows. Covers both new
    // mechanisms at once: versions 3 and 6 read a checkpoint ALONE
    // (and ckpt_6 was itself built from ckpt_3, so incremental
    // checkpoint maintenance is pinned against genesis here too);
    // versions 4, 5 read a checkpoint + deltas.
    for (k <- 0 to R.q92Head) {
      val routed = R.q92AsOf(spark, chain, k)
        .orderBy("user_id").collect().toSeq
      val genesis = R.replay(spark, chain, "v0", 0, k)
        .orderBy("user_id").collect().toSeq
      assert(routed == genesis, s"version $k: checkpoint route != genesis replay")
      assert(routed.nonEmpty, s"version $k empty")
    }
    // the cost contract, at plan level: the registered read (k=5)
    // scans ckpt_3 + changes_4 + changes_5 and NEVER the genesis
    // artifacts — replay cost is bounded by the cadence, not the age
    val leaves = R.q92AsOf(spark, chain, R.q92ReadVersion)
      .queryExecution.executedPlan.collectLeaves().map(_.toString).mkString("\n")
    Seq("ckpt_3", "changes_4", "changes_5").foreach(p =>
      assert(leaves.contains(p), s"read at 5 must scan $p"))
    Seq("/v0", "changes_1", "changes_2", "changes_3").foreach(p =>
      assert(!leaves.contains(p), s"read at 5 must NOT scan $p"))
    // non-degenerate: versions genuinely differ across the chain
    val heads = (0 to R.q92Head).map(k => R.q92AsOf(spark, chain, k)
      .agg(max("event_id")).head.getLong(0))
    assert(heads.distinct.size >= 2, s"degenerate chain: $heads")
  }

  test("q93 change feed: log-derived feed == snapshot diff for EVERY version pair; k1 routes through the checkpoint") {
    import org.apache.spark.sql.functions._
    val R = graft.operators.Relational
    val S = graft.streaming.Streaming
    val chain = R.writeChain(spark, sfDir, "q93spec_chain", R.q92Bounds)
    R.q92WriteCheckpoints(spark, chain)
    // serving-level diff of two chain versions, computed the brute
    // way (two full served snapshots, q35's classification) — an
    // independent recompute sharing no code with q93Feed's
    // window-net + restricted-pre path
    def served(k: Int): Map[Long, (Long, String, Double)] =
      S.applyChangesSnapshot(R.replay(spark, chain, "v0", 0, k))
        .filter(col("event_type") =!= "error")
        .select(col("user_id"), col("event_id"), col("event_type"),
          round(col("value"), 4).as("value"))
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getString(2), r.getDouble(3)))).toMap
    for (k1 <- 0 to R.q92Head; k2 <- (k1 + 1) to R.q92Head) {
      val feed = R.q93Feed(spark, chain, k1, k2)
        .as[(Long, String, Long, String, Double)].collect().toSeq
      assert(feed == TestCdf.bruteDiff(served(k1), served(k2)),
        s"feed($k1,$k2) != snapshot diff")
    }
    // non-degenerate on the registered window: all three change kinds
    val reg = R.q93Feed(spark, chain, R.q93From, R.q93To)
      .select("change_type").as[String].collect().toSet
    assert(Set("insert", "update_preimage", "update_postimage")
      .subsetOf(reg), s"registered window too thin: $reg")
    // the k1 pre-image rides the checkpoint: the (3, 5) feed scans
    // ckpt_3 + changes_4/5 and never the genesis artifacts
    val leaves = R.q93Feed(spark, chain, 3, 5)
      .queryExecution.executedPlan.collectLeaves().map(_.toString).mkString("\n")
    Seq("ckpt_3", "changes_4", "changes_5").foreach(p =>
      assert(leaves.contains(p), s"feed(3,5) must scan $p"))
    Seq("/v0", "changes_1", "changes_2", "changes_3").foreach(p =>
      assert(!leaves.contains(p), s"feed(3,5) must NOT scan $p"))
  }

  test("q89 optimistic commits: accept iff overlap=0; ledger == independent replay; final == serial") {
    val R = graft.operators.Relational
    val S = graft.streaming.Streaming
    val ledger = SparkEntry.queries("q89_optimistic_commit")(spark, sfDir)
      .as[(Int, String, Int, Long, Long, String, Int)].collect().toSeq
    // the accept/reject rule, quantified over EVERY attempt
    ledger.foreach { case (a, _, _, _, ov, outcome, v) =>
      assert((outcome == "committed") == (ov == 0L), s"attempt $a violates the rule")
      assert((v == -1) == (outcome == "rejected"), s"attempt $a version/outcome disagree")
    }
    assert(ledger.count(_._6 == "rejected") == 1, "exactly one planted rejection")
    // independent in-memory replay of the whole protocol over raw key sets
    val ev = Tables.events(spark, sfDir)
      .select("user_id", "event_id", "ts", "event_type", "value")
    val logs = R.q89Logs(ev)
    val keySets = logs.map { case (w, log) =>
      w -> log.select("user_id").distinct().as[Long].collect().toSet }
    // PRECONDITION PIN (ADVICE r13): q89Sql's literal attempt/version
    // numbering (attempts 1-4, retry snapshot 2, final head 3) encodes
    // a protocol shape that is only valid while w1/w2's key slices are
    // DISJOINT (w2 commits first try) and w3 straddles at least one of
    // them (w3 rejects then retries). If q89Logs' residues are ever
    // edited, this trips with the reason instead of the correctness
    // gate flagging an opaque row-count mismatch.
    val byW = keySets.toMap
    assert(byW("w1").intersect(byW("w2")).isEmpty,
      "q89Sql precondition broken: w1/w2 write sets must be disjoint")
    assert(byW("w3").intersect(byW("w1") ++ byW("w2")).nonEmpty,
      "q89Sql precondition broken: w3 must straddle w1 ∪ w2")
    var head = 0
    var id = 0
    val replay = scala.collection.mutable.Buffer
      .empty[(Int, String, Int, Long, Long, String, Int)]
    val committedKeys = scala.collection.mutable.Buffer.empty[(Int, Set[Long])]
    def go(w: String, ks: Set[Long], snap: Int): Boolean = {
      id += 1
      val ov = committedKeys.filter(_._1 > snap).map(_._2)
        .foldLeft(Set.empty[Long])(_ ++ _).intersect(ks).size.toLong
      if (ov == 0L) {
        head += 1; committedKeys += ((head, ks))
        replay += ((id, w, snap, ks.size.toLong, 0L, "committed", head)); true
      } else {
        replay += ((id, w, snap, ks.size.toLong, ov, "rejected", -1)); false
      }
    }
    keySets.foreach { case (w, ks) => if (!go(w, ks, 0)) go(w, ks, head) }
    assert(ledger == replay.toSeq, "registered ledger != independent replay")
    // the final chain's serving state == a serial replay of base +
    // all three writers' logs through s42's one rule
    val chain = graft.sources.Export.scratch("q89_chain", sfDir)
    val parts = spark.read.parquet(s"$chain/v0") +:
      (1 to 3).map(i => spark.read.parquet(s"$chain/changes_$i"))
    val served = S.applyServing(S.applyChangesSnapshot(
      parts.reduce(_.unionByName(_)))).collect().toSeq
    val direct = S.applyServing(S.applyChangesSnapshot(
      ev.filter(col("ts") <= lit(R.q77Cutoffs(0)))
        .unionByName(logs.map(_._2).reduce(_.unionByName(_)))))
      .collect().toSeq
    assert(served.nonEmpty && served == direct,
      "final chain != serial replay of all writers")
  }

  test("q103: a mid-commit reader sees version k-1 of BOTH tables; the manifest is the commit point") {
    val R = graft.operators.Relational
    val root = graft.sources.Export.scratch("q103s_pub", sfDir)
    graft.sources.Export.deleteTree(root)
    // versions 1 and 2 commit fully
    (1 to 2).foreach(k => R.q103Commit(spark, root, k, R.q103Delta(spark, sfDir, k)))
    assert(R.q103Head(root) == 2)
    def servedPair(k: Int): (Set[(String, Long, Long)], Long) = (
      R.q103MvAt(spark, root, k).as[(String, Long, Long)].collect().toSet,
      R.q103FactAt(spark, root, k).count())
    val (mv2, fact2) = servedPair(2)
    // MID-COMMIT SCHEDULE: version 3's fact commit AND MV snapshot
    // are fully durable on disk — but the manifest has not moved
    R.q103WriteArtifacts(spark, root, 3, R.q103Delta(spark, sfDir, 3))
    assert(R.q103Head(root) == 2,
      "writing data artifacts must not move the commit pointer")
    // a manifest reader still serves version 2 of BOTH tables,
    // byte-for-value identical to before the torn write existed
    assert(servedPair(2) == (mv2, fact2),
      "mid-commit reader saw torn state through the manifest")
    // ...while a directory-listing reader WOULD see the torn state:
    // the fact data dir already holds commit_3's rows (this is the
    // reader q103 forbids — the manifest is load-bearing)
    val listed = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$root/fact").count()
    val delta3 = R.q103Delta(spark, sfDir, 3).count()
    assert(delta3 > 0 && listed == fact2 + delta3,
      "torn artifacts should be on disk, just unreachable via manifest")
    // the single manifest write flips BOTH tables to version 3 at once
    R.q103PublishManifest(root, 3)
    assert(R.q103Head(root) == 3)
    val (mv3, fact3) = servedPair(3)
    assert(fact3 == fact2 + delta3)
    // joint-consistency law at the new head: served MV == recompute
    // over exactly the manifest's fact commits
    val joint = R.q103Partials(R.q103FactAt(spark, root, 3))
      .as[(String, Long, Long)].collect().toSet
    assert(mv3 == joint, "MV desynced from fact at the published head")
    assert(mv3 != mv2, "version 3 must actually change the MV")
  }

  test("q96 WAP: a rejected attempt moves no table byte; published == base ∪ audited batches") {
    val R = graft.operators.Relational
    val (base, batches) = R.q96Batches(spark, sfDir)
    val table = graft.sources.Export.scratch("q96s_table", sfDir)
    val stage = graft.sources.Export.scratch("q96s_stage", sfDir)
    graft.sources.Export.deleteTree(table)
    base.write.mode("overwrite").parquet(s"$table/commit_0")
    def tableHashes(): Map[String, String] =
      graft.sources.Export.listParquet(table).map { p =>
        val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p))
        p -> java.security.MessageDigest.getInstance("MD5").digest(bytes)
          .map("%02x".format(_)).mkString
      }.toMap
    // attempt 1 (clean) stages, audits clean, publishes
    val byName = batches.toMap
    byName("w_a").write.mode("overwrite").parquet(s"$stage/a1")
    val (nA, vA) = R.q96Audit(spark, s"$stage/a1")
    assert(nA > 0 && vA == 0L, s"clean batch must audit clean ($nA, $vA)")
    R.q96Publish(s"$stage/a1", table, 1)
    val afterPublish = tableHashes()
    // attempt 2 (planted bug) stages, audit CATCHES it — and the
    // table is byte-identical across the whole rejected attempt
    byName("w_b").write.mode("overwrite").parquet(s"$stage/a2")
    val (nB, vB) = R.q96Audit(spark, s"$stage/a2")
    assert(nB > 0 && vB > 0L, "the planted codec bug must audit dirty")
    // a rejected attempt performs NO publish step at all; what the
    // assertion pins is that nothing else of the protocol (staging,
    // auditing) touched the table either
    assert(tableHashes() == afterPublish,
      "the rejected attempt moved table bytes")
    // the corrupt rows are exactly the %5 slice of the fixed batch
    val fixN = byName("w_c").count()
    val corrupt = spark.read.parquet(s"$stage/a2")
      .filter(!expr(R.q96GateConj)).select("event_id")
      .as[Long].collect().toSet
    assert(corrupt.nonEmpty && corrupt.forall(_ % 5 == 0),
      "audit must catch exactly the planted slice")
    assert(vB == corrupt.size.toLong && nB == fixN)
    // attempt 3 (fixed) publishes; final table == base ∪ A ∪ C
    byName("w_c").write.mode("overwrite").parquet(s"$stage/a3")
    val (nC, vC) = R.q96Audit(spark, s"$stage/a3")
    assert(vC == 0L)
    R.q96Publish(s"$stage/a3", table, 2)
    val got = spark.read.option("recursiveFileLookup", "true").parquet(table)
      .select("event_id").as[Long].collect().sorted.toSeq
    val want = base.unionByName(byName("w_a")).unionByName(byName("w_c"))
      .select("event_id").as[Long].collect().sorted.toSeq
    assert(got == want, "final table != base ∪ published batches")
    // the registered ledger agrees with this replay's folds
    val ledger = SparkEntry.queries("q96_wap")(spark, sfDir)
      .as[(Int, String, Long, Long, String, Int, Long)].collect().toSeq
    val baseN = base.count()
    assert(ledger == Seq(
      (1, "w_a", nA, 0L, "published", 1, baseN + nA),
      (2, "w_b", nB, vB, "rejected", 1, baseN + nA),
      (3, "w_c", nC, 0L, "published", 2, baseN + nA + nC)),
      "registered ledger != independent protocol replay")
    // the gate IS q40's drop conjunction — one definition
    assert(R.q96GateConj ==
      R.q40Rules.filter(_._2 == "drop").map(r => s"(${r._3})").mkString(" AND "))
  }

  test("q86 full merge matrix: every branch populated, deletes pinned by absence, totals recount") {
    val R = graft.operators.Relational
    val got = SparkEntry.queries("q86_merge_full")(spark, sfDir)
      .as[(Long, String, Long, Long)].collect().toSeq
    val byAction = got.groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    // both surviving actions live, plus kept (the not-matched-by-
    // source survivor)
    Seq("updated", "inserted", "kept").foreach(a =>
      assert(byAction.getOrElse(a, Set.empty).nonEmpty, s"branch $a empty"))

    // independent branch recount from raw events (mirrors the planted
    // residue population)
    val ev = Tables.events(spark, sfDir)
      .select("user_id", "event_id", "ts", "event_type", "value")
      .as[(Long, Long, java.sql.Timestamp, String, Double)].collect()
    val cut = java.sql.Timestamp.valueOf(R.q86Cut)
    val stale = java.sql.Timestamp.valueOf(R.q86Stale)
    val pre = ev.filter(e => e._3.before(cut) && e._1 % 7 != 0 &&
      (e._1 % 10 != 0 || e._3.before(stale)))
    val post = ev.filter(e => !e._3.before(cut) && e._1 % 5 != 0)
    val tUsers = pre.map(_._1).toSet
    val sLast = post.groupBy(_._1).view.mapValues(
      _.maxBy(e => (e._3.getTime, e._2))._4 == "error").toMap
    val matchedDel = tUsers.filter(u => sLast.getOrElse(u, false))
    val staleDel = pre.groupBy(_._1).collect {
      case (u, es) if !sLast.contains(u) &&
        es.map(_._3).max.before(stale) => u
    }.toSet
    val insTomb = sLast.collect {
      case (u, true) if !tUsers(u) => u }.toSet
    // deletes are pinned by ABSENCE — none of the three delete
    // classes may survive into the merged table
    val survivors = got.map(_._1).toSet
    assert((matchedDel ++ staleDel ++ insTomb).forall(!survivors(_)),
      "a deleted user survived the merge")
    assert(matchedDel.nonEmpty && staleDel.nonEmpty,
      "delete branches must genuinely populate")
    // the surviving action classes match the recount exactly
    val updated = tUsers.filter(u => sLast.contains(u) && !sLast(u))
    val inserted = sLast.collect {
      case (u, false) if !tUsers(u) => u }.toSet
    val kept = pre.groupBy(_._1).collect {
      case (u, es) if !sLast.contains(u) &&
        !es.map(_._3).max.before(stale) => u
    }.toSet
    assert(byAction("updated") == updated, "updated class mismatch")
    assert(byAction("inserted") == inserted, "inserted class mismatch")
    assert(byAction("kept") == kept, "kept class mismatch")
    // totals recount for a sample of updated users (integer cents)
    val cents = (pre ++ post).groupBy(_._1).view.mapValues(
      _.map(e => math.round(e._5 * 100)).sum).toMap
    got.filter(_._2 == "updated").take(20).foreach { case (u, _, tc, _) =>
      assert(tc == cents(u), s"user $u cents $tc != recount ${cents(u)}")
    }
  }

  test("q85 2-hop reach equals an in-memory BFS mirror; hop sets disjoint") {
    val got = SparkEntry.queries("q85_khop")(spark, sfDir)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got.nonEmpty, "graph must be non-empty at the spec SF")
    // independent mirror: adjacency map, exact distance-2 sets
    val edges = graft.operators.Relational.q46PairsFrom(
        graft.operators.Relational.q46Items(spark, sfDir))
      .select("part_a", "part_b").as[(Long, Long)].collect().toSeq
    val adj = (edges ++ edges.map(_.swap))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val mirror = adj.map { case (u, h1) =>
      val h2 = h1.flatMap(adj(_)) - u -- h1
      u -> (h1.size.toLong, h2.size.toLong)
    }
    assert(got.size == mirror.size, "node set mismatch")
    got.foreach { case (part, deg, two, reach) =>
      val (md, m2) = mirror(part)
      assert(deg == md, s"part $part degree $deg != mirror $md")
      assert(two == m2, s"part $part two_hop $two != mirror $m2")
      assert(reach == deg + two, s"part $part reach law broken")
    }
    // non-vacuity: the 2-hop frontier is genuinely wider than degree
    // somewhere, and zero somewhere is allowed but not everywhere
    assert(got.exists(_._3 > 0), "no node has any 2-hop frontier")
  }

  test("q46 co-purchase equals an in-memory association mirror; floor and tiebreak hold") {
    val got = SparkEntry.queries("q46_copurchase")(spark, sfDir)
      .as[(Long, Long, Long, Long, Long, Double, Double, Double)].collect().toSeq
    val items = Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_partkey").distinct()
      .as[(Long, Long)].collect()
    val byOrder = items.groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
    val partOrders = items.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val totalOrders = byOrder.size.toLong
    def r4(x: Double) = BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val support = byOrder.values.toSeq
      .flatMap(ps => for (a <- ps; b <- ps if a < b) yield (a, b))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val expected = support.toSeq.filter(_._2 >= 2)
      .map { case ((a, b), n) =>
        (a, b, n, partOrders(a), partOrders(b),
          r4(n.toDouble / partOrders(a)), r4(n.toDouble / partOrders(b)),
          r4(n.toDouble * totalOrders / (partOrders(a) * partOrders(b))))
      }
      .sortBy(t => (-t._3, t._1, t._2)).take(100)
    assert(got == expected, "q46 != in-memory association mirror")
    assert(got.nonEmpty && got.forall(_._3 >= 2), "support floor violated")
    assert(got.exists(_._8 > 1.0) , "corpus must exercise positive lift")
  }

  test("q51 pagerank equals an exact Long-arithmetic mirror; mass and ordering laws hold") {
    val got = SparkEntry.queries("q51_pagerank")(spark, sfDir)
      .as[(Long, Long, Long, Long)].collect().toSeq
    // mirror: the SAME support-floored pair body, then the SAME
    // 3-iteration scaled-integer walk in plain Long arithmetic —
    // Spark's `div` and Scala's `/` agree on non-negative Longs
    val items = Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_partkey").distinct()
      .as[(Long, Long)].collect()
    val support = items.groupBy(_._1).values.toSeq
      .map(_.map(_._2).sorted.toSeq)
      .flatMap(ps => for (a <- ps; b <- ps if a < b) yield (a, b))
      .groupBy(identity).view.mapValues(_.size.toLong).filter(_._2 >= 2)
    val edges = support.toSeq.flatMap { case ((a, b), w) =>
      Seq((a, b, w), (b, a, w)) }
    val wtot = edges.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val deg = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val n = wtot.size.toLong
    val scale = 1000000000000L
    val base = scale / n
    var rank: Map[Long, Long] = wtot.keys.map(_ -> base).toMap
    for (_ <- 1 to 3) {
      val cin = edges.groupBy(_._2).view.mapValues(
        _.map { case (src, _, w) => rank(src) * w / wtot(src) }.sum).toMap
      rank = wtot.keys.map(p =>
        p -> (base * 15 / 100 + 85 * cin.getOrElse(p, 0L) / 100)).toMap
    }
    val expected = rank.toSeq.map { case (p, r) => (p, r, deg(p), wtot(p)) }
      .sortBy(t => (-t._2, t._1)).take(50)
    assert(got == expected, "q51 != Long-arithmetic PageRank mirror")
    // laws: ranks positive, total mass cannot exceed the fixed-point
    // scale (integer division only sheds mass), and the corpus must
    // exercise genuine rank separation (not a uniform vector)
    assert(got.forall(_._2 > 0), "non-positive rank")
    assert(rank.values.sum <= scale, "mass exceeds the fixed-point scale")
    assert(got.map(_._2).distinct.size > 1, "rank vector degenerate")
  }

  test("q52 profile equals an in-memory mirror over the raw events") {
    val got = SparkEntry.queries("q52_profile")(spark, sfDir)
      .as[ProfRow].collect().toSeq
    val ev = Tables.events(spark, sfDir)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .collect()
    def micros(t: java.sql.Timestamp): Long =
      t.getTime / 1000 * 1000000 + t.getNanos / 1000
    def r4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val stacked = ev.toSeq.flatMap { r =>
      def num(n: String, v: Option[Double]) = (n, v, None: Option[String])
      def str(n: String, v: Option[String]) = (n, None: Option[Double], v)
      Seq(
        num("event_id", if (r.isNullAt(0)) None else Some(r.getLong(0).toDouble)),
        num("ts", if (r.isNullAt(1)) None else Some(micros(r.getTimestamp(1)).toDouble)),
        num("user_id", if (r.isNullAt(2)) None else Some(r.getLong(2).toDouble)),
        num("value", if (r.isNullAt(4)) None else Some(r.getDouble(4))),
        str("event_type", Option(r.getString(3))),
        str("props", Option(r.getString(5))))
    }
    val expected = stacked.groupBy(_._1).toSeq.map { case (cn, xs) =>
      val nums = xs.flatMap(_._2); val strs = xs.flatMap(_._3)
      ProfRow(cn, xs.size.toLong,
        xs.count(x => x._2.isEmpty && x._3.isEmpty).toLong,
        (nums.distinct.size + strs.distinct.size).toLong,
        if (nums.isEmpty) None else Some(r4(nums.min)),
        if (nums.isEmpty) None else Some(r4(nums.max)),
        if (strs.isEmpty) None else Some(strs.map(_.length).min),
        if (strs.isEmpty) None else Some(strs.map(_.length).max))
    }.sortBy(_.col_name)
    assert(got == expected, "q52 != in-memory profile mirror")
    assert(got.size == 6 && got.forall(_.cnt > 0), "profile degenerate")
    // both slots must be exercised: numeric columns carry extrema and
    // no lengths, string columns the reverse
    assert(got.exists(r => r.min_num.isDefined && r.min_len.isEmpty),
      "no numeric column")
    assert(got.exists(r => r.min_num.isEmpty && r.min_len.isDefined),
      "no string column")
  }

  test("q52b: the HLL NDV leg shares q52's universe and JVM register mirror, error in-band") {
    val got = SparkEntry.queries("q52b_hll_ndv")(spark, sfDir)
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got.size == 6, "one row per profiled column")
    // the exact leg IS q52's ndv column — the instrument is shared,
    // not a twin
    val q52Ndv = SparkEntry.queries("q52_profile")(spark, sfDir)
      .select("col_name", "ndv").as[(String, Long)].collect().toMap
    got.foreach { case (cn, ndv, _, _, _, _) =>
      assert(ndv == q52Ndv(cn), s"$cn: q52b exact leg $ndv != q52 ndv") }
    // JVM register mirror: rebuild every (col, j, max-rho) from the
    // canonicalized values through MessageDigest — the sketch state
    // is pinned by a third implementation (the q56 stance)
    val ev = Tables.events(spark, sfDir)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .collect()
    def micros(t: java.sql.Timestamp): Long =
      t.getTime / 1000 * 1000000 + t.getNanos / 1000
    val keys = ev.toSeq.flatMap { r =>
      def f6(d: Double) = // Locale.ROOT: Spark's format_string is locale-fixed; the mirror must be too
        "n:" + String.format(java.util.Locale.ROOT, "%.6f", Double.box(d))
      Seq(
        if (r.isNullAt(0)) None else Some("event_id" -> f6(r.getLong(0).toDouble)),
        if (r.isNullAt(1)) None else Some("ts" -> f6(micros(r.getTimestamp(1)).toDouble)),
        if (r.isNullAt(2)) None else Some("user_id" -> f6(r.getLong(2).toDouble)),
        if (r.isNullAt(4)) None else Some("value" -> f6(r.getDouble(4))),
        Option(r.getString(3)).map(v => "event_type" -> ("s:" + v)),
        Option(r.getString(5)).map(v => "props" -> ("s:" + v))).flatten
    }
    val md = java.security.MessageDigest.getInstance("MD5")
    def h60(s: String): Long = {
      val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16)
    }
    val mirror = keys.map { case (cn, k) =>
      val h = h60(k)
      ((cn, h % 256), if (h / 256 == 0) 53 else 53 - java.lang.Long.toBinaryString(h / 256).length)
    }.groupBy(_._1).map { case (k, xs) => (k, xs.map(_._2).max) }
    val regs = graft.operators.Relational.q52bRho(
        graft.operators.Relational.q52Stacked(Tables.events(spark, sfDir)))
      .groupBy("col_name", "j").agg(max("rho").as("m"))
      .as[(String, Long, Int)].collect()
      .map { case (cn, j, m) => ((cn, j), m) }.toMap
    assert(regs == mirror, "register table != JVM MessageDigest mirror")
    // in-band honesty: the HLL-256 error stays inside the spec band
    // on the gate corpus (measured max 842 bp at sf0.01, 720 here)
    got.foreach { case (cn, _, _, _, e4, bp) =>
      assert(e4 > 0, s"$cn: estimate must be positive")
      assert(bp <= 1500, s"$cn: err_bp $bp exceeds the 1500 bp contract") }
  }

  test("q53 communities equal a union-find mirror; partition and min-label laws hold") {
    val got = SparkEntry.queries("q53_communities")(spark, sfDir)
      .as[(Long, Long, Long, Long)].collect().toSeq
    // mirror: the SAME support-floored pair body (the q46/q51 mirror
    // idiom), closed with plain union-find, min member as the label
    val items = Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_partkey").distinct()
      .as[(Long, Long)].collect()
    val support = items.groupBy(_._1).values.toSeq
      .map(_.map(_._2).sorted.toSeq)
      .flatMap(ps => for (a <- ps; b <- ps if a < b) yield (a, b))
      .groupBy(identity).view.mapValues(_.size.toLong).filter(_._2 >= 2).toMap
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    support.keys.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val label = parent.keys.map(v => v -> find(v)).toMap
    val expected = label.groupBy(_._2).map { case (c, vs) =>
      val edges = support.keys.count { case (a, _) => label(a) == c }
      val sup = support.collect { case ((a, _), w) if label(a) == c => w }.sum
      (c, vs.size.toLong, edges.toLong, sup)
    }.toSeq.sortBy(t => (-t._2, t._1))
    assert(got == expected, "q53 != union-find mirror")
    // laws: components partition the vertex set and the edge set
    // exactly, and every label is its component's minimum member
    assert(got.map(_._2).sum == label.size, "sizes must partition vertices")
    assert(got.map(_._3).sum == support.size, "edges must partition pairs")
    assert(got.map(_._4).sum == support.values.sum, "support mass conserved")
    got.foreach { case (c, _, _, _) =>
      assert(label(c) == c, s"label $c not the min member of its component") }
    // sf0.001's basket graph closes into ONE giant family (the
    // multi-component shape is exercised by the sf0.01 oracle, 9
    // rows) — the law here is that the family is genuinely large
    assert(got.nonEmpty && got.map(_._2).max >= 10,
      "corpus must exercise a large connected family")
  }

  test("q54 similar parts equal a Long-arithmetic Jaccard mirror; rank and symmetry laws hold") {
    val got = SparkEntry.queries("q54_similar_parts")(spark, sfDir)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    val items = Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_partkey").distinct()
      .as[(Long, Long)].collect()
    val support = items.groupBy(_._1).values.toSeq
      .map(_.map(_._2).sorted.toSeq)
      .flatMap(ps => for (a <- ps; b <- ps if a < b) yield (a, b))
      .groupBy(identity).view.mapValues(_.size.toLong).filter(_._2 >= 2).toMap
    val partOrders = items.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val directed = support.toSeq.flatMap { case ((a, b), w) =>
      Seq((a, b, w), (b, a, w)) }
    val expected = directed
      .map { case (p, r, w) =>
        (p, r, w, w * 10000L / (partOrders(p) + partOrders(r) - w)) }
      .groupBy(_._1).toSeq.flatMap { case (_, es) =>
        es.sortBy(e => (-e._4, -e._3, e._2)).take(5).zipWithIndex
          .map { case ((p, r, w, j), i) => (p, r, w, j, i + 1L) }
      }.sortBy(t => (t._1, t._5))
    assert(got == expected, "q54 != Jaccard mirror")
    // laws: scores are genuine basis points, ranks are a clean
    // per-part 1..k prefix, no self-recommendation, and Jaccard is
    // SYMMETRIC (a's score for b == b's score for a wherever both
    // directions survive the top-5 cut)
    assert(got.forall(t => t._4 > 0 && t._4 <= 10000), "bp out of range")
    assert(got.forall(t => t._1 != t._2), "self-recommendation")
    got.groupBy(_._1).values.foreach { rs =>
      assert(rs.map(_._5).sorted == (1L to rs.size).toSeq, "rank gap") }
    val score = got.map(t => (t._1, t._2) -> t._4).toMap
    score.foreach { case ((a, b), s) =>
      score.get((b, a)).foreach(s2 => assert(s2 == s, "asymmetric Jaccard")) }
  }

  test("q55 attribution equals an in-memory replay mirror; per-model mass is conserved") {
    val got = SparkEntry.queries("q55_attribution")(spark, sfDir)
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    val ev = Tables.events(spark, sfDir)
      .select("event_id", "ts", "user_id", "event_type")
      .as[(Long, java.sql.Timestamp, Long, String)].collect()
    def micros(t: java.sql.Timestamp): Long =
      t.getTime / 1000 * 1000000 + t.getNanos / 1000
    val week = 7L * 24 * 3600 * 1000000
    val touchesByUser = ev.filter(e => Set("view", "click", "signup")(e._4))
      .groupBy(_._3).view.mapValues(_.toSeq).toMap
    // per conversion: the windowed touch list sorted (ts, id), then
    // the three credit vectors exactly as specified
    val credited = ev.filter(_._4 == "purchase").toSeq.flatMap { c =>
      val ct = micros(c._2)
      val ts = touchesByUser.getOrElse(c._3, Seq.empty)
        .filter(t => micros(t._2) <= ct && micros(t._2) > ct - week)
        .sortBy(t => (micros(t._2), t._1))
      if (ts.isEmpty) Seq((c._1, "direct", None: Option[Long], 10000L, 10000L, 10000L))
      else {
        val k = ts.size.toLong
        ts.zipWithIndex.map { case (t, i) =>
          val first = if (i == 0) 10000L else 0L
          val last = if (i == ts.size - 1) 10000L else 0L
          val lin = 10000L / k + (if (i == 0) 10000L - k * (10000L / k) else 0L)
          (c._1, t._4, Some(t._1), first, last, lin)
        }
      }
    }
    val expected = credited.groupBy(_._2).map { case (ch, rs) =>
      (ch, rs.map(_._1).distinct.size.toLong, rs.count(_._3.isDefined).toLong,
        rs.map(_._4).sum, rs.map(_._5).sum, rs.map(_._6).sum)
    }.toSeq.sortBy(_._1)
    assert(got == expected, "q55 != replay mirror")
    // mass conservation: every model distributes EXACTLY 10000 bp
    // per conversion — the integer remainder handling is the point
    val nConv = ev.count(_._4 == "purchase") * 10000L
    assert(got.map(_._4).sum == nConv, "first-touch mass leaked")
    assert(got.map(_._5).sum == nConv, "last-touch mass leaked")
    assert(got.map(_._6).sum == nConv, "linear mass leaked")
    // the corpus must exercise both attributed and direct conversions
    assert(got.exists(_._1 == "direct") && got.size >= 3,
      "corpus must exercise direct and multi-channel attribution")
  }

  test("q56 A/B readout equals a JVM-md5 mirror; assignment is total and outcome non-degenerate") {
    val got = SparkEntry.queries("q56_ab_test")(spark, sfDir)
      .as[(Long, Long, Long, Long, Long, Long, Long, Double)].collect().toSeq
    assert(got.size == 1)
    val (aU, bU, aC, bC, aBp, bBp, lift, z) = got.head
    val ev = Tables.events(spark, sfDir)
      .select("user_id", "event_type", "value")
      .as[(Long, String, Option[Double])].collect()
    // mirror the house hash: first 15 hex chars of md5(user_id) as a
    // 60-bit Long, arm by parity — the same pure function all three
    // engines (Spark, DuckDB, JVM) must agree on
    def arm(u: Long): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(u.toString.getBytes("UTF-8"))
      val hex = d.map("%02x".format(_)).mkString.take(15)
      if (java.lang.Long.parseLong(hex, 16) % 2 == 0) "A" else "B"
    }
    val per = ev.groupBy(_._1).toSeq.map { case (u, es) =>
      (arm(u), es.exists(e => e._2 == "purchase" && e._3.exists(_ > 100)))
    }
    val (eaU, ebU) = (per.count(_._1 == "A").toLong, per.count(_._1 == "B").toLong)
    val (eaC, ebC) = (per.count(p => p._1 == "A" && p._2).toLong,
      per.count(p => p._1 == "B" && p._2).toLong)
    assert((aU, bU, aC, bC) == ((eaU, ebU, eaC, ebC)), "q56 counts != md5 mirror")
    assert(aBp == eaC * 10000 / eaU && bBp == ebC * 10000 / ebU, "bp mismatch")
    assert(lift == bBp - aBp, "lift mismatch")
    val p = (eaC + ebC).toDouble / (eaU + ebU)
    val ez = BigDecimal((ebC.toDouble / ebU - eaC.toDouble / eaU) /
        math.sqrt(p * (1 - p) * (1.0 / eaU + 1.0 / ebU)))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(z == ez, s"z mismatch: $z vs $ez")
    // laws: assignment partitions ALL users, both arms populated,
    // and the outcome is non-degenerate in both arms (else the z
    // denominator is 0 and the readout is meaningless)
    assert(aU + bU == ev.map(_._1).distinct.length.toLong, "users leaked")
    assert(aU > 0 && bU > 0, "an arm is empty")
    assert(aC > 0 && aC < aU && bC > 0 && bC < bU, "degenerate outcome")
  }

  test("q57 anomaly profile equals an in-memory median/MAD mirror; flag law holds") {
    val got = SparkEntry.queries("q57_anomaly")(spark, sfDir)
      .as[(java.sql.Date, Long, Double, Double, Double, Boolean)].collect().toSeq
    val ev = Tables.events(spark, sfDir)
      .select(col("ts").cast("date"), col("event_type"))
      .as[(java.sql.Date, String)].collect()
    val daily = ev.filter(_._2 == "purchase").groupBy(_._1).view
      .mapValues(_.length.toLong).toSeq.sortBy(_._1.getTime)
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
    }
    val med = median(daily.map(_._2.toDouble))
    val mad = median(daily.map(d => math.abs(d._2 - med)))
    def r4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expected = daily.map { case (day, n) =>
      val z = if (mad == 0.0) 0.0 else r4((n - med) / (1.4826 * mad))
      (day, n, med, mad, z, math.abs(z) >= 3.5)
    }
    assert(got == expected, "q57 != median/MAD mirror")
    // laws: the flag is exactly the |z| >= 3.5 rule, the series is
    // the full day range, and the baseline is genuinely robust
    // (median inside the count range)
    assert(got.forall(r => r._6 == (math.abs(r._5) >= 3.5)), "flag law")
    assert(med >= daily.map(_._2).min && med <= daily.map(_._2).max)
    assert(got.map(_._2).sum == ev.count(_._2 == "purchase"), "counts leak")
  }

  test("q58 PIT features equal an in-memory replay mirror; the leakage guard provably bites") {
    val got = SparkEntry.queries("q58_pit_features")(spark, sfDir)
      .as[(Long, Long, java.sql.Timestamp, Long, Long, Long, Long, Long)]
      .collect().toSeq
    val ev = Tables.events(spark, sfDir)
      .select("event_id", "ts", "user_id", "event_type")
      .as[(Long, java.sql.Timestamp, Long, String)].collect()
    def micros(t: java.sql.Timestamp): Long =
      t.getTime / 1000 * 1000000 + t.getNanos / 1000
    val week = 7L * 24 * 3600 * 1000000L
    val day = 24L * 3600 * 1000000L
    val byUser = ev.groupBy(_._3)
    def count(u: Long, lo: Long, hi: Long, tpe: Option[String]): Long =
      byUser(u).count(e => micros(e._2) >= lo && micros(e._2) <= hi &&
        tpe.forall(_ == e._4)).toLong
    val expected = ev.filter(_._4 == "purchase").toSeq.map { p =>
      val us = micros(p._2)
      val first = byUser(p._3).map(e => micros(e._2)).min
      (p._1, p._3, p._2,
        count(p._3, us - week, us - 1, Some("view")),
        count(p._3, us - week, us - 1, Some("click")),
        count(p._3, us - week, us - 1, Some("purchase")),
        count(p._3, us - day, us - 1, None),
        (us - first) / day)
    }.sortBy(_._1)
    assert(got == expected, "q58 != replay mirror")
    // bijection with the label set, and non-negative tenure
    assert(got.size == ev.count(_._4 == "purchase") &&
      got.map(_._1).distinct.size == got.size, "not 1:1 with purchases")
    assert(got.forall(_._8 >= 0), "negative tenure")
    // the strict-past guard must BITE: an inclusive frame would
    // differ (at minimum the purchase would count itself)
    val inclusive = ev.filter(_._4 == "purchase").toSeq.map { p =>
      val us = micros(p._2)
      count(p._3, us - week, us, Some("purchase"))
    }
    assert(expected.map(_._6) != inclusive,
      "inclusive and strict frames agree — the leakage guard is untested")
  }

  test("q59 PSI drift equals an in-memory frozen-decile mirror; partition and smoothing laws hold") {
    val got = SparkEntry.queries("q59_psi_drift")(spark, sfDir)
      .as[(Long, Long, Long, Double, Double)].collect().toSeq
    val ev = Tables.events(spark, sfDir)
      .select("ts", "event_type", "value")
      .as[(java.sql.Timestamp, String, Double)].collect()
    val cut = java.sql.Timestamp.valueOf("2024-01-16 00:00:00")
    val pur = ev.filter(_._2 == "purchase")
    val ref = pur.filter(_._1.before(cut)).map(_._3).toSeq
    val cur = pur.filterNot(_._1.before(cut)).map(_._3).toSeq
    // Spark percentile / DuckDB quantile_cont: linear interpolation
    // at rank p·(n−1) over the sorted sample
    val sortedRef = ref.sorted
    def pct(p: Double): Double = {
      val idx = p * (sortedRef.size - 1)
      val lo = math.floor(idx).toInt
      val hi = math.ceil(idx).toInt
      sortedRef(lo) + (idx - lo) * (sortedRef(hi) - sortedRef(lo))
    }
    val edges = (1 to 9).map(i => pct(i / 10.0))
    def bin(v: Double): Long = 1L + edges.count(v > _)
    val refN = ref.groupBy(bin).view.mapValues(_.size.toLong).toMap
    val curN = cur.groupBy(bin).view.mapValues(_.size.toLong).toMap
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val binsAll = (refN.keySet ++ curN.keySet).toSeq.sorted
    val raws = binsAll.map { b =>
      val p = (refN.getOrElse(b, 0L) + 1).toDouble / (ref.size + 10)
      val q = (curN.getOrElse(b, 0L) + 1).toDouble / (cur.size + 10)
      (q - p) * math.log(q / p)
    }
    val psi = r6(raws.sum)
    val expected = binsAll.zip(raws).map { case (b, raw) =>
      (b, refN.getOrElse(b, 0L), curN.getOrElse(b, 0L), r6(raw), psi) }
    assert(got == expected, "q59 != frozen-decile mirror")
    // laws: the bins PARTITION both windows exactly, all ten
    // reference bins are populated (equal-frequency edges), and the
    // smoothing keeps every contribution finite
    assert(got.map(_._2).sum == ref.size && got.map(_._3).sum == cur.size,
      "bin counts must partition the windows")
    assert(got.size == 10 && got.forall(_._2 > 0), "reference bin empty")
    assert(got.forall(r => !r._4.isNaN && !r._4.isInfinite), "non-finite PSI")
  }

  test("q60 supplier scorecard equals an in-memory mirror; rank and coverage laws hold") {
    val got = SparkEntry.queries("q60_supplier_scorecard")(spark, sfDir)
      .as[(Long, String, String, Long, Long, Long, Long, Long, Long)]
      .collect().toSeq
    val li = Tables.lineitem(spark, sfDir)
      .select("l_suppkey", "l_partkey", "l_returnflag", "l_extendedprice",
        "l_discount")
      .as[(Long, Long, String, Double, Double)].collect()
    val sup = Tables.supplier(spark, sfDir)
      .select("s_suppkey", "s_name", "s_nationkey")
      .as[(Long, String, Int)].collect()
    val nat = Tables.nation(spark, sfDir).select("n_nationkey", "n_name")
      .as[(Int, String)].collect().toMap
    // per-LINE cents then an exact integer sum — the mirror must be
    // as order-independent as the operator claims to be
    def cents(price: Double, disc: Double): Long =
      BigDecimal(price * (1.0 - disc) * 100)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val per = li.groupBy(_._1).view.mapValues { ls =>
      (ls.length.toLong, ls.map(_._2).distinct.length.toLong,
        ls.count(_._3 == "R").toLong,
        ls.map(l => cents(l._4, l._5)).sum)
    }.toMap
    val rows = sup.toSeq.flatMap { case (k, name, nk) =>
      per.get(k).map { case (lines, parts, rets, rev) =>
        (k, name, nat(nk), lines, parts, rets, rets * 10000 / lines, rev) }
    }
    val ranked = rows.groupBy(_._3).values.flatMap { ns =>
      ns.sortBy(r => (-r._8, r._1)).zipWithIndex.map { case (r, i) =>
        (r._1, r._2, r._3, r._4, r._5, r._6, r._7, r._8, i + 1L) }
    }.toSeq.sortBy(_._1)
    assert(got == ranked, "q60 != in-memory scorecard mirror")
    // laws: every supplier with shipped lines appears exactly once,
    // per-nation ranks are clean 1..k prefixes, bp within range
    assert(got.map(_._1).distinct.size == got.size &&
      got.size == per.size, "supplier coverage")
    got.groupBy(_._3).values.foreach { ns =>
      assert(ns.map(_._9).sorted == (1L to ns.size).toSeq, "rank gap") }
    assert(got.forall(r => r._7 >= 0 && r._7 <= 10000), "bp range")
  }

  test("q61 histograms equal an in-memory mirror; bins conserve counts and cover values") {
    val got = SparkEntry.queries("q61_histogram")(spark, sfDir)
      .as[(String, Long, Double, Double, Long)].collect().toSeq
    val ev = Tables.events(spark, sfDir)
      .select("event_id", "ts", "user_id", "value")
      .as[(Option[Long], Option[java.sql.Timestamp], Option[Long], Option[Double])]
      .collect()
    def micros(t: java.sql.Timestamp): Long =
      t.getTime / 1000 * 1000000 + t.getNanos / 1000
    val nums: Seq[(String, Double)] = ev.toSeq.flatMap { r =>
      r._1.map(v => ("event_id", v.toDouble)) ++
        r._2.map(t => ("ts", micros(t).toDouble)) ++
        r._3.map(v => ("user_id", v.toDouble)) ++
        r._4.map(v => ("value", v))
    }
    val expected = nums.groupBy(_._1).toSeq.flatMap { case (cn, vs) =>
      val (mn, mx) = (vs.map(_._2).min, vs.map(_._2).max)
      def bin(v: Double): Long =
        if (mx == mn) 0L
        else math.min(9L, math.floor((v - mn) * 10 / (mx - mn)).toLong)
      vs.groupBy(v => bin(v._2)).toSeq.map { case (b, bs) =>
        (cn, b, mn + b * (mx - mn) / 10, mn + (b + 1) * (mx - mn) / 10,
          bs.size.toLong) }
    }.sortBy(t => (t._1, t._2))
    assert(got == expected, "q61 != in-memory histogram mirror")
    // laws: per column the bins conserve the non-null count, stay in
    // 0..9, edges tile min..max in order, and all four numeric
    // columns are profiled
    assert(got.map(_._1).distinct.sorted ==
      Seq("event_id", "ts", "user_id", "value"), "column set")
    got.groupBy(_._1).foreach { case (cn, bs) =>
      assert(bs.map(_._5).sum == nums.count(_._1 == cn), s"$cn count leak")
      assert(bs.forall(b => b._2 >= 0 && b._2 <= 9), s"$cn bin range")
      assert(bs.sortBy(_._2).sliding(2).forall(p =>
        p.size < 2 || p(0)._4 <= p(1)._3 + 1e-9), s"$cn edges out of order")
    }
  }

  test("q62 gap fill equals a sequential replay mirror; fill and staleness laws hold") {
    val got = SparkEntry.queries("q62_gap_fill")(spark, sfDir)
      .as[(java.sql.Date, Long, Long, Long, Long)].collect().toSeq
    val ord = Tables.orders(spark, sfDir)
      .select(to_date(col("o_orderdate")).as("d"), col("o_totalprice"))
      .as[(java.sql.Date, Double)].collect()
    def cents(p: Double): Long =
      BigDecimal(p * 100).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val daily = ord.groupBy(_._1).view.mapValues(os =>
      (os.length.toLong, os.map(o => cents(o._2)).sum)).toMap
    val days = Iterator.iterate(ord.map(_._1).min.toLocalDate)(_.plusDays(1))
      .takeWhile(!_.isAfter(ord.map(_._1).max.toLocalDate)).toSeq
    // the sequential replay the window expresses declaratively
    var ff = 0L; var lastObs = days.head
    val expected = days.map { d =>
      val sd = java.sql.Date.valueOf(d)
      val obs = daily.get(sd)
      obs.foreach { o => ff = o._2; lastObs = d }
      (sd, obs.map(_._1).getOrElse(0L), obs.map(_._2).getOrElse(0L), ff,
        java.time.temporal.ChronoUnit.DAYS.between(lastObs, d))
    }
    assert(got == expected, "q62 != sequential replay mirror")
    // laws: the corpus exercises real gaps, observed days are fresh,
    // silent days carry the last observed value, orders conserve
    assert(got.exists(_._5 > 0), "no gap exercised")
    got.foreach { r =>
      if (r._2 > 0) assert(r._5 == 0L, "observed day marked stale")
      else assert(r._3 == 0L, "silent day has revenue") }
    assert(got.map(_._2).sum == ord.length.toLong, "order count leaked")
  }

  test("q63 Benford audit equals an in-memory mirror; digit partition and expectation laws hold") {
    val got = SparkEntry.queries("q63_benford")(spark, sfDir)
      .as[(Long, Long, Long, Long, Double, Double)].collect().toSeq
    val prices = Tables.orders(spark, sfDir)
      .select("o_totalprice").as[Double].collect().filter(_ > 0)
    def digit(p: Double): Long = math.floor(p).toLong.toString.head.asDigit.toLong
    val counts = prices.groupBy(digit).view.mapValues(_.length.toLong).toMap
    val total = prices.length.toLong
    def r4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    def r0(x: Double) =
      BigDecimal(x).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val terms = counts.toSeq.sortBy(_._1).map { case (d, n) =>
      val p = math.log10(1.0 + 1.0 / d)
      (d, n, p, (n - total * p) * (n - total * p) / (total * p))
    }
    val chi2 = r4(terms.map(_._4).sum)
    val expected = terms.map { case (d, n, p, t) =>
      (d, n, r0(p * 1000000), n * 1000000 / total, r4(t), chi2) }
    assert(got == expected, "q63 != Benford mirror")
    // laws: digits partition the positive amounts, expectations sum
    // to ~1e6 ppm, and the statistic is finite and non-negative
    assert(got.map(_._2).sum == total, "digit counts leak")
    assert(got.forall(r => r._1 >= 1 && r._1 <= 9), "digit range")
    assert(math.abs(got.map(_._3).sum - 1000000L) <= 2, "expectations drift")
    assert(got.forall(r => r._5 >= 0 && !r._6.isNaN), "bad statistic")
  }

  test("q64 market share equals an in-memory mirror; mass conservation and OTHER laws hold") {
    val got = SparkEntry.queries("q64_market_share")(spark, sfDir)
      .as[(Long, String, Long, Long, Long)].collect().toSeq
    val ord = Tables.orders(spark, sfDir)
      .select(year(col("o_orderdate")).as("yr"), col("o_custkey"),
        col("o_totalprice"))
      .as[(Int, Long, Double)].collect()
    val seg = Tables.customer(spark, sfDir).select("c_custkey", "c_mktsegment")
      .as[(Long, String)].collect().toMap
    def cents(p: Double): Long =
      BigDecimal(p * 100).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val per = ord.groupBy(o => (o._1.toLong, seg(o._2))).view.mapValues(os =>
      (os.length.toLong, os.map(o => cents(o._3)).sum)).toSeq
    val expected = per.groupBy(_._1._1).toSeq.flatMap { case (yr, ss) =>
      val ranked = ss.sortBy { case ((_, sg), (_, c)) => (-c, sg) }.zipWithIndex
      val bucketed = ranked.map { case (((_, sg), (n, c)), i) =>
        (if (i < 3) sg else "OTHER", n, c) }
        .groupBy(_._1).view.mapValues(bs =>
          (bs.map(_._2).sum, bs.map(_._3).sum)).toSeq
      val yearCents = bucketed.map(_._2._2).sum
      bucketed.map { case (sg, (n, c)) =>
        (yr, sg, n, c, c * 10000 / yearCents) }
    }.sortBy(t => (t._1, -t._4, t._2))
    assert(got == expected, "q64 != in-memory mirror")
    // laws: per year, orders and cents conserve through the OTHER
    // collapse, shares telescope to <= 10000 (integer div sheds),
    // at most 4 rows per year, and OTHER is genuinely exercised
    val byYr = got.groupBy(_._1)
    byYr.foreach { case (yr, rs) =>
      assert(rs.size <= 4, s"$yr has ${rs.size} rows")
      assert(rs.map(_._5).sum <= 10000, s"$yr shares exceed the year")
      assert(rs.map(_._3).sum == ord.count(_._1.toLong == yr), s"$yr order leak")
    }
    assert(got.exists(_._2 == "OTHER"), "OTHER never exercised")
  }

  test("q65 Kaplan-Meier equals an in-memory replay mirror; monotonicity and censoring laws hold") {
    val got = SparkEntry.queries("q65_survival")(spark, sfDir)
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
    val ord = Tables.orders(spark, sfDir)
      .select(col("o_custkey"), to_date(col("o_orderdate")).as("d"))
      .as[(Long, java.sql.Date)].collect()
    val dmax = ord.map(_._2.toLocalDate).max(Ordering.by[java.time.LocalDate, Long](_.toEpochDay))
    def days(a: java.time.LocalDate, b: java.time.LocalDate): Long =
      java.time.temporal.ChronoUnit.DAYS.between(a, b)
    val subj = ord.groupBy(_._1).values.toSeq.map { os =>
      val ds = os.map(_._2.toLocalDate).sortBy(_.toEpochDay)
      if (ds.size >= 2) (days(ds(0), ds(1)), 1L)
      else (days(ds(0), dmax), 0L)
    }
    val n = subj.size.toLong
    val byDur = subj.groupBy(_._1).view.mapValues(ss =>
      (ss.count(_._2 == 1L).toLong, ss.count(_._2 == 0L).toLong,
        ss.size.toLong)).toSeq.sortBy(_._1)
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    var cumBefore = 0L; var logSum = 0.0; var dead = false
    val expected = byDur.flatMap { case (dur, (d, c, at)) =>
      val nRisk = n - cumBefore
      cumBefore += at
      if (d == 0) None
      else {
        if (d == nRisk) dead = true
        else logSum += math.log(1.0 - d.toDouble / nRisk)
        Some((dur, nRisk, d, c, if (dead) 0.0 else r6(math.exp(logSum))))
      }
    }
    assert(got == expected, "q65 != KM replay mirror")
    // laws: survival starts < 1 and never increases, n_risk strictly
    // decreases, the first risk set is EVERY ordering customer, and
    // the censored mass is exactly the single-order customers
    assert(got.head._2 == n, "first risk set != all subjects")
    got.sliding(2).foreach { p => if (p.size == 2) {
      assert(p(1)._5 <= p(0)._5 + 1e-12, "survival increased")
      assert(p(1)._2 < p(0)._2, "risk set did not shrink") } }
    assert(got.forall(r => r._5 >= 0.0 && r._5 <= 1.0), "survival range")
    val singleOrderCustomers = ord.groupBy(_._1).count(_._2.size == 1).toLong
    assert(byDur.map(_._2._2).sum == singleOrderCustomers,
      "censored mass != single-order customers")
  }

  test("q66 cohort LTV equals an in-memory mirror; conservation and monotonicity laws hold") {
    val got = SparkEntry.queries("q66_cohort_ltv")(spark, sfDir)
      .as[(String, Long, Long, Long, Long, Long, Long)].collect().toSeq
    val ord = Tables.orders(spark, sfDir)
      .select(col("o_custkey"),
        expr("year(o_orderdate) * 12 + month(o_orderdate) - 1"),
        col("o_totalprice"))
      .as[(Long, Int, Double)].collect()
    def cents(p: Double): Long =
      BigDecimal(p * 100).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val firstM = ord.groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
    val cells = ord.groupBy(o => (firstM(o._1), o._2 - firstM(o._1)))
      .view.mapValues(os => (os.length.toLong, os.map(o => cents(o._3)).sum))
      .toSeq
    val sizes = firstM.values.groupBy(identity).view.mapValues(_.size.toLong).toMap
    def name(m: Int) = f"${m / 12}-${m % 12 + 1}%02d"
    val expected = cells.groupBy(_._1._1).toSeq.flatMap { case (cm, cs) =>
      var cum = 0L
      cs.sortBy(_._1._2).map { case ((_, age), (n, c)) =>
        cum += c
        (name(cm), age.toLong, sizes(cm), n, c, cum, cum / sizes(cm))
      }
    }.sortBy(t => (t._1, t._2))
    assert(got == expected, "q66 != in-memory LTV mirror")
    // laws: every order lands in exactly one cell, cohort sizes
    // partition the customers, cum_cents is non-decreasing per
    // cohort, and age 0 exists for every cohort (the first order
    // IS the cohort definition)
    assert(got.map(_._4).sum == ord.length.toLong, "orders leak")
    assert(sizes.values.sum == firstM.size.toLong)
    got.groupBy(_._1).values.foreach { rs =>
      val s = rs.sortBy(_._2)
      assert(s.head._2 == 0L, "cohort missing age 0")
      s.sliding(2).foreach { p => if (p.size == 2)
        assert(p(1)._6 >= p(0)._6, "cum_cents decreased") }
    }
  }

  test("q67 ABC Pareto equals a sequential mirror; class ordering and mass laws hold") {
    val got = SparkEntry.queries("q67_abc_pareto")(spark, sfDir)
      .as[(Long, Long, Long, Long, String)].collect().toSeq
    val li = Tables.lineitem(spark, sfDir)
      .select("l_partkey", "l_extendedprice", "l_discount")
      .as[(Long, Double, Double)].collect()
    def cents(p: Double, d: Double): Long =
      BigDecimal(p * (1.0 - d) * 100)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val per = li.groupBy(_._1).view
      .mapValues(_.map(l => cents(l._2, l._3)).sum).toSeq
    val total = per.map(_._2).sum
    var cum = 0L
    val expected = per.sortBy { case (p, c) => (-c, p) }.map { case (p, c) =>
      cum += c
      val bp = cum * 10000 / total
      (p, c, cum, bp, if (bp <= 8000) "A" else if (bp <= 9500) "B" else "C")
    }
    assert(got == expected, "q67 != sequential Pareto mirror")
    // laws: the two-level cumsum lands exactly on the grand total,
    // classes are a contiguous A..B..C prefix ordering, all three
    // classes are populated, and class A's MASS respects the 8000bp
    // cut. (This synthetic corpus's per-part revenue is near-
    // uniform, so A is ~80% of parts too — the real-world "A is a
    // small minority" shape is a data property, not an operator
    // law, and is deliberately not asserted.)
    assert(got.last._3 == total, "cumsum misses the total")
    val classes = got.map(_._5)
    assert(classes == classes.sorted, "classes not contiguous in cum order")
    assert(Set("A", "B", "C").subsetOf(classes.toSet), "a class is empty")
    val aMass = got.filter(_._5 == "A").map(_._2).sum
    assert(aMass * 10000 / total <= 8000, "A mass exceeds its cut")
  }

  test("q47 PIT join: fact bijection and as-of-version correctness against a replay mirror") {
    val got = SparkEntry.queries("q47_pit_join")(spark, sfDir)
      .as[(Long, Long, java.sql.Timestamp, String, Int, Double)].collect().toSeq
    val ev = Tables.events(spark, sfDir)
      .select("user_id", "event_id", "ts", "event_type")
      .as[(Long, Long, java.sql.Timestamp, String)].collect()
    // bijection: every purchase fact appears exactly once
    val purchases = ev.filter(_._4 == "purchase")
    assert(got.size == purchases.length &&
      got.map(_._2).distinct.size == got.size,
      s"PIT join must be 1:1 with facts: ${got.size} vs ${purchases.length}")
    // as-of correctness: the joined attr_value must equal the state
    // of a sequential replay of the user's change log at fact time —
    // the last CHANGE event at or before ts (ties broken by event_id
    // like the dimension's window order)
    def micros(t: java.sql.Timestamp): Long =
      t.getTime / 1000 * 1000000 + t.getNanos / 1000
    val byUser = ev.groupBy(_._1).view.mapValues(
      _.sortBy(e => (micros(e._3), e._2)).toSeq).toMap
    got.foreach { case (u, eid, ts, attr, _, _) =>
      val log = byUser(u)
      var cur: String = null
      val changes = scala.collection.mutable.ListBuffer.empty[(Long, String)]
      log.foreach { e =>
        if (cur == null || cur != e._4) { changes += ((micros(e._3), e._4)); cur = e._4 }
      }
      val valid = changes.filter(c => c._1 <= micros(ts)).lastOption
      assert(valid.exists(_._2 == attr),
        s"user $u fact $eid at $ts: joined '$attr' != replay '${valid.map(_._2)}'")
    }
  }

  test("q44 funnel: re-anchoring, strict order, horizon, and no-view exclusion") {
    // user 1: purchase BEFORE the first view must not count, nor may
    //   the purchase that lands between view and click — only the
    //   purchase after the click witness converts (full depth).
    // user 2: click 25h after view — outside the 1-day horizon.
    // user 3: purchase 25h after its click witness — outside horizon.
    // user 4: click+purchase but NO view — never enters the funnel.
    // user 5: click at the exact view timestamp is NOT strictly
    //   after (skipped); the 1h click is the witness, so the 30m
    //   purchase precedes it and only the 2h purchase converts.
    val dir = java.nio.file.Files.createTempDirectory("graftfunnel").toString
    val h = 3600L * 1000000000L // 1h in nanos
    val t0 = 1704067200L * 1000000000L // 2024-01-01T00:00:00Z
    Seq(
      (1L, 1L, t0, "purchase"), (2L, 1L, t0 + h, "view"),
      (3L, 1L, t0 + 2 * h, "purchase"), (4L, 1L, t0 + 3 * h, "click"),
      (5L, 1L, t0 + 4 * h, "purchase"),
      (6L, 2L, t0, "view"), (7L, 2L, t0 + 25 * h, "click"),
      (8L, 3L, t0, "view"), (9L, 3L, t0 + h, "click"),
      (10L, 3L, t0 + 26 * h, "purchase"),
      (11L, 4L, t0, "click"), (12L, 4L, t0 + h, "purchase"),
      (13L, 5L, t0, "view"), (14L, 5L, t0, "click"),
      (15L, 5L, t0 + h, "click"), (16L, 5L, t0 + h / 2, "purchase"),
      (17L, 5L, t0 + 2 * h, "purchase"))
      .toDF("event_id", "user_id", "ts", "event_type")
      .withColumn("value", lit(1.0)).withColumn("props", lit("{}"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = SparkEntry.queries("q44_funnel")(spark, dir)
      .as[(Int, String, Long, Double)].collect().toSeq
    assert(got == Seq(
      (1, "view", 4L, 1.0),
      (2, "click", 3L, 0.75),
      (3, "purchase", 2L, 0.5)),
      s"funnel semantics mismatch: $got")
  }

  test("q48 retention: planted cohorts, qualifying predicate, distinct weeks, decay laws") {
    // Weeks (Mondays): w1=2024-01-01, w2=01-08, w3=01-15.
    // user 1: qualifies w1, w2, w3           → cohort w1, offsets 0,1,2
    // user 2: qualifies w1 only              → cohort w1, offset 0
    // user 3: first qualifies w2 (TWICE in w2 — distinct must
    //         collapse), again w3            → cohort w2, offsets 0,1
    // user 4: only NON-qualifying activity (cheap purchase, views)
    //         in every week                  → excluded entirely
    val dir = java.nio.file.Files.createTempDirectory("graftret").toString
    val d = 24L * 3600 * 1000000000L // 1 day in nanos
    val t0 = 1704067200L * 1000000000L // 2024-01-01T00:00:00Z (a Monday)
    Seq(
      (1L, 1L, t0 + 1 * d, "purchase", 100.0),
      (2L, 1L, t0 + 8 * d, "purchase", 90.0),
      (3L, 1L, t0 + 15 * d, "purchase", 85.0),
      (4L, 2L, t0 + 2 * d, "purchase", 99.0),
      (5L, 3L, t0 + 7 * d, "purchase", 95.0),  // Mon of w2
      (6L, 3L, t0 + 13 * d, "purchase", 88.0), // Sun of w2 — same week
      (7L, 3L, t0 + 14 * d, "purchase", 82.0), // Mon of w3
      (8L, 4L, t0 + 1 * d, "purchase", 10.0),  // below the value bar
      (9L, 4L, t0 + 8 * d, "view", 100.0),     // wrong event type
      (10L, 2L, t0 + 9 * d, "click", 100.0))   // wrong type, week 2
      .toDF("event_id", "user_id", "ts", "event_type", "value")
      .withColumn("props", lit("{}"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = SparkEntry.queries("q48_retention")(spark, dir)
      .as[(java.sql.Date, Int, Long, Long, Double)].collect().toSeq
    val w1 = java.sql.Date.valueOf("2024-01-01")
    val w2 = java.sql.Date.valueOf("2024-01-08")
    assert(got == Seq(
      (w1, 0, 2L, 2L, 1.0), (w1, 1, 1L, 2L, 0.5), (w1, 2, 1L, 2L, 0.5),
      (w2, 0, 1L, 1L, 1.0), (w2, 1, 1L, 1L, 1.0)),
      s"retention semantics mismatch: $got")
  }

  test("q50 transitions: planted journeys, per-user boundaries, probability laws") {
    // user 1: view → click → purchase ; user 2: view → view → click.
    // Transitions never cross users (user 1's last event has no
    // successor; user 2's journey contributes nothing to purchase).
    val dir = java.nio.file.Files.createTempDirectory("grafttr").toString
    val h = 3600L * 1000000000L
    val t0 = 1704067200L * 1000000000L
    Seq(
      (1L, 1L, t0, "view"), (2L, 1L, t0 + h, "click"),
      (3L, 1L, t0 + 2 * h, "purchase"),
      (4L, 2L, t0, "view"), (5L, 2L, t0 + h, "view"),
      (6L, 2L, t0 + 2 * h, "click"))
      .toDF("event_id", "user_id", "ts", "event_type")
      .withColumn("value", lit(1.0)).withColumn("props", lit("{}"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = SparkEntry.queries("q50_event_transitions")(spark, dir)
      .as[(String, String, Long, Long, Double)].collect().toSeq
    assert(got == Seq(
      ("click", "purchase", 1L, 1L, 1.0),
      ("view", "click", 2L, 3L, 0.6667),
      ("view", "view", 1L, 3L, 0.3333)),
      s"transition semantics mismatch: $got")
  }

  test("q50 transitions on the real corpus: stochastic-matrix laws and conservation") {
    val got = SparkEntry.queries("q50_event_transitions")(spark, sfDir)
      .as[(String, String, Long, Long, Double)].collect().toSeq
    assert(got.nonEmpty)
    // from_total really is the row marginal, and rows are stochastic
    got.groupBy(_._1).foreach { case (ft, rows) =>
      val total = rows.map(_._3).sum
      rows.foreach(r => assert(r._4 == total, s"$ft marginal: $r vs $total"))
      val psum = rows.map(_._5).sum
      assert(math.abs(psum - 1.0) <= 0.0005 * rows.size,
        s"$ft probabilities sum to $psum")
    }
    // conservation: total transitions == total events − one per user
    val ev = Tables.events(spark, sfDir)
    val expected = ev.count() - ev.select("user_id").distinct().count()
    assert(got.map(_._3).sum == expected,
      "every non-final event contributes exactly one transition")
  }

  test("q48 retention on the real corpus: offset-0 law, bounds, non-vacuity") {
    val got = SparkEntry.queries("q48_retention")(spark, sfDir)
      .as[(java.sql.Date, Int, Long, Long, Double)].collect().toSeq
    // every cohort's offset-0 cell retains the whole cohort
    got.filter(_._2 == 0).foreach { c =>
      assert(c._3 == c._4 && c._5 == 1.0, s"offset-0 must be full: $c") }
    // cells never exceed the cohort
    got.foreach(c => assert(c._3 <= c._4 && c._5 <= 1.0, s"cell exceeds cohort: $c"))
    // the high-value slice genuinely decays on this corpus
    assert(got.map(_._1).distinct.size >= 3, "expected >= 3 cohorts")
    assert(got.exists(_._5 < 1.0), "expected a sub-1.0 retention cell")
  }

  test("q69 sessions equal an in-memory sessionization mirror; event mass conserved") {
    val sess = SparkEntry.queries("q69_sessions")(spark, sfDir)
      .as[(Long, Int, java.sql.Timestamp, java.sql.Timestamp, Long, Long, Long)]
      .collect().toSeq
    def us(t: java.sql.Timestamp): Long =
      t.getTime / 1000 * 1000000 + t.getNanos / 1000
    val ev = Tables.events(spark, sfDir)
      .select("user_id", "ts", "event_id", "event_type")
      .as[(Long, java.sql.Timestamp, Long, String)].collect()
    // independent mirror: walk each user's (ts, event_id)-ordered
    // stream, cut at >30-min silences, roll up
    val mirror = ev.groupBy(_._1).toSeq.flatMap { case (u, xs) =>
      val sorted = xs.sortBy(x => (us(x._2), x._3))
      val cuts = sorted.zipWithIndex.map { case (x, i) =>
        (x, if (i == 0 || us(x._2) - us(sorted(i - 1)._2) > 1800000000L) 1 else 0)
      }
      val idx = cuts.scanLeft(0)(_ + _._2).tail
      cuts.map(_._1).zip(idx).groupBy(_._2).toSeq.map { case (si, g) =>
        val ts = g.map(x => us(x._1._2))
        (u, si, g.map(x => us(x._1._2)).min, ts.max, g.size.toLong,
          (ts.max - ts.min) / 1000000L,
          g.count(_._1._4 == "purchase").toLong)
      }
    }.sortBy(x => (x._1, x._2))
    val got = sess.map(x => (x._1, x._2, us(x._3), us(x._4), x._5, x._6, x._7))
    assert(got == mirror, "q69 != in-memory sessionization mirror")
    assert(sess.map(_._5).sum == ev.length, "session events != total events")
    // sessionization must be non-trivial: some user has > 1 session
    // and some session has > 1 event
    assert(sess.exists(_._2 > 1) && sess.exists(_._5 > 1))
  }

  test("q70 aging: six populated buckets, shares shed-only, mass conserved") {
    val got = SparkEntry.queries("q70_aging")(spark, sfDir)
      .as[(Int, String, Long, Long, Long)].collect().toSeq
    assert(got.map(_._1) == (0 to 5), "all six buckets must be populated in order")
    assert(got.forall(_._3 > 0))
    val open = Tables.orders(spark, sfDir)
      .filter(col("o_orderstatus") =!= "F")
    assert(got.map(_._3).sum == open.count(), "bucket orders != open orders")
    val cents = open.select(
      expr("cast(round(o_totalprice * 100, 0) as bigint)")).as[Long].collect().sum
    assert(got.map(_._4).sum == cents, "bucket cents != open cents")
    // integer shares shed only: they sum to <= 10000 and > 9990
    val bp = got.map(_._5).sum
    assert(bp <= 10000 && bp > 10000 - got.size, s"share mass $bp out of band")
  }

  test("q71 XmR limits equal an integer mirror; the chart is non-degenerate") {
    val got = SparkEntry.queries("q71_xmr_control")(spark, sfDir)
      .as[(java.sql.Date, Long, Option[Long], Long, Long, Long, Long, Boolean)]
      .collect().toSeq.sortBy(_._1.getTime)
    val xs = got.map(_._2)
    val mrs = xs.zip(xs.drop(1)).map { case (a, b) => math.abs(b - a) }
    val xbar = xs.sum * 10000L / xs.size
    val mrbar = mrs.sum * 10000L / mrs.size
    val ucl = xbar + 266L * mrbar / 100L
    val lcl = math.max(0L, xbar - 266L * mrbar / 100L)
    got.foreach { r =>
      assert(r._4 == xbar && r._5 == mrbar && r._6 == ucl && r._7 == lcl,
        s"limit mirror mismatch on ${r._1}")
      assert(r._8 == (r._2 * 10000 > ucl || r._2 * 10000 < lcl))
    }
    assert(got.head._3.isEmpty && got.drop(1).map(_._3.get) == mrs,
      "moving ranges != mirror")
    // s61's live chart is byte-equal (ordered slicing invisible)
    val live = SparkEntry.queries("s61_stream_xmr")(spark, sfDir).collect().toSeq
    val batch = SparkEntry.queries("q71_xmr_control")(spark, sfDir).collect().toSeq
    assert(live == batch, "s61 != q71")
  }

  test("q72 forecast backtest equals an integer mirror; s62 fold lands byte-equal") {
    val got = SparkEntry.queries("q72_forecast_backtest")(spark, sfDir)
      .as[(java.sql.Date, Long, Long, Long, Long, Long, Long)]
      .collect().toSeq.sortBy(_._1.getTime)
    val daily = Tables.events(spark, sfDir)
      .filter(col("event_type") === "purchase")
      .groupBy(col("ts").cast("date").as("day"))
      .agg(count(lit(1)).as("n"))
      .as[(java.sql.Date, Long)].collect()
      .map { case (d, n) => d.toLocalDate -> n }.toMap
    val mirror = daily.keys.toSeq.sorted(Ordering.by[java.time.LocalDate, Long](_.toEpochDay))
      .flatMap { d =>
        daily.get(d.minusDays(7)).map { f =>
          val a = daily(d)
          (d, a, f, math.abs(a - f), math.abs(a - f) * 10000 / a)
        }
      }
    assert(mirror.nonEmpty && mirror.size == got.size,
      s"backtest days ${got.size} != mirror ${mirror.size}")
    val mae = mirror.map(_._4).sum * 10000 / mirror.size
    val mape = mirror.map(_._5).sum / mirror.size
    got.zip(mirror).foreach { case (g, m) =>
      assert((g._1.toLocalDate, g._2, g._3, g._4, g._5) == m, s"row $g != $m")
      assert(g._6 == mae && g._7 == mape)
    }
    // the naive baseline is genuinely imperfect on this corpus
    assert(got.exists(_._4 > 0), "forecast suspiciously perfect")
    val live = SparkEntry.queries("s62_stream_forecast")(spark, sfDir).collect().toSeq
    val batch = SparkEntry.queries("q72_forecast_backtest")(spark, sfDir).collect().toSeq
    assert(live == batch, "s62 != q72")
  }

  test("q73 triangles equal an in-memory graph mirror; counting laws hold") {
    val got = SparkEntry.queries("q73_triangles")(spark, sfDir)
      .as[(Long, Long, Long, Long)].collect().toSeq
    val items = Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_partkey").distinct()
      .as[(Long, Long)].collect()
    val byOrder = items.groupBy(_._1).values
    // .iterator before collect: collecting PAIRS out of a Map
    // rebuilds a Map and collapses by key (the Map.map gotcha —
    // this would silently keep one edge per distinct left endpoint)
    val edges = byOrder.flatMap { xs =>
      val ps = xs.map(_._2).sorted
      for (i <- ps.indices; j <- i + 1 until ps.size) yield (ps(i), ps(j))
    }.groupBy(identity).iterator
      .collect { case (e, o) if o.size >= 2 => e }.toSet
    val adj = edges.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val triByNode = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    for ((a, b) <- edges; c <- adj(a) & adj(b); if b < c)
      Seq(a, b, c).foreach(x => triByNode(x) += 1)
    val mirror = adj.keys.toSeq.sorted.map { p =>
      val deg = adj(p).size.toLong
      val tri = triByNode(p)
      val cc = if (deg >= 2) 2 * tri * 10000 / (deg * (deg - 1)) else 0L
      (p, deg, tri, cc)
    }
    assert(got == mirror, "q73 != in-memory triangle mirror")
    // laws: per-node triangle mass is 3x the triangle count, and the
    // graph genuinely has triangles and non-trivial clustering
    assert(got.map(_._3).sum % 3 == 0)
    assert(got.exists(_._3 > 0) && got.exists(_._4 > 0))
  }
}
