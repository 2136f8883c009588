package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions.{col, expr, lit, unix_micros}
import org.apache.spark.sql.types.{LongType, StructField, StructType, TimestampType}

/** [[Tables.parquet]], the one parquet read path: the schema it hands
  * Spark is the one Spark would infer under the same settings, no load
  * submits a Spark job, and a rewritten, missing or empty path behaves
  * as a plain read does. */
class TablesReadSpec extends SparkSpec {

  private def inferred(path: String) = spark.read.parquet(path).schema

  private val nanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  private def scratchDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_tablesread_$tag").toString

  test("every Tables loader reads the schema Spark infers for its file") {
    val loaders: Seq[(String, DataFrame)] = Seq(
      "region" -> Tables.region(spark, sfDir),
      "nation" -> Tables.nation(spark, sfDir),
      "customer" -> Tables.customer(spark, sfDir),
      "supplier" -> Tables.supplier(spark, sfDir),
      "part" -> Tables.part(spark, sfDir),
      "orders" -> Tables.orders(spark, sfDir),
      "lineitem" -> Tables.lineitem(spark, sfDir),
      "documents" -> Tables.documents(spark, sfDir),
      "embeddings" -> Tables.embeddings(spark, sfDir))
    for ((name, df) <- loaders) {
      val p = s"$sfDir/$name.parquet"
      assert(df.schema == inferred(p), name)
    }
    // events adapts `ts` after the read; the read itself must match
    // the plain read under the same session settings
    val ev = Tables.events(spark, sfDir)
    val evPath = s"$sfDir/events.parquet"
    assert(Tables.parquet(spark, evPath).schema == inferred(evPath))
    assert(ev.schema("ts").dataType.typeName == "timestamp")
  }

  test("s64 and s74 generation artifacts read back with the schema Spark infers") {
    val S = graft.streaming.Streaming
    S.s64StreamWeightedSample(spark, sfDir).collect()
    val s64Dir = graft.sources.Export.scratch("s64_wsample", sfDir)
    val s74Dir = S.s74Build(spark, sfDir, "tablesread_s74")
    val paths = (0 to 3).map(i => s"$s64Dir/g$i") ++
      (0 to S.s74Head).flatMap(k => Seq(s"$s74Dir/s74snap$k", s"$s74Dir/s74ledg$k"))
    for (p <- paths)
      assert(Tables.parquet(spark, p).schema == inferred(p), p)
    // the fold's own read-backs carry the written frame's schema
    val foldDir = scratchDir("fold")
    try {
      val init = Seq("snap" -> spark.read.parquet(s"$s74Dir/s74snap0"),
        "ledg" -> spark.read.parquet(s"$s74Dir/s74ledg0"))
      val batch = Tables.events(spark, sfDir).filter(col("event_id") % 7 === 0)
        .select("user_id", "event_id", "ts", "event_type", "value")
      val out = S.foldGenerations(spark, foldDir, init, Seq(batch)) { (st, b, i) =>
        Seq(st(0).filter(col("user_id") % 2 === 0),
          st(1).unionByName(b.withColumn("version", lit(i + 1))))
      }
      for ((df, p) <- out.zip(Seq("snap1", "ledg1")))
        assert(df.schema == inferred(s"$foldDir/$p"), p)
    } finally graft.sources.Export.deleteTree(foldDir)
  }

  test("a load submits no Spark job, the first one included") {
    val dir = scratchDir("jobs")
    try {
      val p = s"$dir/t.parquet"
      spark.range(10).withColumn("v", col("id") * 2).write.parquet(p)
      assert(jobsOf(Tables.parquet(spark, p).schema) == 0)
      assert(jobsOf(Tables.parquet(spark, p).schema) == 0)
      assert(Tables.parquet(spark, p).count() == 10)
    } finally graft.sources.Export.deleteTree(dir)
  }

  private def rowsOf(df: DataFrame): Seq[String] = df.collect().toSeq.map(_.toString).sorted

  private def sameRead(got: DataFrame, plain: DataFrame, clue: String): Unit = {
    assert(got.schema == plain.schema, clue)
    assert(rowsOf(got) == rowsOf(plain), clue)
  }

  /** Fixtures for the multi-path and option reads: q76/q82/q80's
    * layouts, a q95 deletion vector of two commit dirs and two q103
    * fact commits. */
  private lazy val fixtures = {
    val E = graft.sources.Export
    val R = graft.operators.Relational
    val l95 = E.scratch("tablesread_q95", sfDir)
    E.q76ClusterWrite(Tables.orders(spark, sfDir), l95, "overwrite")
    val dv = l95 + "_dv"
    E.deleteTree(dv)
    E.q95CommitDelete(spark, l95, dv, 1, col("o_orderkey") % 5 === 0)
    E.q95CommitDelete(spark, l95, dv, 2, col("o_orderkey") % 7 === 0)
    val q103 = E.scratch("tablesread_q103", sfDir)
    E.deleteTree(q103)
    (1 to 2).foreach(k => R.q103Commit(spark, q103, k, R.q103Delta(spark, sfDir, k)))
    (E.q76Write(spark, sfDir), E.q82Write(spark, sfDir), E.q80Write(spark, sfDir)._1,
      l95, dv, q103)
  }

  test("building a multi-path or option read submits no Spark job") {
    val E = graft.sources.Export
    val (l76, l82, l80, l95, dv, q103) = fixtures
    val builds: Seq[(String, () => DataFrame)] = Seq(
      "q76SidecarRows" -> (() => E.q76SidecarRows(spark, E.listParquet(l76))),
      "q82SidecarRows" -> (() => E.q82SidecarRows(spark, Seq(l82))),
      "q80EvolvedRead" -> (() => E.q80EvolvedRead(spark, l80)),
      "q95Dv" -> (() => E.q95Dv(spark, dv)),
      "q103FactAt" -> (() => graft.operators.Relational.q103FactAt(spark, q103, 2)),
      "multi-path" -> (() => Tables.parquet(spark, Seq(l76, l95))),
      "layout subset" -> (() => Tables.parquet(spark, l95, E.listParquet(l95).take(2))))
    for ((name, build) <- builds)
      assert(jobsOf(build().schema) == 0, name)
  }

  test("multi-path, option and subset reads match a plain read") {
    val E = graft.sources.Export
    val (_, _, l80, l95, dv, q103) = fixtures
    // a file list across two directories, as a clone manifest names it
    val (_, _, _, m2) = E.q87Build(spark, sfDir)
    val cloneFiles = E.q87ReadManifest(spark, m2)
    assert(cloneFiles.map(f => f.substring(0, f.lastIndexOf('/'))).distinct.size == 2)
    sameRead(Tables.parquet(spark, cloneFiles), spark.read.parquet(cloneFiles: _*), "q87 files")
    // a list of commit dirs
    val commits = (1 to 2).map(k => s"$q103/fact/commit_$k")
    sameRead(Tables.parquet(spark, commits), spark.read.parquet(commits: _*), "q103 commits")
    // mergeSchema over an evolved layout: the option wins over the session
    val merged = Tables.parquet(spark, Seq(l80), Map("mergeSchema" -> "true"))
    assert(merged.schema.fieldNames.contains("o_channel"))
    sameRead(merged, spark.read.option("mergeSchema", "true").parquet(l80), "q80 merge")
    // a directory of commit dirs needs recursiveFileLookup
    val rec = Map("recursiveFileLookup" -> "true")
    sameRead(Tables.parquet(spark, Seq(dv), rec), spark.read.options(rec).parquet(dv), "q95 vector")
    // a subset of one flat layout, empty or not
    val files = E.listParquet(l95)
    sameRead(Tables.parquet(spark, l95, files.take(2)), spark.read.parquet(files.take(2): _*),
      "q95 subset")
    val none = Tables.parquet(spark, l95, Seq.empty)
    assert(none.schema == spark.read.parquet(l95).schema)
    assert(none.select(col("_metadata.file_path"), col("_metadata.row_index")).count() == 0)
  }

  test("a partitioned file subset read under basePath keeps the partition column") {
    val dir = scratchDir("basepath")
    try {
      val p = s"$dir/data"
      spark.range(40).withColumn("v", col("id") * 2).withColumn("cell", col("id") % 4)
        .write.partitionBy("cell").parquet(p)
      val subset = graft.sources.Export.listParquet(p).filter(_.contains("cell=1/")) ++
        graft.sources.Export.listParquet(p).filter(_.contains("cell=3/"))
      val base = Map("basePath" -> p)
      val got = Tables.parquet(spark, subset, base)
      assert(got.schema.fieldNames.toSeq == Seq("id", "v", "cell"))
      sameRead(got, spark.read.options(base).parquet(subset: _*), "cell subset")
      assert(got.select("cell").distinct().collect().map(_.getInt(0)).sorted.toSeq == Seq(1, 3))
    } finally graft.sources.Export.deleteTree(dir)
  }

  test("a hive-partitioned layout reads the schema and rows of a plain read") {
    val dir = scratchDir("partitioned")
    try {
      val p = s"$dir/t.parquet"
      spark.range(12).withColumn("v", col("id") * 3)
        .withColumn("day", expr("date_add(date'2024-01-01', cast(id % 3 as int))"))
        .write.partitionBy("day").parquet(p)
      val run = graft.streaming.Streaming.s68Build(spark, sfDir)._2
      for (path <- Seq(p, run.fragDir, run.outDir)) {
        val df = Tables.parquet(spark, path)
        assert(df.schema == inferred(path), path)
        assert(df.schema.fieldNames.last == "day", path)
        assert(df.collect().toSeq.map(_.toString).sorted ==
          spark.read.parquet(path).collect().toSeq.map(_.toString).sorted, path)
      }
    } finally graft.sources.Export.deleteTree(dir)
  }

  test("session parquet settings type the schema as a plain read does") {
    val dir = scratchDir("settings")
    try {
      val schema = MessageTypeParser.parseMessageType(
        "message t { required int64 id; required binary raw; }")
      val conf = new Configuration()
      val p = s"$dir/t.parquet"
      val out = HadoopOutputFile.fromPath(new Path(s"$p/part-0.parquet"), conf)
      val writer = ExampleParquetWriter.builder(out).withType(schema).withConf(conf).build()
      try writer.write(new SimpleGroupFactory(schema).newGroup()
        .append("id", 1L).append("raw", "abc"))
      finally writer.close()
      spark.range(3).withColumn("extra", lit(1.5)).write.mode("append").parquet(p)
      val s = spark.newSession()
      for (binaryAsString <- Seq("false", "true"); merge <- Seq("false", "true")) {
        s.conf.set("spark.sql.parquet.binaryAsString", binaryAsString)
        s.conf.set("spark.sql.parquet.mergeSchema", merge)
        val got = Tables.parquet(s, p).schema
        assert(got == s.read.parquet(p).schema, s"binaryAsString=$binaryAsString mergeSchema=$merge")
        assert(got.fieldNames.contains("extra") == (merge == "true"))
      }
      assert(Tables.parquet(s, p).schema("raw").dataType.typeName == "string")
    } finally graft.sources.Export.deleteTree(dir)
  }

  test("overwriting a path with a different schema reads the new schema") {
    val dir = scratchDir("rewrite")
    try {
      val p = s"$dir/t.parquet"
      spark.range(5).withColumn("a", lit(1)).write.parquet(p)
      val before = Tables.parquet(spark, p).schema
      assert(before.fieldNames.toSeq == Seq("id", "a"))
      spark.range(3).withColumn("b", lit("x")).withColumn("c", lit(2.5))
        .write.mode("overwrite").parquet(p)
      val after = Tables.parquet(spark, p)
      assert(after.schema == inferred(p))
      assert(after.schema.fieldNames.toSeq == Seq("id", "b", "c"))
      assert(after.collect().map(_.getString(1)).toSeq == Seq("x", "x", "x"))
    } finally graft.sources.Export.deleteTree(dir)
  }

  test("a missing path still fails with Spark's AnalysisException") {
    val dir = scratchDir("missing")
    try {
      val empty = new java.io.File(s"$dir/empty.parquet")
      val onlySuccess = new java.io.File(s"$dir/success.parquet")
      assert(empty.mkdir() && onlySuccess.mkdir())
      assert(new java.io.File(onlySuccess, "_SUCCESS").createNewFile())
      val present = s"$dir/t.parquet"
      spark.range(3).write.parquet(present)
      for (p <- Seq(s"$dir/absent.parquet", empty.getPath, onlySuccess.getPath)) {
        intercept[AnalysisException](Tables.parquet(spark, p))
        intercept[AnalysisException](Tables.parquet(spark, p, Seq.empty))
      }
      intercept[AnalysisException](Tables.parquet(spark, Seq(present, s"$dir/absent.parquet")))
    } finally graft.sources.Export.deleteTree(dir)
  }

  test("loading events leaves the caller's nanosAsLong setting as it was") {
    val s = spark.newSession()
    val before = s.conf.getOption(nanosAsLong)
    Tables.events(s, sfDir).collect()
    assert(s.conf.getOption(nanosAsLong) == before)
  }

  test("an events load does not make other tables infer their schema again") {
    val s = spark.newSession()
    Tables.orders(s, sfDir).schema
    Tables.events(s, sfDir).schema
    assert(jobsOf(Tables.orders(s, sfDir).schema) == 0)
  }

  test("a TIMESTAMP(NANOS) events file loads with ts truncated to microseconds") {
    val dir = scratchDir("nanos")
    try {
      val schema = MessageTypeParser.parseMessageType(
        "message events { required int64 event_id; " +
          "required int64 ts (TIMESTAMP(NANOS,true)); }")
      val conf = new Configuration()
      val out = HadoopOutputFile.fromPath(new Path(s"$dir/events.parquet"), conf)
      val writer = ExampleParquetWriter.builder(out).withType(schema).withConf(conf).build()
      val rows = new SimpleGroupFactory(schema)
      try Seq(1L -> 1700000000123456789L, 2L -> 1700000000999999999L).foreach {
        case (id, ns) => writer.write(rows.newGroup().append("event_id", id).append("ts", ns))
      } finally writer.close()
      val s = spark.newSession()
      val before = s.conf.getOption(nanosAsLong)
      assert(Tables.parquet(s, s"$dir/events.parquet").schema ==
        StructType(Seq(StructField("event_id", LongType), StructField("ts", LongType))))
      val ev = Tables.events(s, dir)
      assert(ev.schema("ts").dataType == TimestampType)
      val micros = ev.orderBy("event_id").select(unix_micros(col("ts")))
        .collect().map(_.getLong(0)).toSeq
      assert(micros == Seq(1700000000123456L, 1700000000999999L))
      assert(s.conf.getOption(nanosAsLong) == before)
    } finally graft.sources.Export.deleteTree(dir)
  }
}
