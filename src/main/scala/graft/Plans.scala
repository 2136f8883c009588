package graft

/** Plan dumper for the optimization rounds: writes
  * `.explain("formatted")` of named registered queries to
  * `<outDir>/<name>_<tag>.txt`. Usage:
  *
  *   sbt "runMain graft.Plans <outDir> <tag> q1,q2,..."
  *
  * Runs on [[Session.local]] over [[Session.sfDir]]. Explain
  * only — no action is executed, so this is cheap enough to run for
  * every touched query before and after a change. */
object Plans {
  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: Plans <outDir> <tag> <names,csv>")
    val Array(outDir, tag, csv) = args
    val sfDir = Session.sfDir
    val spark = Session.local()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    csv.split(",").map(_.trim).filter(_.nonEmpty).foreach { name =>
      // pseudo-entry for the shared CC machinery: the registered graph
      // entries run the fixpoint AT CONSTRUCTION (their returned plan
      // only shows the presentation stage over checkpointed RDDs), so
      // the auditable per-round plan is dumped from ccRound directly
      val df =
        if (name == "ccround") {
          import spark.implicits._
          graft.dedup.Dedup.ccRound(
            Seq((5L, 1L), (9L, 5L), (7L, 3L)).toDF("hi", "lo"))
        } else SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$outDir/${name}_$tag.txt"),
        plan.getBytes("UTF-8"))
      System.err.println(s"[plans] wrote $outDir/${name}_$tag.txt")
    }
    spark.stop()
  }
}
