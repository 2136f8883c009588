package graft

/** `graft.Profile` names every job of a pass, including the jobs AQE
  * submits for query stages from a pool thread, whose own call site
  * points into Spark rather than at the code that ran the query. */
class ProfileSpec extends SparkSpec {

  test("profiling q19 names every job after a call site, stage jobs included") {
    val rec = new Profile.Recorder
    spark.sparkContext.addSparkListener(rec)
    try {
      Profile.runPass(spark, rec, "q19_sliding_window", sfDir)
      val names = rec.jobs.values.map(rec.jobName).toSeq
      assert(names.nonEmpty, "the pass recorded no job")
      // the pass does run stage jobs, so the renaming is exercised
      assert(rec.jobs.values.exists(_.site.contains("withThreadLocalCaptured")),
        rec.jobs.values.map(_.site))
      assert(names.forall(n => n.nonEmpty && !n.contains("withThreadLocalCaptured")),
        names)
    } finally spark.sparkContext.removeSparkListener(rec)
  }
}
