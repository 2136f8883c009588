package graft

import org.apache.spark.sql.SparkSession

/** The session set-up every main shares: `local[n]` with n shuffle
  * partitions, where n is `SPARK_GRAFT_CPUS` if set and the JVM's
  * available processors otherwise; UTC session time zone, no UI, WARN
  * logging. One partition per core keeps every core busy without
  * scheduling more tasks than the machine can run at once. */
object Session {
  /** The table directory the mains read when `SPARK_GRAFT_SF_DIR` is
    * unset. */
  def sfDir: String =
    sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  def local(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
