package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession fixture for all specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"

  /** Spark jobs `body` submits from this thread and the threads it
    * starts. Each job carries its thread's job group, and a marker job
    * submitted after `body` reaches the listener after every job
    * `body` submitted. */
  protected def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val groups = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("spec-body", "counted body")
      try body finally sc.clearJobGroup()
      sc.setJobGroup("spec-marker", "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!groups.contains("spec-marker") && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(groups.contains("spec-marker"), "marker job never reached the listener")
      groups.asScala.count(_ == "spec-body")
    } finally sc.removeSparkListener(listener)
  }
}

object SparkSpec {
  // one session across all suites — sbt forks a single test JVM
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** The ONE independent brute-force CDF classifier the q93 and s75
  * all-pairs equivalence tests recompute against (review-pass
  * finding: two copy-pasted classifiers would let the CDF contract
  * drift between the written-chain and live-ledger tests): given two
  * served snapshots as key → (event_id, event_type, value) maps,
  * emit q35's serving-level change rows sorted by (user, kind). */
object TestCdf {
  def bruteDiff(a: Map[Long, (Long, String, Double)],
      b: Map[Long, (Long, String, Double)]): Seq[(Long, String, Long, String, Double)] =
    (a.keySet ++ b.keySet).toSeq.flatMap { u =>
      (a.get(u), b.get(u)) match {
        case (None, Some(n)) => Seq((u, "insert", n._1, n._2, n._3))
        case (Some(o), None) => Seq((u, "delete", o._1, o._2, o._3))
        case (Some(o), Some(n)) if o._1 != n._1 =>
          Seq((u, "update_preimage", o._1, o._2, o._3),
            (u, "update_postimage", n._1, n._2, n._3))
        case _ => Seq.empty
      }
    }.sortBy(r => (r._1, r._2))
}
