package graft

import graft.tools.Profile
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

/** The profiler's core on the shared session: rep walls and codegen
  * compiles per named query, loud rejection of unknown names, and plan capture behind checkpoint cuts. */
class ProfileSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  private val sf = "/root/testdata/sf0.001"

  test("timing returns one positive wall per rep, in the order named") {
    val out = Profile.time(spark, sf, Seq("q_filter_project", "q_agg_group"), reps = 2).toList
    assert(out.map(_._1) === Seq("q_filter_project", "q_agg_group"))
    out.foreach { case (name, walls) =>
      assert(walls.isSuccess, s"$name: $walls")
      assert(walls.get.size === 2)
      assert(walls.get.forall(_.wallS > 0), s"$name: ${walls.get}")
    }
  }

  test("each rep reports its codegen compiles; warm reps of a small query compile nothing") {
    val Seq((name, reps)) = Profile.time(spark, sf, Seq("q_filter_project"), reps = 3).toList
    assert(name === "q_filter_project")
    assert(reps.isSuccess, s"$reps")
    assert(reps.get.size === 3)
    assert(reps.get.forall(_.compiles >= 0), s"${reps.get}")
    assert(reps.get.tail.map(_.compiles) === Seq(0L, 0L), s"${reps.get}")
  }

  test("a failing query is reported as a failure and the next query still runs") {
    val missing = "/nonexistent/sf"
    val out = Profile.time(spark, missing, Seq("q_filter_project", "q_agg_group"), reps = 2).toList
    assert(out.map(_._1) === Seq("q_filter_project", "q_agg_group"))
    out.foreach { case (name, walls) =>
      assert(walls.isFailure, s"$name: $walls")
      assert(walls.failed.get.getMessage.contains(missing), walls.failed.get.getMessage)
    }
  }

  test("an unknown query name is rejected by name before any query runs") {
    val jobs = new java.util.concurrent.atomic.AtomicLong
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    ListenerBusDrain.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(counter)
    try {
      val err = intercept[IllegalArgumentException](
        Profile.time(spark, sf, Seq("q_filter_project", "q_typo", "q_nope"), reps = 1))
      assert(err.getMessage.contains("q_typo") && err.getMessage.contains("q_nope"))
      assert(!err.getMessage.contains("q_filter_project"))
      intercept[IllegalArgumentException](Profile.plans(spark, sf, Seq("q_typo")))
      ListenerBusDrain.drain(spark.sparkContext)
      assert(jobs.get === 0L)
    } finally spark.sparkContext.removeSparkListener(counter)
  }

  test("plans include the executions behind a localCheckpoint cut") {
    val Seq((name, plans)) = Profile.plans(spark, sf, Seq("q_pagerank")).toList
    assert(name === "q_pagerank")
    assert(plans.isSuccess, s"$plans")
    // the final execution only scans the cut; the cuts themselves shuffle
    assert(plans.get.size >= 2, plans.get.mkString("\n"))
    assert(plans.get.last.contains("Scan ExistingRDD"), plans.get.last)
    assert(plans.get.exists(_.contains("Exchange")), plans.get.mkString("\n"))
  }
}
