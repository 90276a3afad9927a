package graft.tools

import graft.spark.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite

class ProfileQuerySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("profile splits a driver query into construction, Catalyst phases and action jobs") {
    val planDir = java.nio.file.Files.createTempDirectory("graft-profile-plans").toFile
    val Seq(p) = ProfileQuery.profile(spark, "/root/testdata/sf0.01", Seq("dp_count"),
      Some(planDir.getPath))
    assert(p.query == "dp_count")
    val act = p.jobsIn("act")
    assert(act.nonEmpty, s"no action job recorded: ${p.jobs}")
    assert(act.forall(j => j.stages >= 1 && j.tasks >= 1), s"empty action job: $act")
    assert(p.jobs.map(_.phase).toSet.subsetOf(Set("construct", "act")))
    assert(p.jobs.map(_.shuffleRecordsWritten).sum > 0 && p.jobs.map(_.shuffleRecordsRead).sum > 0,
      "dp_count shuffles its bounded rows")
    assert(p.catalystS.nonEmpty && p.catalystS.map(_._1).contains("planning"),
      s"Catalyst phases missing: ${p.catalystS}")
    val plan = new java.io.File(planDir, "dp_count.txt")
    assert(p.planFile.contains(plan.getPath) && plan.length() > 0)
    assert(scala.io.Source.fromFile(plan).mkString.contains("AdaptiveSparkPlan"))
    // the shared session stays usable
    assert(!spark.sparkContext.isStopped && spark.range(3).count() == 3)
  }

  test("pin counts repeat across profiled calls of a query that pins twice") {
    // dp_range_estimated pins its cell store and then its released tree; the
    // first pin is superseded within the call
    val ps = ProfileQuery.profile(spark, "/root/testdata/sf0.01",
      Seq("dp_range_estimated", "dp_range_estimated"), None)
    assert(ps.map(_.pins).distinct.size == 1 && ps.head.pins >= 2, ps.map(_.pins))
  }
}
