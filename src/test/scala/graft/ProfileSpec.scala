package graft

import java.util.concurrent.CyclicBarrier

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import org.scalatest.funsuite.AnyFunSuite

import graft.tools.Profile

/** The shared profiler: per-tag job attribution, thread isolation, the
  * DataFrame build / plan / exec split, and tag cleanup on failure. */
class ProfileSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private def sc = spark.sparkContext

  test("a body reports exactly the jobs it ran, none from outside it") {
    val df = spark.range(0, 100000, 1, 4)
    df.count() // untagged work before the run is not attributed
    val group = "profile-spec-jobs"
    val (n, st) = Profile.run("range count") {
      sc.setJobGroup(group, "profile spec")
      try df.count() finally sc.clearJobGroup()
    }
    assert(n == 100000L)
    // the status tracker is fed by the same bus the profiler drained
    val tracked = sc.statusTracker.getJobIdsForGroup(group).length
    assert(st.jobs >= 1 && st.jobs == tracked, st)
    assert(st.stages >= st.jobs && st.tasks >= st.stages, st)
    val (_, twice) = Profile.run("two counts") { df.count(); df.count() }
    assert(twice.jobs == 2 * st.jobs, twice)
    val (_, none) = Profile.run("no spark work")(1 + 1)
    assert(none.jobs == 0 && none.stages == 0, none)
  }

  test("concurrent runs on two threads never cross-attribute jobs") {
    val df = spark.range(0, 200000, 1, 4)
    val one = Profile.run("one count")(df.count())._2.jobs
    val barrier = new CyclicBarrier(2)
    def profiled(counts: Int) = Future {
      barrier.await()
      Profile.run(s"$counts counts")((1 to counts).foreach(_ => df.count()))._2
    }
    val (a, b) = (profiled(1), profiled(3))
    assert(Await.result(a, 2.minutes).jobs == one)
    assert(Await.result(b, 2.minutes).jobs == 3 * one)
  }

  test("a DataFrame body reports its analysis, optimization and planning " +
      "phases, build and exec time and its row count") {
    // a wide projection so every planning phase takes measurable time
    val st = Profile.query("wide") {
      spark.range(0, 1000, 1, 2)
        .selectExpr((1 to 200).map(i => s"id * $i + ${i % 7} AS c$i"): _*)
        .filter("c1 % 3 = 0")
    }
    assert(st.rows == 333L, st) // ids with (id + 1) % 3 == 0
    for (phase <- Seq("analysis", "optimization", "planning"))
      assert(st.phases.getOrElse(phase, 0.0) > 0.0, s"$phase: $st")
    assert(st.planMs == st.phases.values.sum && st.execMs > 0, st)
    assert(st.jobs >= 1 && st.wallMs >= st.execMs, st)
  }

  test("a throwing body still removes its tag") {
    val before = sc.getJobTags()
    intercept[IllegalStateException](Profile.run("boom") {
      spark.range(10).count()
      throw new IllegalStateException("boom")
    })
    assert(sc.getJobTags() == before)
    // the next run on this thread still counts its own jobs
    assert(Profile.run("after")(spark.range(10).count())._2.jobs >= 1)
  }
}
