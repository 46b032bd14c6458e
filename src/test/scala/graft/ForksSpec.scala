package graft

import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.SparkException

import graft.operators.Forks

/** The one driver-thread overlap seam: values come back through
  * `join()`, every exit path joins every fork, the first failure
  * cancels the forks' Spark jobs (nested scopes included), and the
  * primary error carries the others as suppressed.
  */
class ForksSpec extends SparkSpec {

  /** A job whose tasks would sleep for a minute unless interrupted. */
  private def slowJob(): Long =
    spark.sparkContext.parallelize(1 to 4, 4).map { i => Thread.sleep(60000L); i }.count()

  private def awaitActiveJob(): Unit = {
    val deadline = System.nanoTime() + 30000000000L
    while (spark.sparkContext.statusTracker.getActiveJobIds.isEmpty) {
      assert(System.nanoTime() < deadline, "the slow job never started")
      Thread.sleep(20L)
    }
  }

  private def noActiveJobs(): Unit =
    assert(spark.sparkContext.statusTracker.getActiveJobIds.isEmpty,
      "a job of the scope is still active after it returned")

  private def seconds[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  test("values come back through join(); a fork keeps the caller's job group and adds the scope tag") {
    val sc = spark.sparkContext
    sc.setJobGroup("forks-spec-group", "caller group")
    try {
      val (n, seen) = Forks(spark) { forks =>
        val count = forks.fork("count")(spark.range(0, 1000).count())
        val props = forks.fork("props")(
          (sc.getLocalProperty("spark.jobGroup.id"), sc.getJobTags()))
        (count.join(), props.join())
      }
      assert(n === 1000L)
      assert(seen._1 === "forks-spec-group")
      assert(seen._2.exists(_.startsWith("graft-forks-")))
      assert(!sc.getJobTags().exists(_.startsWith("graft-forks-")),
        "the scope's own thread stays untagged")
    } finally sc.clearJobGroup()
  }

  test("two failing forks: the first error surfaces, the second is suppressed") {
    val e = intercept[IllegalStateException] {
      Forks(spark) { forks =>
        val first = forks.fork[Unit]("first")(throw new IllegalStateException("first"))
        forks.fork[Unit]("second") {
          scala.util.Try(first.join()) // fail strictly after the first
          throw new IllegalArgumentException("second")
        }
        ()
      }
    }
    assert(e.getMessage === "first")
    assert(e.getSuppressed.map(_.getMessage).toSeq === Seq("second"))
  }

  test("a failing fork cancels a long sibling Spark job promptly; no job is left active") {
    val (e, secs) = seconds(intercept[IllegalStateException] {
      Forks(spark) { forks =>
        forks.fork("slow")(slowJob())
        forks.fork[Unit]("fail") { awaitActiveJob(); throw new IllegalStateException("boom") }
        ()
      }
    })
    assert(e.getMessage === "boom")
    assert(e.getSuppressed.toSeq.exists(_.isInstanceOf[SparkException]),
      "the cancelled sibling's error rides along as suppressed")
    assert(secs < 30.0, f"sibling ran to completion instead of being cancelled ($secs%.1f s)")
    noActiveJobs()
    // interrupt-on-cancel freed the task slots: a fresh job runs at once
    val (_, next) = seconds(spark.range(0, 100, 1, 4).count())
    assert(next < 30.0)
  }

  test("a body failure still joins its forks and cancels their jobs") {
    val finished = new AtomicBoolean(false)
    val (e, secs) = seconds(intercept[IllegalStateException] {
      Forks(spark) { forks =>
        forks.fork("sleeper") { Thread.sleep(300L); finished.set(true) }
        forks.fork("slow")(slowJob())
        awaitActiveJob()
        throw new IllegalStateException("body")
      }
    })
    assert(e.getMessage === "body", "the body's own error is the primary")
    assert(finished.get, "the scope returned before joining a fork")
    assert(e.getSuppressed.toSeq.exists(_.isInstanceOf[SparkException]))
    assert(secs < 30.0)
    noActiveJobs()
  }

  test("cancelling an outer scope cancels the jobs of a scope nested in its fork") {
    val sc = spark.sparkContext
    val innerTags = new java.util.concurrent.atomic.AtomicReference(Set.empty[String])
    val (e, secs) = seconds(intercept[IllegalStateException] {
      Forks(spark) { outer =>
        outer.fork("owner") {
          Forks(spark) { inner =>
            inner.fork("slow") { innerTags.set(sc.getJobTags()); slowJob() }
            ()
          }
        }
        outer.fork[Unit]("fail") { awaitActiveJob(); throw new IllegalStateException("outer") }
        ()
      }
    })
    assert(innerTags.get.count(_.startsWith("graft-forks-")) === 2,
      s"the nested fork inherits the outer tag: ${innerTags.get}")
    assert(e.getMessage === "outer")
    assert(e.getSuppressed.toSeq.exists(_.isInstanceOf[SparkException]))
    assert(secs < 30.0)
    noActiveJobs()
  }
}
