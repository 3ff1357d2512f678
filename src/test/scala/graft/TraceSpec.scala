package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** [[Trace]]: per-job-group tallies that no task escapes, and a plan
  * hash taken from the plan that actually ran.
  */
class TraceSpec extends SparkSpec {

  private def ran(name: String) = {
    val qe = SparkEntry.queries(name)(spark, sfDir).queryExecution
    Probe.materialize(qe)
    qe
  }

  test("each job group's task count equals the tasks that ended in its window") {
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    val ended = new AtomicLong
    val counter = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = ended.incrementAndGet()
    }
    val sc = spark.sparkContext
    val trace = Trace.on(sc)
    sc.addSparkListener(counter)
    try {
      // both plans broadcast a dimension: q5 by hint, q_part_revenue
      // by size — their jobs run on the AQE and broadcast threads
      val windows = Seq("A" -> "q5_region_join", "B" -> "q_part_revenue").map { case (g, q) =>
        Trace.drain(sc)
        val n0 = ended.get
        val qe = trace.in(g)(ran(q))
        assert(qe.executedPlan.toString.contains("BroadcastHashJoin"), q)
        Trace.drain(sc)
        g -> (ended.get - n0)
      }
      windows.foreach { case (g, n) =>
        val t = trace.take(g)
        assert(n > 0 && t.tasks == n, s"group $g tallied ${t.tasks} of $n tasks")
        assert(t.jobs > 0 && t.runMs >= 0)
        assert(t.stages.map(_.tasks).sum == t.tasks)
      }
      assert(trace.take("A").tasks == 0, "take removes the group's tally")
    } finally {
      sc.removeSparkListener(counter)
      trace.close()
    }
  }

  test("planHash is stable across builds and moves with the broadcast threshold") {
    val h1 = Trace.planHash(ran("q_part_revenue"))
    assert(h1 == Trace.planHash(ran("q_part_revenue")))
    val key = "spark.sql.autoBroadcastJoinThreshold"
    spark.conf.set(key, "-1")
    try {
      val qe = ran("q_part_revenue")
      assert(!qe.executedPlan.toString.contains("BroadcastHashJoin"))
      assert(Trace.planHash(qe) != h1)
    } finally spark.conf.unset(key)
  }

  test("planHash is taken from the final adaptive plan, never the initial one") {
    val qe = SparkEntry.queries("q_part_revenue")(spark, sfDir).queryExecution
    assert(qe.executedPlan.toString.contains("isFinalPlan=false"))
    intercept[IllegalArgumentException](Trace.planHash(qe))
    Probe.materialize(qe)
    assert(qe.executedPlan.toString.contains("isFinalPlan=true"))
    assert(Trace.planHash(qe).length == 12)
  }
}
