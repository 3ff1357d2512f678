package graft

import com.fasterxml.jackson.databind.ObjectMapper

/** [[Probe]]: one record per recorded pass with every layer field. */
class ProbeSpec extends SparkSpec {

  private val fields = Seq("query", "pass", "build_ms", "plan_ms", "exec_ms",
    "jobs", "tasks", "task_run_ms", "gc_ms", "shuffle_read_mb", "shuffle_write_mb",
    "spill_mb", "staging_rebuilds", "memo_computes", "cached_rdds", "cached_mb",
    "plan_hash")

  test("two queries, two passes: every record carries every field") {
    val trace = Trace.on(spark.sparkContext)
    try {
      for (q <- Seq("dashboard_stats", "dedup_simhash")) {
        val passes = Probe.run(spark, trace, sfDir, q, 2)
        assert(passes.map(_.pass) == Seq(1, 2))
        passes.foreach { p =>
          val j = new ObjectMapper().readTree(p.json(Probe.TopStages))
          fields.foreach(f => assert(j.has(f), s"$q pass ${p.pass} lacks $f"))
          assert(j.get("query").asText == q)
          assert(j.get("exec_ms").asDouble > 0 && j.get("tasks").asLong > 0)
          assert(j.get("plan_hash").asText.length == 12)
          assert(j.get("top_stages").size > 0)
          assert(!new ObjectMapper().readTree(p.json(0)).has("top_stages"))
        }
      }
    } finally trace.close()
  }

  test("an unknown query name is rejected") {
    val trace = Trace.on(spark.sparkContext)
    try intercept[IllegalArgumentException](Probe.run(spark, trace, sfDir, "no_such_query", 1))
    finally trace.close()
  }
}
