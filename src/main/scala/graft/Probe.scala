package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution}

/** Per-pass layer receipts for registered queries (dev tool, not part
  * of the driver contract): for each query, one unrecorded warm-up
  * pass, then `passes` passes that each print one JSON line —
  *
  *  - `build_ms` (operator composition, memo and staging builds),
  *    `plan_ms` (analysis, optimization, physical planning) and
  *    `exec_ms` (the SAME QueryExecution run to completion, every
  *    output row produced — never `count()`, never planned twice);
  *  - the pass's job-group tally from [[Trace]]: `jobs`, `tasks`,
  *    `task_run_ms`, `gc_ms`, `shuffle_read_mb`, `shuffle_write_mb`,
  *    `spill_mb`;
  *  - `staging_rebuilds` / `memo_computes`: the DfCache counter deltas;
  *  - `cached_rdds` / `cached_mb`: what is resident after the pass;
  *  - `plan_hash`: [[Trace.planHash]] of the plan that ran.
  *
  * The last pass adds `top_stages`, the stages with the most task run
  * time. `runMain graft.Probe <dir> <q1,q2,...> [passes]`; an unknown
  * query name exits 2.
  */
object Probe {
  val TopStages = 10

  /** One recorded pass of one query. */
  final case class Pass(query: String, pass: Int, buildMs: Double, planMs: Double,
      execMs: Double, tally: Trace.Tally, stagingRebuilds: Long, memoComputes: Long,
      cachedRdds: Int, cachedBytes: Long, planHash: String) {

    def json(topStages: Int): String = {
      def mb(b: Long): String = "%.1f".formatLocal(java.util.Locale.ROOT, b / 1048576.0)
      def ms(v: Double): String = "%.1f".formatLocal(java.util.Locale.ROOT, v)
      val t = tally
      val top = t.stages.sortBy(-_.runMs).take(topStages).map { s =>
        s"""{"stage":${s.id},"tasks":${s.tasks},"run_ms":${s.runMs},""" +
          s""""name":"${s.name.replaceAll("[\\p{Cntrl}\"\\\\]", " ").take(140)}"}"""
      }
      s"""{"query":"$query","pass":$pass,"build_ms":${ms(buildMs)},""" +
        s""""plan_ms":${ms(planMs)},"exec_ms":${ms(execMs)},""" +
        s""""jobs":${t.jobs},"tasks":${t.tasks},"task_run_ms":${t.runMs},"gc_ms":${t.gcMs},""" +
        s""""shuffle_read_mb":${mb(t.shuffleReadBytes)},"shuffle_write_mb":${mb(t.shuffleWriteBytes)},""" +
        s""""spill_mb":${mb(t.spillMemBytes + t.spillDiskBytes)},""" +
        s""""staging_rebuilds":$stagingRebuilds,"memo_computes":$memoComputes,""" +
        s""""cached_rdds":$cachedRdds,"cached_mb":${mb(cachedBytes)},""" +
        s""""plan_hash":"$planHash"""" +
        (if (topStages > 0) top.mkString(""","top_stages":[""", ",", "]") else "") + "}"
    }
  }

  /** Run `qe`'s own executed plan to completion with its rows
    * discarded: every output row is produced (a `count()` would let
    * Catalyst prune columns, aggregates and sorts) and nothing is
    * planned again.
    */
  def materialize(qe: QueryExecution): Unit =
    SQLExecution.withNewExecutionId(qe, Some("probe"))(qe.toRdd.foreach(_ => ()))

  /** The warm-up pass of registered query `name`, then `passes`
    * recorded passes, each under its own job group of `trace`.
    */
  def run(spark: SparkSession, trace: Trace, dir: String, name: String,
      passes: Int): Seq[Pass] = {
    require(SparkEntry.queries.contains(name), s"unknown query name: $name")
    val fn = SparkEntry.queries(name)
    (0 to passes).map { p =>
      val group = s"probe:$name:$p"
      val r0 = DfCache.stagingRebuilds
      val m0 = DfCache.memoComputes
      val (qe, ts) = trace.in(group) {
        val t0 = System.nanoTime()
        val qe = fn(spark, dir).queryExecution
        val t1 = System.nanoTime()
        qe.executedPlan
        val t2 = System.nanoTime()
        materialize(qe)
        (qe, Seq(t0, t1, t2, System.nanoTime()))
      }
      val ms = ts.zip(ts.tail).map { case (a, b) => (b - a) / 1e6 }
      val tally = trace.take(group)
      val cached = spark.sparkContext.getRDDStorageInfo.filter(_.numCachedPartitions > 0)
      Pass(name, p, ms(0), ms(1), ms(2), tally,
        DfCache.stagingRebuilds - r0, DfCache.memoComputes - m0,
        cached.length, cached.map(r => r.memSize + r.diskSize).sum, Trace.planHash(qe))
    }.tail
  }

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val names = args(1).split(',').map(_.trim).filter(_.nonEmpty).toSeq
    val passes = args.lift(2).map(_.toInt).getOrElse(3)
    val unknown = names.filterNot(SparkEntry.queries.contains)
    if (unknown.nonEmpty) {
      System.err.println(s"[probe] unknown query name(s): ${unknown.sorted.mkString(",")}")
      sys.exit(2)
    }
    val spark = Sessions.builderFromEnv().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val trace = Trace.on(spark.sparkContext)
    names.foreach { name =>
      val ps = run(spark, trace, dir, name, passes)
      ps.foreach(p => println(p.json(if (p eq ps.last) TopStages else 0)))
    }
    spark.stop()
  }
}
