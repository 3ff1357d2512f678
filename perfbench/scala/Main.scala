package graft.perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.{DfCache, Sessions, SparkEntry}
import graft.operators.{Analytics, Curate, Pack, RangeJoin}
import graft.sources.ChunkIndex

/** The benchmark's JVM side. Runs one workload against the inputs that
  * `gen.py` wrote, in one process with one closed-loop client, and
  * writes a result JSON (timings, per-layer samples, output checks and
  * result rows for the DuckDB oracle check done by `run.py`).
  *
  * Args: workload inputDir workDir seconds trace(0|1) outJson
  */
object Main {
  private val json = new ObjectMapper()

  final case class Check(name: String, ok: Boolean, detail: String)

  /** Everything one run reports back to run.py. */
  final class Result {
    val timings = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
    val checks = mutable.ArrayBuffer[Check]()
    /** (query name, params, column names, rows) for the oracle check. */
    val outputs = mutable.ArrayBuffer[(String, Map[String, Any], Seq[String], Seq[Seq[Any]])]()
    var attempted = 0L
    var failed = 0L
    def time(name: String, v: Double): Unit =
      timings.getOrElseUpdate(name, mutable.ArrayBuffer()) += v
    def check(name: String, ok: Boolean, detail: => String = ""): Boolean = {
      checks += Check(name, ok, if (ok) "" else detail)
      if (!ok) failed += 1
      ok
    }
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, inputDir, workDir, seconds, trace, outJson) = args
    val t0 = System.nanoTime()
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = Sessions.builder("4")
      .appName(s"perfbench-$workload")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionMs = (System.nanoTime() - t0) / 1e6
    val sessionReadyMs = System.currentTimeMillis()
    val tracer = new Tracer(trace == "1", spark.sparkContext)
    tracer.sample("sessions.start_ms", sessionMs)
    val script = json.readTree(new File(s"$inputDir/script.json"))
    val res = new Result
    val w = workload match {
      case "qa_mixed" => new QaMixed(spark, inputDir, workDir, script, tracer, res)
      case "admin_mixed" => new AdminMixed(spark, inputDir, workDir, script, tracer, res)
      case other => sys.error(s"unknown workload $other")
    }
    w.attempt("build_s")(w.build() / 1000.0)
    val w0 = System.nanoTime()
    w.warmUp()
    res.time("warmup_s", ms(w0) / 1000.0)
    res.time("jvm_session_s", (sessionReadyMs - jvmStartMs) / 1000.0)
    val deadline = System.nanoTime() + (seconds.toDouble * 1e9).toLong
    w.measure(deadline)
    w.verify()
    res.time("cached_mb", spark.sparkContext.getRDDStorageInfo
      .map(r => r.memSize + r.diskSize).sum / 1048576.0)
    write(outJson, res, tracer)
    spark.stop()
  }

  // ---------------------------------------------------------------
  // shared helpers

  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  /** A timed operation's latency if its output check passed, else an
    * infinite one, so a wrong result misses every percentile.
    */
  def timedIf(ok: Boolean, took: Double): Double = if (ok) took else Double.PositiveInfinity

  /** Build, plan and fully materialize one query under three spans
    * named `<layer>.build`, `.plan`, `.exec`; returns the rows.
    */
  def run(tracer: Tracer, layer: String)(build: => DataFrame): (Seq[String], Array[Row]) = {
    val df = tracer.span(s"$layer.build")(build)
    tracer.span(s"$layer.plan")(df.queryExecution.executedPlan)
    (df.columns.toSeq, tracer.span(s"$layer.exec")(df.collect()))
  }

  def dirBytes(path: String): Long = {
    val p = Paths.get(path)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
  }

  private def toJson(v: Any): Any = v match {
    case null => null
    case r: Row => r.toSeq.map(toJson).asJava
    case s: scala.collection.Seq[_] => s.map(toJson).asJava
    case m: Map[_, _] => m.map { case (k, x) => k.toString -> toJson(x) }.asJava
    case d: java.math.BigDecimal => d.toString
    case other => other
  }

  private def write(path: String, res: Result, tracer: Tracer): Unit = {
    val out = new java.util.LinkedHashMap[String, Any]()
    out.put("timings", res.timings.map { case (k, v) => k -> v.asJava }.asJava)
    out.put("attempted", res.attempted)
    out.put("failed", res.failed)
    out.put("checks", res.checks.map(c =>
      Map("name" -> c.name, "ok" -> c.ok, "detail" -> c.detail).asJava).asJava)
    out.put("outputs", res.outputs.map { case (q, p, cols, rows) =>
      Map("query" -> q, "params" -> toJson(p), "columns" -> cols.asJava,
        "rows" -> rows.map(r => toJson(r)).asJava).asJava
    }.asJava)
    val oracle = res.outputs.map(_._1).distinct
      .flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap
    out.put("oracle_sql", oracle.asJava)
    if (tracer.enabled) {
      out.put("samples", tracer.samples.map { case (k, v) =>
        k -> v.map { case (r, x) => Seq(r, x).asJava }.asJava }.asJava)
      out.put("counted_req", tracer.countedReq)
      out.put("spans", tracer.spans.map(s => Map(
        "id" -> s.id, "parent" -> s.parent, "req" -> s.req, "name" -> s.name,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs).asJava).asJava)
    }
    json.writeValue(new File(path), out)
  }
}

/** One workload: the cold build, a warm-up (part of set-up), the timed
  * closed loop, and the output checks that run after the timed region.
  */
abstract class Workload(val spark: SparkSession, val dir: String,
    val workDir: String, val script: JsonNode, val tracer: Tracer,
    val res: Main.Result) {
  /** The cold build, first in the JVM; returns its milliseconds. */
  def build(): Double
  def warmUp(): Unit
  def measure(deadline: Long): Unit
  def verify(): Unit

  /** Run `n` warm-up calls four at a time. Warm-up only has to bring
    * the JIT and the codegen cache along, so its calls need not wait
    * on each other; they bypass the tracer, which is single-threaded.
    */
  def parallel(n: Int)(f: Int => Unit): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try (0 until n).map(i => pool.submit(new Runnable { def run(): Unit = f(i) })).foreach(_.get())
    finally pool.shutdown()
  }

  /** Record one timed operation under `metric`. A thrown failure
    * counts as attempted and failed, and as an infinite latency, so it
    * misses every percentile; a body whose output check fails returns
    * `Double.PositiveInfinity` itself (`Main.timedIf`).
    */
  def attempt(metric: String)(body: => Double): Unit =
    try res.time(metric, body)
    catch {
      case NonFatal(e) =>
        res.attempted += 1
        res.check(metric, ok = false, e.toString)
        res.time(metric, Double.PositiveInfinity)
    }

  /** Point the engine's parquet staging at a fresh root under the run. */
  def stagingRoot(name: String): Unit = {
    val d = s"$workDir/staging/$name"
    new File(d).mkdirs()
    System.setProperty("graft.staging", d)
  }
}

/** qa_mixed: persisted index build, then a closed loop of asks with an
  * upsert every few asks, each followed by searches for one of its new
  * docs until the index returns it.
  */
final class QaMixed(spark: SparkSession, dir: String, workDir: String,
    script: JsonNode, tracer: Tracer, res: Main.Result)
    extends Workload(spark, dir, workDir, script, tracer, res) {
  import Main._
  private val questions = script.get("questions").asScala.map(_.asText).toIndexedSeq
  private val batches = script.get("batches").asScala.toIndexedSeq
  private val asksPerUpsert = script.get("asks_per_upsert").asInt
  private val nProbe = script.get("n_probe").asInt
  private val k = script.get("k").asInt
  private var qi = 0
  private var bi = 0
  private val upserted = mutable.LinkedHashMap[Long, String]()
  private val MinAsks = 30
  private val MinUpserts = 5
  private val WarmAsks = 32

  stagingRoot("qa")

  private def batchRows(b: JsonNode): Seq[(Long, String)] =
    b.get("rows").asScala.map(r => (r.get(0).asLong, r.get(1).asText)).toSeq

  private def ask(root: String, text: String): Array[Row] =
    tracer.op("chunkindex.search")(
      run(tracer, "chunkindex.search")(ChunkIndex.search(spark, root, text, nProbe, k)))._2

  /** One timed ask; its rows must be k in (score desc, doc_id) order. */
  private def checkedAsk(root: String, text: String): Double = {
    val t0 = System.nanoTime()
    val rows = ask(root, text)
    val took = ms(t0)
    res.attempted += 1
    val ranked = rows.toSeq.map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("score")))
    timedIf(res.check("ask_k_rows_ordered", Checks.ranked(ranked, k),
      s"ask '$text' returned ${rows.length} rows: ${rows.mkString(",")}"), took)
  }

  /** Upsert one batch, then search for its probe doc's text until the
    * doc is returned; returns upsert-to-visible milliseconds, infinite
    * when the doc is still not returned after 5 searches.
    */
  private def update(root: String, b: JsonNode): Double = {
    import spark.implicits._
    val rows = batchRows(b)
    val probe = b.get("probe").asLong
    // the probe is checked right here; the rest after the timed loop
    rows.foreach { case (id, text) => if (id != probe) upserted(id) = text }
    val t0 = System.nanoTime()
    tracer.op("chunkindex.upsert")(ChunkIndex.upsert(spark, root, rows.toDF("doc_id", "text")))
    var found = false
    var tries = 0
    while (!found && tries < 5) {
      tries += 1
      found = Checks.returned(
        ask(root, rows.find(_._1 == probe).get._2).map(_.getAs[Long]("doc_id")), probe)
    }
    val visibleMs = ms(t0)
    tracer.sample("chunkindex.live_files",
      ChunkIndex.readEmbeddings(spark, root).inputFiles.length.toDouble)
    res.attempted += 1
    timedIf(res.check("upsert_visible", found, s"doc $probe not returned after $tries searches"),
      visibleMs)
  }

  private def nextQuestion(): String = { val q = questions(qi % questions.size); qi += 1; q }
  private def nextBatch(): JsonNode = { val b = batches(bi % batches.size); bi += 1; b }

  private val root = s"$workDir/index"

  def build(): Double = {
    val t0 = System.nanoTime()
    tracer.op("chunkindex.write")(ChunkIndex.write(spark, dir, root))
    ms(t0)
  }

  def warmUp(): Unit = {
    parallel(WarmAsks)(i =>
      ChunkIndex.search(spark, root, questions(questions.size - 1 - i), nProbe, k).collect())
    update(root, nextBatch())
  }

  def measure(deadline: Long): Unit = {
    var asks = 0
    var ups = 0
    while (System.nanoTime() < deadline || asks < MinAsks || ups < MinUpserts) {
      attempt("op_ms")(checkedAsk(root, nextQuestion()))
      asks += 1
      if (asks % asksPerUpsert == 0) {
        val b = nextBatch()
        attempt("update_ms")(update(root, b))
        ups += 1
      }
      if (asks >= MinAsks && ups >= MinUpserts) tracer.markCounted()
    }
  }

  def verify(): Unit = {
    // every other upserted doc is returned for its own latest text;
    // untimed, so the searches run side by side
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val found = Future.traverse(upserted.toSeq) { case (id, text) =>
      Future(id -> Checks.returned(ChunkIndex.search(spark, root, text, nProbe, k)
        .collect().map(_.getAs[Long]("doc_id")), id))
    }
    Await.result(found, scala.concurrent.duration.Duration(120, "s")).foreach { case (id, ok) =>
      res.attempted += 1
      res.check("upserted_doc_returned", ok, s"doc $id not returned for its own text")
    }
    res.time("disk_mb", dirBytes(root) / 1048576.0 +
      dirBytes(s"$workDir/staging") / 1048576.0)
    res.time("staged_mb", dirBytes(s"$workDir/staging") / 1048576.0)
  }

}

/** admin_mixed: the admin side of the reference. One cold
  * Pack.trainPrepScored build from an empty staging root, the first in
  * the JVM (what a fresh training-data job pays), then a closed loop of
  * dashboard refreshes (every panel once, in seeded order with seeded
  * parameters; session_stats at a new session gap each time, so one
  * request per refresh misses the sessionized memo), each followed by
  * training-data reruns with seeded budget/shares over the staged kept
  * frame.
  */
final class AdminMixed(spark: SparkSession, dir: String, workDir: String,
    script: JsonNode, tracer: Tracer, res: Main.Result)
    extends Workload(spark, dir, workDir, script, tracer, res) {
  import Main._
  private val reruns = script.get("reruns").asScala.toIndexedSeq
  private val requests = script.get("requests").asScala.toIndexedSeq
  private var ri = 0
  private var qi = 0
  private val checked = mutable.Set[(Int, Map[String, Int])]()
  private val seen = mutable.Map[(String, Map[String, Int]), Int]()
  private val MinRefreshes = 3
  private val RerunsPerRefresh = 4
  val Panels = Seq("dashboard_stats", "contribution_analytics", "session_stats",
    "live_users", "activity_summary", "funnel", "cohort_retention",
    "top_rated", "recent_n", "paginate", "range_active_sessions")

  private def ints(j: JsonNode): Map[String, Int] =
    j.fields().asScala.map(e => e.getKey -> e.getValue.asInt).toMap

  private def trainprepFrame(budget: Int, shares: Map[String, Int]): DataFrame =
    Pack.trainPrepScored(spark, dir, budget = budget,
      shares = shares.map { case (l, w) => l -> w.toDouble })

  /** One trainPrepScored call under layer name `layer`, materialized;
    * records its rows for the oracle check the first time a parameter
    * set is seen.
    */
  private def trainprep(layer: String, budget: Int, shares: Map[String, Int]): Double = {
    val t0 = System.nanoTime()
    val (cols, rows) = tracer.op(layer)(run(tracer, layer)(trainprepFrame(budget, shares)))
    val took = ms(t0)
    res.attempted += 1
    if (checked.add((budget, shares)))
      res.outputs += (("pipeline_trainprep_scored",
        Map("budget" -> budget, "shares" -> shares), cols, rows.toSeq.map(_.toSeq)))
    timedIf(res.check("trainprep_nonempty", rows.nonEmpty,
      s"no rows for budget=$budget shares=$shares"), took)
  }

  private def rerun(): Double = {
    val r = reruns(ri % reruns.size); ri += 1
    trainprep("pack.trainprep", r.get("budget").asInt, ints(r.get("shares")))
  }

  private def frame(panel: String, p: Map[String, Int]): DataFrame = panel match {
    case "dashboard_stats" => Analytics.dashboardStats(spark, dir)
    case "contribution_analytics" => Analytics.contributionAnalytics(spark, dir)
    case "session_stats" =>
      Analytics.sessionStats(spark, dir, p.getOrElse("gap_min", 30) * 60000L)
    case "live_users" => Analytics.liveUsers(spark, dir)
    case "activity_summary" =>
      Analytics.activitySummary(spark, dir, p.getOrElse("days", Analytics.ActivityDays))
    case "funnel" => Analytics.funnel(spark, dir)
    case "cohort_retention" => Analytics.cohortRetention(spark, dir)
    case "top_rated" => Analytics.topRated(spark, dir, p.getOrElse("n", 10))
    case "recent_n" => Analytics.recentN(spark, dir, p.getOrElse("n", 10))
    case "paginate" => Analytics.paginate(spark, dir, p.getOrElse("page", 1), p.getOrElse("size", 20))
    case "range_active_sessions" => RangeJoin.rangeActiveSessions(spark, dir)
  }

  /** One panel request; the first result of each (panel, params) is
    * kept for the oracle check, later ones must repeat its rows.
    * Returns the request's build+plan+collect milliseconds, infinite
    * when its rows changed.
    */
  private def request(panel: String, p: Map[String, Int]): Double = {
    val t0 = System.nanoTime()
    val (cols, rows) = tracer.op(s"analytics.$panel")(run(tracer, s"analytics.$panel")(frame(panel, p)))
    val took = ms(t0)
    res.attempted += 1
    val digest = Checks.digest(rows.toSeq)
    seen.get((panel, p)) match {
      case None =>
        seen((panel, p)) = digest
        res.outputs += ((panel, p, cols, rows.toSeq.map(_.toSeq)))
        took
      case Some(d) =>
        timedIf(res.check("panel_repeatable", d == digest,
          s"$panel $p rows changed between requests"), took)
    }
  }

  /** Cold build: empty staging root and no memos, so curate, dedup,
    * perplexity keep, mix and pack all run.
    */
  def build(): Double = {
    DfCache.evict(spark)
    stagingRoot("trainprep")
    val t0 = System.nanoTime()
    tracer.op("curate.survivors")(
      Curate.survivors(spark, dir).write.format("noop").mode("overwrite").save())
    val cold = trainprep("pack.trainprep_cold", Pack.DefaultSeqTokens, Map.empty)
    timedIf(!cold.isInfinite, ms(t0))
  }

  /** Every panel twice, and every other parameter set and rerun
    * budget the minimum loop uses once: the loop then measures a warm
    * dashboard server (plans compiled, memos built) except for the memo
    * misses its gap draws make on purpose.
    */
  def warmUp(): Unit = {
    val panels = (Seq.fill(2)(Panels.map(_ -> Map.empty[String, Int])).flatten ++
      requests.take(MinRefreshes * Panels.size)
        .map(r => r.get("panel").asText -> ints(r.get("params")))
        .filterNot(_._2.contains("gap_min")).distinct)
    parallel(panels.size)(i => frame(panels(i)._1, panels(i)._2).collect())
    val budgets = reruns.take(MinRefreshes * RerunsPerRefresh)
      .groupBy(_.get("budget").asInt).values.map(_.head).toIndexedSeq
    parallel(budgets.size) { i =>
      trainprepFrame(budgets(i).get("budget").asInt, ints(budgets(i).get("shares"))).collect()
    }
  }

  /** One dashboard refresh: the next block of one request per panel,
    * timed as the sum of its requests, so the output checks between
    * them are not counted.
    */
  private def refresh(): Double =
    Panels.indices.map { _ =>
      val r = requests(qi % requests.size); qi += 1
      request(r.get("panel").asText, ints(r.get("params")))
    }.sum

  def measure(deadline: Long): Unit = {
    var n = 0
    while (System.nanoTime() < deadline || n < MinRefreshes) {
      n += 1
      attempt("op_ms")(refresh())
      for (_ <- 1 to RerunsPerRefresh) attempt("update_ms")(rerun())
      if (n >= MinRefreshes) tracer.markCounted()
    }
  }

  def verify(): Unit = {
    res.time("staged_mb", dirBytes(s"$workDir/staging") / 1048576.0)
    res.time("disk_mb", dirBytes(s"$workDir/staging") / 1048576.0)
  }
}
