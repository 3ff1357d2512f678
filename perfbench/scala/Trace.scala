package graft.perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One benchmark-owned span: a layer call made by the benchmark, with
  * the span that caused it and the request it belongs to.
  */
final case class Span(id: Int, parent: Int, req: Int, name: String,
    startNs: Long, endNs: Long)

/** Spark-side work of one operation, tallied from the listener bus by
  * the operation's job group.
  */
final class OpStats {
  var jobs = 0L
  var tasks = 0L
  var taskRunMs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  /** (launch, finish) wall-clock millis of every finished task. */
  val intervals = mutable.ArrayBuffer[(Long, Long)]()

  /** Milliseconds of [startMs, endMs] during which no task ran. */
  def idleMs(startMs: Long, endMs: Long): Long = {
    var busy = 0L
    var cur = startMs
    intervals.map { case (a, b) => (math.max(a, startMs), math.min(b, endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > cur) { busy += b - math.max(a, cur); cur = b }
      }
    math.max(0L, (endMs - startMs) - busy)
  }
}

/** Listener that attributes jobs and tasks to the job group that was
  * set when the job started.
  */
final class GroupListener extends SparkListener {
  private val stageGroup = mutable.Map[Int, String]()
  private val byGroup = mutable.Map[String, OpStats]()

  private def stats(g: String): OpStats = byGroup.getOrElseUpdate(g, new OpStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.foreach { group =>
      stats(group).jobs += 1
      e.stageIds.foreach(s => stageGroup(s) = group)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageGroup.get(e.stageId).foreach { group =>
      val s = stats(group)
      s.tasks += 1
      s.intervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
      Option(e.taskMetrics).foreach { m =>
        s.taskRunMs += m.executorRunTime
        s.gcMs += m.jvmGCTime
        s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  def take(group: String): OpStats = synchronized {
    byGroup.remove(group).getOrElse(new OpStats)
  }
}

/** The traced run's recorder: spans around every layer call, per-op
  * counters, and the listener tally. With `enabled = false` every
  * method runs its body and records nothing, so the untraced run does
  * exactly the same engine calls.
  */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  val spans = mutable.ArrayBuffer[Span]()
  /** metric name -> (request id, value): one sample per operation or
    * per call, tagged with the request it was taken in.
    */
  val samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[(Int, Double)]]()
  private var stack = List.empty[Int]
  private var nextId = 0
  private var req = 0
  /** Requests up to this id form the run's fixed-length prefix. */
  var countedReq = Int.MaxValue
  /** Mark the end of the fixed-length prefix: counters are summarized
    * over the requests before this point, which every run of one seed
    * makes in the same order, so they repeat exactly.
    */
  def markCounted(): Unit = if (countedReq == Int.MaxValue) countedReq = req
  private val listener = new GroupListener
  if (enabled) sc.addSparkListener(listener)

  def sample(name: String, v: Double): Unit =
    if (enabled) samples.getOrElseUpdate(name, mutable.ArrayBuffer()) += ((req, v))

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        spans += Span(id, parent, req, name, t0, t1)
        sample(name + "_ms", (t1 - t0) / 1e6)
      }
    }

  /** Run one request under its own job group and span; in a traced
    * run, once the bus has drained, sample its Spark work (`spark.*`,
    * `<kind>.jobs`, `<kind>.tasks`) and the DfCache counters it moved.
    */
  def op[T](kind: String)(body: => T): T =
    if (!enabled) body
    else {
      req += 1
      val group = s"pb-$req"
      sc.setJobGroup(group, kind, interruptOnCancel = false)
      val memo0 = graft.DfCache.memoComputes
      val rebuild0 = graft.DfCache.stagingRebuilds
      val w0 = System.currentTimeMillis()
      try span(kind)(body)
      finally {
        val w1 = System.currentTimeMillis()
        sc.clearJobGroup()
        org.apache.spark.PerfbenchBus.drain(sc)
        val s = listener.take(group)
        sample(s"$kind.jobs", s.jobs.toDouble)
        sample(s"$kind.tasks", s.tasks.toDouble)
        sample("dfcache.memo_computes", (graft.DfCache.memoComputes - memo0).toDouble)
        sample("dfcache.staging_rebuilds", (graft.DfCache.stagingRebuilds - rebuild0).toDouble)
        sample("spark.task_run_ms", s.taskRunMs.toDouble)
        sample("spark.gc_ms", s.gcMs.toDouble)
        sample("spark.shuffle_write_mb", s.shuffleWriteBytes / 1048576.0)
        sample("spark.spill_mb", s.spillBytes / 1048576.0)
        sample("spark.idle_ms", s.idleMs(w0, w1).toDouble)
      }
    }
}
