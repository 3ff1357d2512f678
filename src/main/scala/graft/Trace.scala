package graft

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.graftBridge
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** The one Spark-side tally of the dev tooling (Bench, Probe): jobs,
  * tasks and executor task metrics summed per JOB GROUP, with one
  * record per stage. A caller runs a timed query under its own group
  * ([[in]]) and reads the tally with [[take]], which first drains the
  * listener bus. A stage belongs to the group of the job that
  * submitted it; Spark propagates the group to the AQE stage and
  * broadcast threads, so no task of the query escapes it. Jobs
  * without a group are not tallied.
  */
final class Trace private (sc: SparkContext) extends SparkListener {
  import Trace.{Stage, Tally}

  private val byGroup = mutable.Map[String, Tally]()
  private val stageOf = mutable.Map[Int, (String, Stage)]()

  private def groupOf(props: java.util.Properties): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))

  private def tally(group: String): Tally = byGroup.getOrElseUpdate(group, new Tally)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    groupOf(e.properties).foreach(tally(_).jobs += 1)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    groupOf(e.properties).foreach { group =>
      val i = e.stageInfo
      if (!stageOf.contains(i.stageId)) {   // a retried attempt keeps its record
        // the RDD chain names the operators inside the stage; the AQE
        // thread-pool callsite alone is opaque
        val s = new Stage(i.stageId, i.rddInfos.sortBy(_.id).map(_.name).distinct.mkString(">"))
        tally(group).stages += s
        stageOf(i.stageId) = (group, s)
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageOf.get(e.stageId).foreach { case (group, stage) =>
      val t = tally(group)
      t.tasks += 1
      stage.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        t.runMs += m.executorRunTime
        stage.runMs += m.executorRunTime
        t.gcMs += m.jvmGCTime
        t.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        t.spillMemBytes += m.memoryBytesSpilled
        t.spillDiskBytes += m.diskBytesSpilled
      }
    }
  }

  /** Run `body` with every job it starts in job group `group`. */
  def in[T](group: String)(body: => T): T = {
    sc.setJobGroup(group, group, interruptOnCancel = false)
    try body finally sc.clearJobGroup()
  }

  /** The tally of `group` (empty if it ran no job), removed from the
    * trace once every event posted so far has been delivered.
    */
  def take(group: String): Tally = {
    Trace.drain(sc)
    synchronized {
      stageOf.filterInPlace { case (_, (g, _)) => g != group }
      byGroup.remove(group).getOrElse(new Tally)
    }
  }

  /** Stop listening. */
  def close(): Unit = sc.removeSparkListener(this)
}

object Trace {

  /** One stage: id, RDD-chain name, tasks ended and their summed run time. */
  final class Stage(val id: Int, val name: String) {
    var tasks = 0L
    var runMs = 0L
  }

  /** Spark work of one job group, summed over its tasks. */
  final class Tally {
    var jobs = 0L
    var tasks = 0L
    var runMs = 0L
    var gcMs = 0L
    var shuffleReadBytes = 0L
    var shuffleWriteBytes = 0L
    var spillMemBytes = 0L
    var spillDiskBytes = 0L
    val stages = mutable.ArrayBuffer[Stage]()
  }

  /** A trace listening on `sc`. */
  def on(sc: SparkContext): Trace = {
    val t = new Trace(sc)
    sc.addSparkListener(t)
    t
  }

  /** Block until the listener bus has delivered every event posted so far. */
  def drain(sc: SparkContext): Unit = graftBridge.drainListenerBus(sc)

  /** Stable hash of the physical plan `qe` executed: expression and
    * lambda-variable ids, plan ids, codegen stage ids, AQE query-stage
    * ids (numbered in completion order, which varies between runs of
    * one plan), aggregator object addresses and file-index listings
    * are normalized away, so two runs hash equal iff the plan SHAPE is
    * the same. An adaptive plan must have run (`isFinalPlan=true`):
    * before that it is the initial plan, which never sees an AQE
    * re-plan.
    */
  def planHash(qe: QueryExecution): String = {
    qe.executedPlan match {
      case a: AdaptiveSparkPlanExec =>
        require(a.isFinalPlan, "plan hash of an adaptive plan that has not run")
      case _ => ()
    }
    val s = qe.executedPlan.toString
      .replaceAll("#\\d+", "#")
      .replaceAll("lambda ([A-Za-z0-9]+)_\\d+", "lambda $1_")
      .replaceAll("@[0-9a-f]+\\b", "@")
      .replaceAll("plan_id=\\d+", "plan_id=")
      .replaceAll("\\*\\(\\d+\\)", "*")
      .replaceAll("QueryStage \\d+", "QueryStage")
      .replaceAll("Statistics\\([^)]*\\)", "Statistics()")
      .replaceAll("InMemoryFileIndex\\[[^]]*\\]", "InMemoryFileIndex[]")
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString.take(12)
  }
}
