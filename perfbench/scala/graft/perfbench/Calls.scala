package graft.perfbench

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SQLExecution

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer

/** Spark runtime work attributed to one job group. */
final class GroupStats {
  var jobs = 0L
  var singleTaskJobs = 0L
  var tasks = 0L
  var taskMs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var scanBytes = 0L

  def add(o: GroupStats): Unit = {
    jobs += o.jobs; singleTaskJobs += o.singleTaskJobs; tasks += o.tasks
    taskMs += o.taskMs; gcMs += o.gcMs; shuffleWriteBytes += o.shuffleWriteBytes
    spillBytes += o.spillBytes; scanBytes += o.scanBytes
  }
}

/** One listener for the whole run: every job is charged to the job group
  * that was set on the submitting thread (streams inherit the group of the
  * call that started them), every task to its stage's job group.
  */
final class CallListener extends SparkListener {
  private val byGroup = new ConcurrentHashMap[String, GroupStats]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()

  private def stats(g: String) = byGroup.computeIfAbsent(g, _ => new GroupStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("-")
    val s = stats(g)
    s.synchronized {
      s.jobs += 1
      if (e.stageInfos.map(_.numTasks).sum == 1) s.singleTaskJobs += 1
    }
    e.stageIds.foreach(id => stageGroup.put(id, g))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = stats(Option(stageGroup.get(e.stageId)).getOrElse("-"))
    val m = e.taskMetrics
    s.synchronized {
      s.tasks += 1
      s.taskMs += e.taskInfo.duration
      if (m != null) {
        s.gcMs += m.jvmGCTime
        s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        s.scanBytes += m.inputMetrics.bytesRead
      }
    }
  }

  def get(g: String): GroupStats = Option(byGroup.get(g)).getOrElse(new GroupStats)
}

/** One timed call. `phases` is filled only by traced calls. */
final case class Sample(name: String, kind: String, wallS: Double, ok: Boolean,
    error: String = "", phases: Map[String, Double] = Map.empty,
    construct: GroupStats = new GroupStats, exec: GroupStats = new GroupStats) {
  def traced: Boolean = phases.nonEmpty
}

/** Times calls into the engine's public functions.
  *
  * Untraced, a call is one clock around construct + plan + execute, with
  * the result drained into Spark's `noop` sink. Traced, the same call is
  * split: the construct phase (the function returning its DataFrame,
  * including any jobs it runs to get there), the plan phase
  * (`queryExecution.executedPlan`, whose analysis/optimization/planning
  * times come from the plan tracker) and the execute phase (that same
  * physical plan run and drained, as the `noop` sink drains it), each
  * under its own job group so Spark work is charged to it. The query is
  * planned once either way.
  */
final class Calls(spark: SparkSession, val traced: Boolean) {
  val listener = new CallListener
  spark.sparkContext.addSparkListener(listener)
  val samples = ArrayBuffer.empty[Sample]
  private var seq = 0L

  private def group(phase: String): String = {
    val g = s"pb$seq:$phase"
    spark.sparkContext.setJobGroup(g, g, interruptOnCancel = false)
    g
  }

  private def secs(t0: Long) = (System.nanoTime() - t0) / 1e9

  def drain(): Unit = PerfbenchBus.drain(spark.sparkContext)

  /** A query call: `f` builds the DataFrame, the noop sink runs it. */
  def query(name: String, kind: String, tracedCall: Boolean = traced)(
      f: => DataFrame): Sample = {
    seq += 1
    val s = if (!tracedCall) {
      group("call")
      val t0 = System.nanoTime()
      try {
        f.write.format("noop").mode("overwrite").save()
        Sample(name, kind, secs(t0), ok = true)
      } catch { case e: Throwable => Sample(name, kind, secs(t0), ok = false, msg(e)) }
    } else {
      val gc = group("construct")
      val ge = s"pb$seq:exec"
      val t0 = System.nanoTime()
      try {
        val qe = f.queryExecution
        val t1 = System.nanoTime()
        val plan = qe.executedPlan
        val t2 = System.nanoTime()
        group("exec")
        SQLExecution.withNewExecutionId(qe)(plan.execute().foreach(_ => ()))
        val t3 = System.nanoTime()
        val tr = qe.tracker
        val ph = tr.phases
        def phase(n: String) = ph.get(n).map(_.durationMs.toDouble).getOrElse(0.0)
        val topRule = tr.topRulesByTime(1).headOption.map(_._2.totalTimeNs / 1e6)
          .getOrElse(0.0)
        drain()
        Sample(name, kind, (t3 - t0) / 1e9, ok = true, phases = Map(
          "construct_ms" -> (t1 - t0) / 1e6, "plan_ms" -> (t2 - t1) / 1e6,
          "exec_ms" -> (t3 - t2) / 1e6, "analyze_ms" -> phase("analysis"),
          "optimize_ms" -> phase("optimization"), "physical_ms" -> phase("planning"),
          "top_rule_ms" -> topRule),
          construct = listener.get(gc), exec = listener.get(ge))
      } catch { case e: Throwable => Sample(name, kind, secs(t0), ok = false, msg(e)) }
    }
    spark.sparkContext.clearJobGroup()
    samples += s
    s
  }

  /** A call that is not a single DataFrame (a stream run, an artifact
    * build, an output kept for the gate): one clock.
    */
  def step(name: String, kind: String)(body: => Unit): Sample = {
    seq += 1
    group("step")
    val t0 = System.nanoTime()
    val s = try {
      body
      Sample(name, kind, secs(t0), ok = true)
    } catch { case e: Throwable => Sample(name, kind, secs(t0), ok = false, msg(e)) }
    spark.sparkContext.clearJobGroup()
    samples += s
    s
  }

  private def msg(e: Throwable): String = {
    val m = Option(e.getMessage).getOrElse(e.getClass.getName)
    m.linesIterator.take(3).mkString(" ").take(400)
  }
}
