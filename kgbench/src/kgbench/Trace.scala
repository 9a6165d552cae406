package kgbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** One interval of a traced op. `layer` is the program module the time
 *  belongs to; `parent` is the enclosing span (-1 for an op's root). All
 *  spans of one op share `op`. Times are epoch milliseconds, the clock
 *  Spark's listener events use, so listener-derived spans line up. */
final case class Span(id: Int, parent: Int, op: Int, name: String, layer: String,
                      startMs: Double, endMs: Double,
                      counts: Map[String, Double] = Map.empty) {
  def ms: Double = endMs - startMs
}

object Spans {
  /** Layer of a span the trace could not place in a module. */
  val Unattributed = "other"
}

/** In-memory span store, written out once when the run ends. */
final class Spans {
  val all: ArrayBuffer[Span] = ArrayBuffer.empty

  private val epochMs = System.currentTimeMillis()
  private val epochNs = System.nanoTime()
  /** The epoch clock at nanoTime resolution. */
  def nowMs: Double = epochMs + (System.nanoTime() - epochNs) / 1e6

  def add(parent: Int, op: Int, name: String, layer: String, startMs: Double, endMs: Double,
          counts: Map[String, Double] = Map.empty): Span = {
    val s = Span(all.length, parent, op, name, layer, startMs, endMs, counts)
    all += s
    s
  }

  /** Self time: the span's duration minus the part its children cover. */
  def selfMs(s: Span): Double = {
    val kids = all.filter(_.parent == s.id).map(k => (math.max(k.startMs, s.startMs), math.min(k.endMs, s.endMs)))
      .filter(k => k._2 > k._1).sortBy(_._1)
    var covered = 0.0
    var end = Double.MinValue
    kids.foreach { case (a, b) =>
      if (b > end) { covered += b - math.max(a, end); end = b }
    }
    s.ms - covered
  }

  def write(path: String): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    val lines = all.map { s =>
      val counts = s.counts.map { case (k, v) => s""""$k":${Json.num(v)}""" }.mkString(",")
      s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}","layer":"${s.layer}",""" +
        s""""start_ms":${Json.num(s.startMs)},"end_ms":${Json.num(s.endMs)},"counts":{$counts}}"""
    }
    Files.writeString(Paths.get(path), lines.mkString("", "\n", "\n"))
  }
}

/** Task metrics summed over a set of jobs. */
final class TaskStats {
  var jobs = 0
  var tasks = 0
  var cpuNs = 0L
  var gcMs = 0L
  var spillBytes = 0L
  var shuffleWriteBytes = 0L
  var bytesWritten = 0L
  /** Executor run time of tasks in the final stage of each job. */
  var resultRunMs = 0L
  /** Largest (slowest task ÷ mean task) over stages with ≥ 3 tasks. */
  var maxSkew = 1.0

  def add(o: TaskStats): Unit = {
    jobs += o.jobs; tasks += o.tasks; cpuNs += o.cpuNs; gcMs += o.gcMs
    spillBytes += o.spillBytes; shuffleWriteBytes += o.shuffleWriteBytes
    bytesWritten += o.bytesWritten
    resultRunMs += o.resultRunMs
    maxSkew = math.max(maxSkew, o.maxSkew)
  }
}

/** A root SQL execution as the listener saw it: its physical plan and the
 *  one-line description of the plan's root node (for a write, its target). */
final case class Execution(id: Long, startMs: Long, endMs: Long, plan: String, rootNode: String)

/**
 * The benchmark's own SparkListener. It attributes task metrics to the
 * key the submitting thread set (the `kgbench.key` local property: op and
 * layer) and to the root SQL execution, and records every root SQL
 * execution with its physical plan so spans can be rebuilt for code that
 * is observed from outside (`Runner.run`).
 */
final class Probe extends SparkListener {
  private val stageKey = mutable.Map[Int, (String, Long)]()
  private val stageTaskMs = mutable.Map[Int, ArrayBuffer[Long]]()
  private val resultStages = mutable.Set[Int]()
  private val byKey = mutable.Map[String, TaskStats]()
  private val byExec = mutable.Map[Long, TaskStats]()
  private val rootOf = mutable.Map[Long, Long]()
  private val starts = mutable.Map[Long, (Long, String, String)]()
  private val execs = ArrayBuffer[Execution]()

  private def stats(m: mutable.Map[String, TaskStats], k: String) = m.getOrElseUpdate(k, new TaskStats)
  private def execStats(e: Long) = byExec.getOrElseUpdate(e, new TaskStats)

  override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
    val p = j.properties
    val key = Option(p).flatMap(x => Option(x.getProperty("kgbench.key"))).getOrElse("")
    val exec = Option(p).flatMap(x => Option(x.getProperty("spark.sql.execution.id")))
      .map(_.toLong).map(e => rootOf.getOrElse(e, e)).getOrElse(-1L)
    j.stageIds.foreach(s => stageKey(s) = (key, exec))
    if (j.stageIds.nonEmpty) resultStages += j.stageIds.max
    stats(byKey, key).jobs += 1
    if (exec >= 0) execStats(exec).jobs += 1
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
    val (key, exec) = stageKey.getOrElse(t.stageId, ("", -1L))
    val m = t.taskMetrics
    val targets = Seq(stats(byKey, key)) ++ (if (exec >= 0) Seq(execStats(exec)) else Nil)
    targets.foreach { s =>
      s.tasks += 1
      if (m != null) {
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.bytesWritten += m.outputMetrics.bytesWritten
        if (resultStages(t.stageId)) s.resultRunMs += m.executorRunTime
      }
    }
    if (m != null) stageTaskMs.getOrElseUpdate(t.stageId, ArrayBuffer()) += m.executorRunTime
  }

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit = synchronized {
    val id = s.stageInfo.stageId
    stageTaskMs.remove(id).filter(_.length >= 3).foreach { ms =>
      val mean = ms.sum.toDouble / ms.length
      if (mean >= 1.0) {
        val skew = ms.max / mean
        val (key, exec) = stageKey.getOrElse(id, ("", -1L))
        val k = stats(byKey, key); k.maxSkew = math.max(k.maxSkew, skew)
        if (exec >= 0) { val e = execStats(exec); e.maxSkew = math.max(e.maxSkew, skew) }
      }
    }
    stageKey.remove(id)
    resultStages -= id
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        val root = s.rootExecutionId.map(_.asInstanceOf[Long]).getOrElse(s.executionId)
        rootOf(s.executionId) = root
        if (root == s.executionId)
          starts(s.executionId) = (s.time, s.physicalPlanDescription, s.sparkPlanInfo.simpleString)
      case e: SparkListenerSQLExecutionEnd =>
        starts.remove(e.executionId).foreach { case (t0, plan, node) =>
          execs += Execution(e.executionId, t0, e.time, plan, node)
        }
      case _ =>
    }
  }

  /** Metrics of every job submitted under `key`, summed. */
  def forKey(key: String): TaskStats = synchronized { byKey.getOrElse(key, new TaskStats) }

  /** Metrics of every job whose key starts with `prefix`, summed. */
  def forPrefix(prefix: String): TaskStats = synchronized {
    val t = new TaskStats
    byKey.foreach { case (k, s) => if (k.startsWith(prefix)) t.add(s) }
    t
  }

  def forExecution(id: Long): TaskStats = synchronized { byExec.getOrElse(id, new TaskStats) }

  /** Root executions that ended in [fromMs, toMs], in start order. */
  def executions(fromMs: Double, toMs: Double): Seq[Execution] = synchronized {
    execs.filter(x => x.startMs >= fromMs - 1 && x.endMs <= toMs + 1).sortBy(_.startMs).toSeq
  }
}

/** Minimal JSON number rendering: finite values keep all their digits. */
object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
}
