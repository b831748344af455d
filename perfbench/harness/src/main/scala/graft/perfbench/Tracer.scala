package graft.perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Span recorder for a traced run: workload -> step -> Spark job ->
  * stage, each span with its parent. Steps run one at a time; the
  * harness drains the listener bus at the end of every step, so every
  * job event a step posted is delivered while that step is current. A
  * step whose jobs or stages did not all end is an error, never a
  * silent drop. */
final class Tracer(cores: Int, workload: String) extends SparkListener {

  final class StepSpan(val id: String, val name: String, val family: String,
      val start: Long) {
    var end = 0L
    val jobs = mutable.ArrayBuffer[Int]()
  }
  final class JobSpan(val start: Long) {
    @volatile var end = -1L
  }
  final class StageSpan(val id: Int, val attempt: Int, val job: Int,
      val name: String) {
    var submitted = -1L
    var completed = -1L
    var taskMs = 0L
    var cpuMs = 0L
    var gcMs = 0L
    var shuffleWrite = 0L
    var spill = 0L
    var inputBytes = 0L
    var records = 0L
    var tasks = 0
    var firstLaunch = Long.MaxValue
    val taskDurations = mutable.ArrayBuffer[Long]()
  }

  private val t0 = System.currentTimeMillis()
  @volatile private var current: StepSpan = _
  /** Jobs that started while no step was current. */
  private val orphans = new java.util.concurrent.atomic.AtomicInteger()
  private val steps = mutable.ArrayBuffer[StepSpan]()
  private val jobs = new ConcurrentHashMap[Int, JobSpan]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stages = new ConcurrentHashMap[(Int, Int), StageSpan]()

  def beginStep(name: String, family: String): Unit = {
    val s = new StepSpan(s"step${steps.size}", name, family,
      System.currentTimeMillis())
    steps += s
    current = s
  }

  /** Waits for the bus to deliver the step's events, then checks every
    * job the step started ended and every stage it submitted completed. */
  def endStep(sc: SparkContext): Unit = {
    org.apache.spark.graftbench.BusDrain(sc)
    val s = current
    s.end = System.currentTimeMillis()
    current = null
    val open = s.jobs.filter(j => jobs.get(j).end < 0)
    val openStages = stages.values.asScala.filter(st =>
      s.jobs.contains(st.job) && st.submitted >= 0 && st.completed < 0)
    if (orphans.get > 0)
      throw new IllegalStateException(
        s"${orphans.get} jobs started outside any step")
    if (open.nonEmpty || openStages.nonEmpty)
      throw new IllegalStateException(s"step ${s.name}: jobs " +
        s"${open.mkString(",")} / stages " +
        s"${openStages.map(_.id).mkString(",")} not accounted for")
  }

  private def stage(id: Int, attempt: Int, name: String): StageSpan =
    stages.computeIfAbsent((id, attempt), _ =>
      new StageSpan(id, attempt, stageJob.getOrDefault(id, -1), name))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val s = current
    if (s == null) { orphans.incrementAndGet(); return }
    e.stageIds.foreach(st => stageJob.putIfAbsent(st, e.jobId))
    jobs.put(e.jobId, new JobSpan(e.time))
    s.synchronized { s.jobs += e.jobId }
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val i = e.stageInfo
    stage(i.stageId, i.attemptNumber(), i.name).submitted =
      i.submissionTime.getOrElse(System.currentTimeMillis())
  }
  override def onTaskStart(e: SparkListenerTaskStart): Unit = {
    val st = stage(e.stageId, e.stageAttemptId, "")
    st.synchronized {
      st.firstLaunch = math.min(st.firstLaunch, e.taskInfo.launchTime)
    }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val st = stage(e.stageId, e.stageAttemptId, "")
    st.synchronized { st.taskDurations += e.taskInfo.duration }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val st = stage(i.stageId, i.attemptNumber(), i.name)
    st.completed = i.completionTime.getOrElse(System.currentTimeMillis())
    if (st.submitted < 0)
      st.submitted = i.submissionTime.getOrElse(st.completed)
    st.tasks = i.numTasks
    val m = i.taskMetrics
    if (m != null) {
      st.taskMs = m.executorRunTime
      st.cpuMs = m.executorCpuTime / 1000000L
      st.gcMs = m.jvmGCTime
      st.shuffleWrite = m.shuffleWriteMetrics.bytesWritten
      st.spill = m.diskBytesSpilled + m.memoryBytesSpilled
      st.inputBytes = m.inputMetrics.bytesRead
      st.records = m.inputMetrics.recordsRead
    }
  }

  private def stepStages(s: StepSpan): Seq[StageSpan] = {
    val js = s.jobs.toSet
    stages.values.asScala.toSeq.filter(st => js(st.job) && st.completed >= 0)
  }

  /** The stages of the steps whose name matches, for the layer probes. */
  def stagesOf(stepName: String): Seq[StageSpan] =
    steps.filter(_.name == stepName).flatMap(stepStages).toSeq

  /** `operators.F.*` per traced pass for every family F. */
  def familyMetrics(passes: Int): Seq[(String, Double)] =
    Tracer.Families.flatMap { f =>
      val ss = steps.filter(_.family == f)
      val st = ss.flatMap(stepStages)
      val wallMs = st.map(x => x.completed - x.submitted).sum
      val taskMs = st.map(_.taskMs).sum
      def per(x: Double) = x / passes
      Seq(
        s"operators.$f.task_s" -> per(taskMs / 1e3),
        s"operators.$f.cpu_s" -> per(st.map(_.cpuMs).sum / 1e3),
        s"operators.$f.gc_s" -> per(st.map(_.gcMs).sum / 1e3),
        s"operators.$f.idle_slot_s" ->
          per(math.max(0L, wallMs * cores - taskMs) / 1e3),
        s"operators.$f.shuffle_mb" ->
          per(st.map(_.shuffleWrite).sum / 1e6),
        s"operators.$f.spill_mb" -> per(st.map(_.spill).sum / 1e6),
        s"operators.$f.stages" -> per(st.size.toDouble),
        s"operators.$f.jobs" -> per(ss.map(_.jobs.size).sum.toDouble))
    }

  /** Writes one JSON line per span, parents first; returns the count. */
  def writeSpans(path: Path): Long = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods.{compact, render}
    val out = mutable.ArrayBuffer[String]()
    def emit(fields: (String, JValue)*): Unit =
      out += compact(render(JObject(fields.toList)))
    emit("id" -> JString("workload"), "parent" -> JNull,
      "kind" -> JString("workload"), "name" -> JString(workload),
      "start_ms" -> JLong(0L),
      "end_ms" -> JLong(System.currentTimeMillis() - t0))
    steps.foreach { s =>
      emit("id" -> JString(s.id), "parent" -> JString("workload"),
        "kind" -> JString("step"), "name" -> JString(s.name),
        "family" -> JString(s.family), "start_ms" -> JLong(s.start - t0),
        "end_ms" -> JLong(s.end - t0))
      s.jobs.foreach { j =>
        val js = jobs.get(j)
        emit("id" -> JString(s"job$j"), "parent" -> JString(s.id),
          "kind" -> JString("job"), "name" -> JString(s"job $j"),
          "start_ms" -> JLong(js.start - t0), "end_ms" -> JLong(js.end - t0))
        stages.values.asScala.toSeq.filter(_.job == j).sortBy(_.id)
          .foreach { st =>
            emit("id" -> JString(s"stage${st.id}.${st.attempt}"),
              "parent" -> JString(s"job$j"), "kind" -> JString("stage"),
              "name" -> JString(st.name),
              "start_ms" -> JLong(st.submitted - t0),
              "end_ms" -> JLong(st.completed - t0),
              "tasks" -> JLong(st.tasks.toLong),
              "task_ms" -> JLong(st.taskMs), "cpu_ms" -> JLong(st.cpuMs),
              "gc_ms" -> JLong(st.gcMs),
              "shuffle_write_b" -> JLong(st.shuffleWrite),
              "spill_b" -> JLong(st.spill),
              "input_b" -> JLong(st.inputBytes))
          }
      }
    }
    Files.write(path, out.mkString("", "\n", "\n").getBytes("UTF-8"))
    out.size.toLong
  }
}

object Tracer {
  val Families: Seq[String] = Seq("decode", "pruned_scan", "flow",
    "relational", "dedup", "similarity", "graph", "text", "write",
    "archive_scan")
}
