package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One completed Spark stage, attributed to the job group that was set on
  * the thread that started its job. */
final case class StageRec(
    tag: String, stageId: Int, name: String, tasks: Int, wallS: Double,
    taskS: Double, cpuS: Double, gcS: Double, taskMaxS: Double, taskMedianS: Double,
    shuffleWriteBytes: Long, spillBytes: Long)

/** Per-stage counters of the traced run. The harness tags every timed call
  * with a job group (`Tracer.span`), so each stage belongs to exactly one
  * workload phase or query. */
final class StageListener extends SparkListener {
  private val stageTag = new ConcurrentHashMap[Int, String]()
  private val taskTimes = new ConcurrentHashMap[Int, ArrayBuffer[Long]]()
  private final class Acc { var cpuNs = 0L; var gcMs = 0L; var shuffleW = 0L; var spill = 0L }
  private val accs = new ConcurrentHashMap[Int, Acc]()
  val stages = new java.util.concurrent.ConcurrentLinkedQueue[StageRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("untagged")
    e.stageIds.foreach(id => stageTag.putIfAbsent(id, tag))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    taskTimes.computeIfAbsent(e.stageId, _ => ArrayBuffer.empty[Long])
      .synchronized { taskTimes.get(e.stageId) += e.taskInfo.duration }
    val m = e.taskMetrics
    if (m != null) {
      val a = accs.computeIfAbsent(e.stageId, _ => new Acc)
      a.synchronized {
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shuffleW += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val times = Option(taskTimes.remove(si.stageId)).map(_.sorted).getOrElse(ArrayBuffer.empty[Long])
    val a = Option(accs.remove(si.stageId)).getOrElse(new Acc)
    val wall = si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L)
    stages.add(StageRec(
      tag = Option(stageTag.get(si.stageId)).getOrElse("untagged"),
      stageId = si.stageId,
      name = si.name.takeWhile(_ != '(').trim,
      tasks = si.numTasks,
      wallS = wall / 1e3,
      taskS = times.sum / 1e3,
      cpuS = a.cpuNs / 1e9,
      gcS = a.gcMs / 1e3,
      taskMaxS = if (times.isEmpty) 0.0 else times.last / 1e3,
      taskMedianS = if (times.isEmpty) 0.0 else times(times.length / 2) / 1e3,
      shuffleWriteBytes = a.shuffleW,
      spillBytes = a.spill))
  }

  /** Stages whose job group equals `tag`. Stage-completion events arrive
    * asynchronously, so callers `drain` the listener bus first. */
  def stagesOf(tag: String): Seq[StageRec] = stages.asScala.filter(_.tag == tag).toSeq
}

/** Spans and stage records of one run, written as JSON lines. Each record
  * carries the run (its JVM's start time in ms), workload and seed. With
  * tracing off, `span` only times the call. */
final class Tracer(sc: SparkContext, val enabled: Boolean, workload: String, seed: Long) {
  private val listener = new StageListener
  private val lines = ArrayBuffer.empty[String]
  private val runId = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  private var attached = false
  private var tagSeq = 0

  /** Attach or detach the stage listener (the traced run alternates passes
    * with and without it to measure its overhead). */
  def active(on: Boolean): Unit = if (enabled && on != attached) {
    if (on) sc.addSparkListener(listener) else { drain(); sc.removeSparkListener(listener) }
    attached = on
  }

  def drain(): Unit = org.apache.spark.ListenerBusAccess.drain(sc)

  /** Time `f`; when tracing, run its jobs under a fresh job group named after
    * `phase` and record the span. Returns (result, seconds, tag). */
  def span[T](phase: String)(f: => T): (T, Double, String) = {
    tagSeq += 1
    val tag = s"$workload/$phase#$tagSeq"
    if (attached) sc.setJobGroup(tag, phase, interruptOnCancel = false)
    val t0 = System.nanoTime()
    try {
      val r = f
      val s = (System.nanoTime() - t0) / 1e9
      if (attached) record("span", s""""phase":${Json.str(phase)},"tag":${Json.str(tag)},"seconds":$s""")
      (r, s, tag)
    } finally if (attached) sc.clearJobGroup()
  }

  def stagesOf(tag: String): Seq[StageRec] = { drain(); listener.stagesOf(tag) }

  /** Keep one record of `kind` with the given JSON fields. */
  def record(kind: String, fields: String): Unit = if (enabled) lines.synchronized {
    lines += s"""{"type":"$kind","run":$runId,"workload":"$workload","seed":$seed,$fields}"""
  }

  /** Append every stage record and span to `path`. */
  def write(path: java.nio.file.Path): Unit = if (enabled) {
    drain()
    listener.stages.asScala.foreach { s =>
      record("stage", s""""tag":${Json.str(s.tag)},""" +
        s""""stage":${s.stageId},"name":${Json.str(s.name)},"tasks":${s.tasks},"wall_s":${s.wallS},""" +
        s""""task_s":${s.taskS},"cpu_s":${s.cpuS},"gc_s":${s.gcS},"task_max_s":${s.taskMaxS},""" +
        s""""task_median_s":${s.taskMedianS},"shuffle_write_bytes":${s.shuffleWriteBytes},""" +
        s""""spill_bytes":${s.spillBytes}""")
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
  }
}

object Json {
  /** A JSON number; NaN and infinities, which JSON cannot hold, become 0. */
  def num(v: Double): String = if (v.isNaN || v.isInfinite) "0.0" else v.toString

  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
