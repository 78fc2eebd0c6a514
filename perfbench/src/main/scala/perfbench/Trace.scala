package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Minimal JSON writer for the run record (keys are code-controlled). */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
}

/** One layer call: wall interval in epoch nanoseconds, the span that caused
  * it (0 = none) and the timed repetition it belongs to.
  */
final case class Span(
    id: Int, parent: Int, name: String, scope: String, iter: Int,
    startNs: Long, endNs: Long) {
  def json: String = Json.obj(Seq(
    "id" -> id.toString, "parent" -> parent.toString, "name" -> Json.str(name),
    "scope" -> Json.str(scope), "iter" -> iter.toString,
    "start_ns" -> startNs.toString, "end_ns" -> endNs.toString))
}

/** Records spans around calls into the engine when `on`; otherwise `span`
  * only runs its body. A span with a scope also tags the Spark jobs its body
  * submits with that scope as their job group, so the listener can charge
  * them to it.
  */
final class Tracer(sc: SparkContext, var on: Boolean) {
  private val offsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private val recorded = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 1
  var iter: Int = 0

  def now: Long = System.nanoTime() + offsetNs

  def span[T](name: String, scope: String = "")(body: => T): T =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
      if (scope.nonEmpty) sc.setJobGroup(scope, name)
      val t0 = now
      try body
      finally {
        recorded += Span(id, parent, name, scope, iter, t0, now)
        stack = stack.tail
        if (scope.nonEmpty) {
          if (prevGroup == null) sc.clearJobGroup() else sc.setJobGroup(prevGroup, "")
        }
      }
    }

  /** A child of the innermost open span whose interval is known only from a
    * duration the engine measured itself (its StageTimer).
    */
  def child(name: String, scope: String, startNs: Long, seconds: Double): Long = {
    val end = startNs + (seconds * 1e9).toLong
    if (on) {
      recorded += Span(nextId, stack.headOption.getOrElse(0), name, scope, iter, startNs, end)
      nextId += 1
    }
    end
  }

  def spans: Seq[Span] = recorded.toSeq
}

/** Per-job Spark totals and intervals, each job tagged with the job group
  * it ran under ("other" for none). Event times are epoch milliseconds.
  */
final class JobListener extends SparkListener {
  final class Job(val group: String, val startMs: Long) {
    var endMs = startMs
    var stages = 0; var tasks = 0
    var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shuffleWriteBytes = 0L; var spillBytes = 0L
    def json(id: Int): String = Json.obj(Seq(
      "id" -> id.toString, "group" -> Json.str(group),
      "start_ms" -> startMs.toString, "end_ms" -> endMs.toString,
      "stages" -> stages.toString, "tasks" -> tasks.toString,
      "task_run_ms" -> runMs.toString, "task_cpu_ns" -> cpuNs.toString,
      "gc_ms" -> gcMs.toString, "shuffle_write_bytes" -> shuffleWriteBytes.toString,
      "spill_bytes" -> spillBytes.toString))
  }

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("other")
    jobs(e.jobId) = new Job(group, e.time)
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  private def jobOf(stageId: Int): Option[Job] = stageJob.get(stageId).flatMap(jobs.get)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    jobOf(e.stageInfo.stageId).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    jobOf(e.stageId).foreach { j =>
      j.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  def json: String = synchronized {
    Json.arr(jobs.map { case (id, j) => j.json(id) })
  }
}
