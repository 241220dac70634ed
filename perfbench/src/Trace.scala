package perfbench

import org.apache.spark.scheduler._
import scala.collection.mutable

/** In-memory spans: name, start, end, parent, and the id of the request
  * or micro-batch they belong to. Written out once, at the end of a run.
  * Self time is a span's duration minus the part covered by its
  * children. */
final case class Span(id: Int, name: String, unit: String, parent: Int,
    startNs: Long, var endNs: Long, var rows: Long)

final class Spans(val enabled: Boolean) {

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private val t0 = System.nanoTime()

  /** Times `body` as a span of `unit` (a request or micro-batch id). */
  def apply[T](name: String, unit: String)(body: => T): T =
    counted(name, unit)((_: T) => -1L)(body)

  /** As [[apply]], and reads the span's row count off the result. */
  def counted[T](name: String, unit: String)(rows: T => Long)(body: => T): T =
    if (!enabled) body
    else {
      val s = synchronized {
        val s = Span(spans.size, name, unit, stack.headOption.getOrElse(-1),
          System.nanoTime(), -1L, -1L)
        spans += s
        stack = s.id :: stack
        s
      }
      try {
        val out = body
        s.rows = rows(out)
        out
      } finally synchronized {
        s.endNs = System.nanoTime()
        stack = stack.tail
      }
    }

  def all: Seq[Span] = spans.toSeq

  def durMs(s: Span): Double = (s.endNs - s.startNs) / 1e6

  def selfMs(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id)
    durMs(s) - kids.map(durMs).sum
  }

  /** Summed duration of every span with this name. */
  def sumMs(name: String): Double = spans.filter(_.name == name).map(durMs).sum

  def byName(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  def rows(name: String): Long = spans.filter(_.name == name).map(_.rows)
    .filter(_ >= 0).sum

  def toJson: String = spans.map { s =>
    f"""{"id":${s.id},"name":"${s.name}","unit":"${s.unit}","parent":${s.parent},""" +
    f""""start_ms":${(s.startNs - t0) / 1e6}%.3f,"end_ms":${(s.endNs - t0) / 1e6}%.3f,""" +
    f""""self_ms":${selfMs(s)}%.3f,"rows":${s.rows}}"""
  }.mkString("[\n", ",\n", "\n]")
}

/** Spark engine counters for one workload, from the listener bus: jobs,
  * stages, tasks, executor run / CPU / GC time, shuffle and spill bytes,
  * per-stage task times (for skew) and the job group of each job. */
final class EngineListener extends SparkListener {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
  var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
  val taskTimes = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
  val jobsByGroup = mutable.HashMap.empty[String, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobsByGroup(g) = jobsByGroup.getOrElse(g, 0) + 1
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stages += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      runMs += m.executorRunTime; cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      taskTimes.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
        m.executorRunTime
    }
  }

  /** Median over stages with at least two tasks of max / median task
    * time. */
  def skew: Double = {
    val per = taskTimes.values.filter(_.size >= 2).map { ts =>
      val s = ts.sorted
      s.last.toDouble / math.max(1L, s(s.size / 2))
    }.toSeq.sorted
    if (per.isEmpty) 1.0 else per(per.size / 2)
  }

  def reset(): Unit = synchronized {
    jobs = 0; stages = 0; tasks = 0; runMs = 0; cpuNs = 0; gcMs = 0
    shuffleRead = 0; shuffleWrite = 0; spill = 0
    taskTimes.clear(); jobsByGroup.clear()
  }
}
