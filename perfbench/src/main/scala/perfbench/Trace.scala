package perfbench

import org.apache.spark.scheduler._

import scala.collection.mutable

/** Spark's own counters for one op, summed over the op's jobs and tasks. */
final class Counters {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var taskFailures = 0
  var busyMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var schedDelayMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  /** (start, end) epoch milliseconds of every job of the op. */
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "task_failures" -> taskFailures, "task_busy_s" -> busyMs / 1e3,
    "task_cpu_s" -> cpuNs / 1e9, "gc_s" -> gcMs / 1e3,
    "sched_delay_s" -> schedDelayMs / 1e3, "shuffle_read_bytes" -> shuffleRead,
    "shuffle_write_bytes" -> shuffleWrite, "spill_bytes" -> spill,
    "job_intervals_ms" -> jobIntervals.map { case (a, b) => Seq(a, b) }.toSeq)
}

object OpListener {
  /** Local property naming the op a job belongs to. */
  val Key = "perfbench.op"
}

/** Attributes jobs, stages and tasks to the op whose id the driver thread
  * set in the `perfbench.op` local property when it submitted the job. */
final class OpListener extends SparkListener {
  private val byOp = mutable.HashMap.empty[Int, Counters]
  private val jobOp = mutable.HashMap.empty[Int, (Int, Long)]
  private val stageOp = mutable.HashMap.empty[Int, Int]

  def counters(op: Int): Counters = synchronized(byOp.getOrElseUpdate(op, new Counters))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty(OpListener.Key))).foreach { p =>
      val op = p.toInt
      jobOp(e.jobId) = (op, e.time)
      counters(op).jobs += 1
      e.stageIds.foreach(stageOp(_) = op)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobOp.remove(e.jobId).foreach { case (op, t0) => counters(op).jobIntervals += ((t0, e.time)) }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageOp.get(e.stageInfo.stageId).foreach(op => counters(op).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageOp.get(e.stageId).foreach { op =>
      val c = counters(op)
      val i = e.taskInfo
      c.tasks += 1
      if (i.failed || i.killed) c.taskFailures += 1
      c.busyMs += i.duration
      val m = e.taskMetrics
      if (m != null) {
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        // the scheduler-delay formula of Spark's own stage page
        c.schedDelayMs += math.max(0L, i.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - i.gettingResultTime)
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }
}

final case class Span(id: Int, name: String, op: Int, parent: Int, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder: one span per timed layer call, nested by the
  * call stack, tagged with the op id. Disabled, it is a plain call. */
final class Spans(val on: Boolean) {
  val all = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var next = 0
  var op: Int = -1
  /** Set while an untraced op runs inside a traced run. */
  var paused = false

  def apply[T](name: String)(f: => T): T =
    if (!on || paused) f
    else {
      val id = next
      next += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        all += Span(id, name, op, parent, t0, t1)
      }
    }

  /** Self time per layer name: span time minus the time of its children. */
  def selfSeconds: Map[String, Double] = {
    val childTime = all.groupMapReduce(_.parent)(_.seconds)(_ + _)
    all.groupMapReduce(_.name)(s => s.seconds - childTime.getOrElse(s.id, 0.0))(_ + _)
  }

  def writeJsonl(path: String): Unit = {
    val lines = all.sortBy(_.id).map { s =>
      Json(Map("id" -> s.id, "name" -> s.name, "op" -> s.op, "parent" -> s.parent,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs))
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), lines.mkString("", "\n", "\n"))
  }
}

/** Minimal JSON writer for the result records (maps, sequences, scalars). */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.toSeq.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
