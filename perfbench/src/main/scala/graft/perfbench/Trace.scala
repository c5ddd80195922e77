package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._

/** In-memory span recorder for the traced run. A span is (id, parent,
  * op, name, start, end); spans nest on the single client thread, so the
  * parent is the innermost open span. Nothing is written until [[json]]
  * is called once at exit. */
final class Tracer(var enabled: Boolean) {
  final case class Span(id: Int, parent: Int, op: Int, name: String,
                        startNs: Long, var endNs: Long = -1L)
  private val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  var op: Int = -1

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, stack.headOption.map(_.id).getOrElse(-1), op,
        name, System.nanoTime())
      spans += s
      stack = s :: stack
      try body
      finally { s.endNs = System.nanoTime(); stack = stack.tail }
    }

  /** Total and self time per span name, in ms. Self time is a span's
    * duration minus the part its direct children cover (children nest
    * strictly inside their parent on one thread, so they never overlap). */
  def summary: Seq[(String, Int, Double, Double)] = {
    val childNs = Array.fill(spans.size)(0L)
    spans.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.endNs - s.startNs)
    spans.groupBy(_.name).toSeq.sortBy(_._1).map { case (n, ss) =>
      val tot = ss.map(s => s.endNs - s.startNs).sum
      val self = ss.map(s => s.endNs - s.startNs - childNs(s.id)).sum
      (n, ss.size, tot / 1e6, self / 1e6)
    }
  }

  def json: String = {
    val names = summary.map { case (n, c, t, s) =>
      f"""{"name":"$n","count":$c,"total_ms":$t%.3f,"self_ms":$s%.3f}""" }
    val raw = spans.map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    s"""{"by_name":[${names.mkString(",")}],"spans":[${raw.mkString(",")}]}"""
  }
}

/** Spark listener that attributes job, stage and task metrics to the
  * benchmark operation running when each job started. The client is one
  * thread running one operation at a time, so an operation's jobs are
  * exactly those whose start falls inside its [start, end] wall interval
  * — this also covers jobs launched by a streaming query's own thread. */
final class OpListener extends SparkListener {
  final class Acc {
    var jobs, stages, tasks, failed = 0L
    var taskMs, cpuNs, waitMs, inBytes, inRows, shW, shR, spill, gcMs = 0L
    val jobSpans = ArrayBuffer.empty[(Long, Long)]
  }
  private val opIntervals = ArrayBuffer.empty[(Int, Long, Long)]
  private var openOp: Option[(Int, Long)] = None
  private val jobStart = scala.collection.mutable.Map.empty[Int, (Int, Long)]
  private val stageOp = scala.collection.mutable.Map.empty[Int, Int]
  private val stageSubmit = scala.collection.mutable.Map.empty[Int, Long]
  val accs = scala.collection.mutable.Map.empty[Int, Acc]

  def beginOp(op: Int): Unit = synchronized {
    openOp = Some((op, System.currentTimeMillis()))
  }
  def endOp(): Unit = synchronized {
    openOp.foreach { case (op, t0) =>
      opIntervals += ((op, t0, System.currentTimeMillis())) }
    openOp = None
  }
  /** Wall ms of every finished operation, by operation index. */
  def opWalls: Map[Int, Long] = synchronized {
    opIntervals.map { case (op, a, b) => op -> (b - a) }.toMap
  }

  private def opAt(t: Long): Option[Int] =
    opIntervals.collectFirst { case (op, a, b) if t >= a && t <= b => op }
      .orElse(openOp.collect { case (op, a) if t >= a => op })

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    opAt(e.time).foreach { op =>
      jobStart(e.jobId) = (op, e.time)
      e.stageIds.foreach(stageOp(_) = op)
      accs.getOrElseUpdate(op, new Acc).jobs += 1
    }
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (op, t0) =>
      accs(op).jobSpans += ((t0, e.time)) }
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    e.stageInfo.submissionTime.foreach(stageSubmit(e.stageInfo.stageId) = _)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageOp.get(e.stageInfo.stageId).foreach(accs(_).stages += 1)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageOp.get(e.stageId).foreach { op =>
      val a = accs(op)
      a.tasks += 1
      if (!e.taskInfo.successful) a.failed += 1
      stageSubmit.get(e.stageId).foreach(s => a.waitMs += math.max(0L, e.taskInfo.launchTime - s))
      val m = e.taskMetrics
      if (m != null) {
        a.taskMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.inBytes += m.inputMetrics.bytesRead
        a.inRows += m.inputMetrics.recordsRead
        a.shW += m.shuffleWriteMetrics.bytesWritten
        a.shR += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.gcMs += m.jvmGCTime
      }
    }
  }

  /** Per-operation means over the traced operations, plus busy share. */
  def metrics(cores: Int): Map[String, Double] = synchronized {
    val walls = opWalls
    val n = math.max(walls.size, 1).toDouble
    val as = walls.keys.toSeq.map(accs.getOrElse(_, new Acc))
    def per(f: Acc => Long) = as.map(f).sum / n
    // operation wall not covered by any running job: analysis, planning,
    // codegen and driver-side work between jobs
    val driverMs = walls.toSeq.map { case (op, wall) =>
      val iv = accs.get(op).map(_.jobSpans.sortBy(_._1)).getOrElse(Nil)
      var covered, end = 0L
      iv.foreach { case (a, b) =>
        val s = math.max(a, end)
        if (b > s) covered += b - s
        end = math.max(end, b)
      }
      math.max(0L, wall - covered)
    }.sum / n
    val wallSum = walls.values.sum.toDouble
    Map(
      "spark.jobs" -> per(_.jobs), "spark.stages" -> per(_.stages),
      "spark.tasks" -> per(_.tasks), "spark.driver_ms" -> driverMs,
      "spark.task_ms" -> per(_.taskMs), "spark.task_cpu_ms" -> per(_.cpuNs) / 1e6,
      "spark.task_wait_ms" -> per(_.waitMs),
      "spark.busy_share" -> (if (wallSum > 0) as.map(_.taskMs).sum / (wallSum * cores) else 0.0),
      "spark.input_bytes" -> per(_.inBytes), "spark.input_rows" -> per(_.inRows),
      "spark.shuffle_write_bytes" -> per(_.shW), "spark.shuffle_read_bytes" -> per(_.shR),
      "spark.spill_bytes" -> per(_.spill), "spark.gc_ms" -> per(_.gcMs),
      "spark.failed_tasks" -> as.map(_.failed).sum.toDouble)
  }
}
