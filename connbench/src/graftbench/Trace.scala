package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame

/** Spans and samples recorded by the benchmark around its calls into
  * each graft layer. A disabled tracer runs the body and records
  * nothing, so untraced runs pay only a branch per boundary. */
final class Tracer(val enabled: Boolean) {
  final case class Span(id: Int, name: String, startNs: Long, endNs: Long,
      parent: Int, op: Int)

  val spans = mutable.ArrayBuffer.empty[Span]
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  /** Op id stamped on every span opened from now on. */
  var op: Int = -1
  private var stack: List[Int] = Nil

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = spans.size + stack.size
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        stack = stack.tail
        spans += Span(id, name, t0, System.nanoTime(), parent, op)
      }
    }

  /** `body` inside a span, with its elapsed milliseconds. */
  def time[T](name: String)(body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = span(name)(body)
    (r, (System.nanoTime() - t0) / 1e6)
  }

  def sample(name: String, v: Double): Unit =
    if (enabled) samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  /** Catalyst's own phase timings for a frame that has been executed. */
  def phases(df: DataFrame): Unit =
    if (enabled) {
      val ph = df.queryExecution.tracker.phases
      Seq("analysis", "optimization", "planning").foreach { p =>
        sample(s"plan.${p}_ms", ph.get(p).map(_.durationMs.toDouble).getOrElse(0.0))
      }
    }
}

object Tracer {
  val off = new Tracer(false)
}

/** Task metrics summed per Spark job group. The harness runs each traced
  * op, its probes and its local twin under distinct job groups, so the
  * execution layer is attributed to exactly the op that caused it. */
final class ExecListener extends SparkListener {
  val fields = Seq("jobs", "stages", "tasks", "task_cpu_ns", "task_run_ms",
    "gc_ms", "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
    "input_bytes", "records_read")
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val totals = mutable.HashMap.empty[String, Array[Long]]

  private def add(group: String, field: Int, v: Long): Unit =
    totals.getOrElseUpdate(group, new Array[Long](fields.size))(field) += v

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    e.stageIds.foreach(stageGroup(_) = group)
    add(group, 0, 1)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stageGroup.get(e.stageInfo.stageId).foreach(add(_, 1, 1))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    stageGroup.get(e.stageId).filter(_ => m != null).foreach { g =>
      add(g, 2, 1)
      add(g, 3, m.executorCpuTime)
      add(g, 4, m.executorRunTime)
      add(g, 5, m.jvmGCTime)
      add(g, 6, m.shuffleWriteMetrics.bytesWritten)
      add(g, 7, m.shuffleReadMetrics.totalBytesRead)
      add(g, 8, m.memoryBytesSpilled + m.diskBytesSpilled)
      add(g, 9, m.inputMetrics.bytesRead)
      add(g, 10, m.inputMetrics.recordsRead)
    }
  }

  def snapshot: Map[String, Map[String, Long]] = synchronized {
    totals.map { case (g, a) => g -> fields.zip(a).toMap }.toMap
  }
}
