package graft.tools

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftshim.ListenerBus

/** One stage's task times. */
final case class StageStat(id: Int, name: String, tasks: Int,
    medianMs: Long, maxMs: Long) {
  def ratio: Double = maxMs.toDouble / medianMs
}

object StageStat {

  /** `medianMs` is the upper median, floored at 1 ms so the max/median
    * ratio is always defined. */
  def of(id: Int, name: String, durationsMs: Seq[Long]): StageStat = {
    val ds = durationsMs.sorted
    StageStat(id, name, ds.length, math.max(ds(ds.length / 2), 1L), ds.last)
  }
}

/** Per-stage task listener shared by `Profile` and `ScaleSmoke heavy`:
  * records every task's duration and every stage's name (callsite and
  * plan operators) from registration or the last [[reset]] on. Both
  * calls first drain the listener bus, so every task of an action that
  * has returned lands before a [[snapshot]] and none lands after a
  * [[reset]]. */
final class StageTasks(spark: SparkSession) {
  private val durations = new ConcurrentHashMap[Int, ConcurrentLinkedQueue[Long]]()
  private val names = new ConcurrentHashMap[Int, String]()

  private val listener = new SparkListener {
    // the callsite alone names every AQE-submitted stage after the same
    // thread-pool frame, so the stage's plan operators (RDD scopes, in
    // dataflow order) follow it
    override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
      names.put(s.stageInfo.stageId, s.stageInfo.name + " | " +
        s.stageInfo.rddInfos.sortBy(_.id).flatMap(_.scope.map(_.name))
          .distinct.mkString(" > "))
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
      durations.computeIfAbsent(t.stageId, _ => new ConcurrentLinkedQueue[Long]())
        .add(t.taskInfo.duration)
  }
  spark.sparkContext.addSparkListener(listener)

  def reset(): Unit = {
    ListenerBus.drain(spark.sparkContext)
    durations.clear()
    names.clear()
  }

  /** Every stage that ran a task since the last [[reset]], by id. */
  def snapshot(): Seq[StageStat] = {
    ListenerBus.drain(spark.sparkContext)
    durations.asScala.toSeq.map { case (id, q) =>
      StageStat.of(id, Option(names.get(id)).getOrElse("?"), q.asScala.toSeq)
    }.sortBy(_.id)
  }

  def stop(): Unit = spark.sparkContext.removeSparkListener(listener)
}

object StageTasks {

  /** The skew rule: a stage counts when it has at least 8 tasks and a
    * median task of at least 300 ms, and then yields its max/median
    * ratio; it passes while that ratio is at most 10. */
  def gatedRatio(s: StageStat): Option[Double] =
    if (s.tasks >= 8 && s.medianMs >= 300) Some(s.ratio) else None

  def skewed(s: StageStat): Boolean = gatedRatio(s).exists(_ > 10.0)
}
