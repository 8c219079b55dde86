package graft.tools

import graft.SparkTestBase

/** The shared per-stage task listener behind `Profile` and
  * `ScaleSmoke heavy`, and the skew rule both apply. */
class StageTasksSpec extends SparkTestBase {

  test("a snapshot straight after the action holds every stage's tasks") {
    val stageTasks = new StageTasks(spark)
    try {
      stageTasks.reset()
      spark.sparkContext.parallelize(1 to 100, 4)
        .map(x => (x % 3, x)).reduceByKey(_ + _, 3).count()
      val stages = stageTasks.snapshot()
      assert(stages.map(_.tasks) == Seq(4, 3))
      assert(stages.forall(_.name.contains("StageTasksSpec.scala")),
        stages.map(_.name))
      stageTasks.reset()
      assert(stageTasks.snapshot().isEmpty)
    } finally stageTasks.stop()
  }

  test("skew rule: >= 8 tasks and a >= 300 ms median count; > 10x fails") {
    def stage(durations: Seq[Long]) = StageStat.of(0, "s", durations)
    val cases = Seq(
      // (stage, counted ratio, skewed)
      (stage(Seq.fill(6)(1000L) :+ 50000L), None, false), // 7 tasks
      (stage(Seq.fill(7)(299L) :+ 50000L), None, false), // 299 ms median
      (stage(Seq.fill(7)(300L) :+ 3000L), Some(10.0), false), // exactly 10x
      (stage(Seq.fill(7)(300L) :+ 3030L), Some(10.1), true)) // 10.1x
    cases.foreach { case (s, ratio, skewed) =>
      assert(StageTasks.gatedRatio(s) == ratio, s)
      assert(StageTasks.skewed(s) == skewed, s)
    }
    // the median is the upper one, floored at 1 ms
    assert(stage(Seq(1L, 2L, 3L, 4L)).medianMs == 3)
    assert(stage(Seq(0L, 0L, 5L)).medianMs == 1)
  }
}
