package graft.tools

import graft.{Bench, CacheRegistry, GraftSession, SparkEntry}
import graft.operators.{BucketedJoin, ConnectorQueries, StreamingOps}

/** Dev-loop profiler: runs each named query `runs` times in one JVM
  * into a noop sink, under the bench session and staging, and prints
  * per-run wall seconds plus the minimum over runs 2+ (run 1 doubles as
  * warm-up). After the last run of a query it prints that run's
  * per-stage table — stage id, tasks, median and max task ms,
  * max/median, stage name (callsite | plan operators) — top 15 by max
  * task, so a slow or skewed query is attributed to a stage and its
  * operators instead of guessed.
  *
  * `raw:<q>` profiles the plan Bench times (its raw operator variant
  * when one exists); a bare `<q>` profiles the gated query. `sfDir`
  * defaults to `$SPARK_GRAFT_SF_DIR`, `runs` to 3.
  *
  * Usage: runMain graft.tools.Profile <q|raw:q>[,...] [sfDir] [runs]
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val usage = "usage: Profile <q|raw:q>[,...] [sfDir] [runs]"
    require(args.nonEmpty, usage)
    val names = args(0).split(',').map(_.trim).filter(_.nonEmpty)
    val sfDir = args.lift(1).orElse(sys.env.get("SPARK_GRAFT_SF_DIR"))
      .getOrElse(sys.error(usage))
    val runs = args.lift(2).map(_.toInt).getOrElse(3)
    val plans = names.map { n =>
      val plan =
        if (n.startsWith("raw:")) Bench.benchPlan(n.stripPrefix("raw:"))
        else SparkEntry.queries.get(n)
      n -> plan.getOrElse(sys.error(s"unknown query: $n"))
    }
    val spark = GraftSession.local(GraftSession.cpus)
    val stageTasks = new StageTasks(spark)
    def brief(e: Throwable): String = s"${e.getClass.getSimpleName}: " +
      Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString

    // Bench's one-time ingest steps; a failed step is named, since the
    // queries that read its output then fail with unrelated errors
    Seq[(String, () => Unit)](
      "stage_bucketed" -> (() => BucketedJoin.stageBucketed(spark, sfDir)),
      "stage_events" -> (() => StreamingOps.stagedEventsDir(spark, sfDir)),
      "stage_connector" -> (() => ConnectorQueries.stage(spark, sfDir))
    ).foreach { case (step, run) =>
      try run()
      catch { case e: Throwable => println(s"PROFILE $step failed: ${brief(e)}") }
    }

    var failed = false
    for ((name, plan) <- plans) {
      try {
        val ts = (1 to runs).map { _ =>
          stageTasks.reset()
          val t0 = System.nanoTime()
          plan(spark, sfDir).write.format("noop").mode("overwrite").save()
          val dt = (System.nanoTime() - t0) / 1e9
          CacheRegistry.releaseAll()
          dt
        }
        val warm = ts.drop(1).minOption.map(m => f" (min $m%.2f)").getOrElse("")
        println(s"PROFILE $name ${ts.map(t => f"$t%.2f").mkString(" ")}$warm")
        println(f"${"stage"}%6s ${"tasks"}%6s ${"med ms"}%8s ${"max ms"}%8s ${"skew"}%6s  name")
        stageTasks.snapshot().sortBy(-_.maxMs).take(15).foreach { s =>
          println(f"${s.id}%6d ${s.tasks}%6d ${s.medianMs}%8d ${s.maxMs}%8d " +
            f"${s.ratio}%6.1f  ${s.name.linesIterator.nextOption().getOrElse("")}")
        }
      } catch { case e: Throwable =>
        failed = true
        CacheRegistry.releaseAll()
        println(s"PROFILE $name FAILED: ${brief(e)}")
      }
    }
    CacheRegistry.releaseShared()
    ConnectorQueries.stopAll()
    spark.stop()
    sys.exit(if (failed) 1 else 0)
  }
}
