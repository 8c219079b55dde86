package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One benchmark run in one JVM: set up three times, then
  * drive the workload's ops in a closed loop for `--seconds`, checking
  * each op's output after its clock stops. Writes the raw record (every
  * op's latency, CPU, rows and check; set-up times; with `--trace 1` the
  * per-layer samples, task metrics and spans) as JSON to `--out`;
  * `run.py` turns it into metrics.
  *
  * Usage: Main --workload W --data DIR --work DIR --out FILE --seconds S
  *   --trace 0|1 --cores N
  */
object Main {
  /** The tail latency needs at least this many ops. */
  private val MinOps = 11
  /** Set-up rounds; `setup_s` is their median. */
  private val SetupRounds = 3

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val work = Paths.get(a("work"))
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val cores = a("cores").toInt
    val wl = Workload(a("workload"), Paths.get(a("data")), work)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    Files.createDirectories(work)

    // each round is a complete set-up: session, server and tables,
    // catalog, workload state and its warm-up ops
    val setupS = mutable.ArrayBuffer.empty[Double]
    var coldS = 0.0
    var last: Option[Env] = None
    var warm: Seq[() => Option[String]] = Nil
    for (r <- 0 until SetupRounds) {
      val t0 = System.nanoTime()
      val e = Env.open(wl, work, cores, last)
      log("  session and server up")
      wl.prepare(e)
      log("  prepared")
      warm = wl.warmup.map { i => val c = wl.run(e, i, Tracer.off); log(s"  warm-up op $i"); c }
      setupS += (System.nanoTime() - t0) / 1e9
      if (r == 0) coldS = (System.currentTimeMillis() - jvmStart) / 1e3
      last = Some(e)
      log(f"setup round ${r + 1}: ${setupS.last}%.3f s")
    }
    val env = last.get
    val spark = env.spark
    wl.loadExpected(env)
    val warmErrors = warm.flatMap(_())
    log("expected answers loaded")

    val tracer = new Tracer(trace)
    val listener = new ExecListener
    if (trace) spark.sparkContext.addSparkListener(listener)
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val jit = new JitCpu
    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    val probeErrors = mutable.ArrayBuffer.empty[String]
    val loopStart = System.nanoTime()
    def elapsed = (System.nanoTime() - loopStart) / 1e9
    var i = 0
    // the loop stops at the first block boundary after `seconds` (every
    // run then holds whole blocks of the op mix), or later only to reach
    // MinOps; a hard cap keeps a stalled program within the time limit
    while ((elapsed < seconds || i < MinOps || i % wl.blockLen != 0) &&
        elapsed < 2 * seconds + 30) {
      val traced = trace && (i / wl.blockLen) % 2 == 1
      val tr = if (traced) tracer else Tracer.off
      tracer.op = i
      spark.sparkContext.setJobGroup(s"op-$i", "op", false)
      val j0 = jit.seconds
      val c0 = os.getProcessCpuTime
      val t0 = System.nanoTime()
      val result =
        try Right(tr.span("op")(wl.run(env, i, tr)))
        catch { case e: Throwable => Left(e) }
      val lat = (System.nanoTime() - t0) / 1e9
      val cpu = (os.getProcessCpuTime - c0) / 1e9
      val jitCpu = jit.seconds - j0
      spark.sparkContext.setJobGroup(s"check-$i", "check", false)
      val error = result match {
        case Left(e) => Some(s"threw ${e.toString}")
        case Right(check) =>
          try check() catch { case e: Throwable => Some(s"check threw $e") }
      }
      if (traced) {
        spark.sparkContext.setJobGroup(s"probe-$i", "probe", false)
        try tr.span("probe")(wl.probe(env, i, tr, lat))
        catch { case e: Throwable => probeErrors += s"op $i: $e" }
      }
      ops += Map("i" -> i, "kind" -> wl.kind(i), "traced" -> traced,
        "latency_s" -> lat, "cpu_s" -> (cpu - jitCpu), "jit_cpu_s" -> jitCpu,
        "rows" -> wl.rows(i),
        "error" -> error)
      i += 1
    }
    log(s"loop: $i ops")
    spark.sparkContext.clearJobGroup()
    if (trace) org.apache.spark.graftbench.ListenerBusDrain(spark.sparkContext)

    val spansFile = work.resolve("spans.jsonl")
    if (trace) {
      val w = Files.newBufferedWriter(spansFile)
      try tracer.spans.foreach { s =>
        w.write(Json.mapper.writeValueAsString(Json.toJava(Map("id" -> s.id,
          "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
          "parent" -> s.parent, "op" -> s.op))))
        w.newLine()
      } finally w.close()
    }
    Json.write(Paths.get(a("out")), Map(
      "workload" -> a("workload"),
      "trace" -> trace,
      "cores" -> cores,
      "java_version" -> System.getProperty("java.version"),
      "spark_version" -> spark.version,
      "setup_rounds_s" -> setupS.toSeq,
      "setup_cold_s" -> coldS,
      "warmup_errors" -> warmErrors,
      "loop_wall_s" -> elapsed,
      "ops" -> ops.toSeq,
      "rss_peak_mb" -> vmHwmMb,
      "samples" -> tracer.samples.map { case (k, v) => k -> v.toSeq },
      "exec" -> (if (trace) listener.snapshot else Map.empty),
      "probe_errors" -> probeErrors.toSeq,
      "spans_file" -> (if (trace) spansFile.toString else null)))
    env.server.stop()
    spark.stop()
    sys.exit(0)
  }

  /** CPU seconds of the JIT compiler threads, which the JVM hides from
    * ThreadMXBean. In a JVM this young they take about a third of process
    * CPU and are its main source of run-to-run noise, so op CPU excludes
    * them. Needs -XX:-UseDynamicNumberOfCompilerThreads, which keeps the
    * thread set fixed. Ticks are USER_HZ, 100 on Linux. */
  private final class JitCpu {
    private def stat(task: Path): Seq[String] =
      new String(Files.readAllBytes(task.resolve("stat"))).split("\\) ", 2)(1).split(' ').toSeq
    private val tasks: Seq[Path] = {
      val st = Files.list(Paths.get("/proc/self/task"))
      try st.iterator.asScala.filter { t =>
        val comm = new String(Files.readAllBytes(t.resolve("comm"))).trim
        comm.startsWith("C1 Compiler") || comm.startsWith("C2 Compiler")
      }.toList finally st.close()
    }
    def seconds: Double =
      tasks.map { t => val f = stat(t); f(11).toLong + f(12).toLong }.sum / 100.0
  }

  private def log(msg: String): Unit =
    System.err.println(f"[connbench ${ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%8.3f] $msg")

  /** Peak resident set (VmHWM) of this JVM in MiB. */
  private def vmHwmMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
}

object Json {
  val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  def toJava(v: Any): AnyRef = v match {
    case m: scala.collection.Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, AnyRef]()
      m.foreach { case (k, x) => out.put(k.toString, toJava(x)) }
      out
    case o: Option[_] => o.map(toJava).orNull
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case x => x.asInstanceOf[AnyRef]
  }

  def write(p: Path, v: Any): Unit = mapper.writeValue(p.toFile, toJava(v))
}
