package perfbench

import java.io.File
import java.time.Instant

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession

/** Benchmark harness: drives the program's public entry points for one
  * workload and writes its measurements as one JSON object.
  *
  * Usage: Main <workload> <seed> <seconds> <trace 0|1> <sfDir> <outJson>
  *   <traceJsonl>
  *
  * The working directory must be a fresh, empty directory: the program's
  * cwd-relative caches, Spark's warehouse dir and every staged and loaded
  * file land there, so each run starts from the same state. */
object Main {
  /** Spark task slots. Half the 4 vCPUs a run gets: the driver thread, the
    * JIT and the collector need the rest, and with every vCPU busy a vCPU
    * the host takes away stalls a task instead of idling a spare. Neither
    * workload ran measurably faster on 4 slots than on 2. */
  val Cores = 2

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, sfDir, outPath, tracePath) = args
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val work = new File(".").getAbsoluteFile.getParentFile

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "spark-warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(new File(work, "checkpoints").getPath)
    val sessionS = (System.nanoTime() - t0) / 1e9

    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    def mark(what: String): Unit = System.err.println(
      f"[perfbench] ${(System.currentTimeMillis() - jvmStart) / 1e3}%7.2f s since JVM start: $what")
    mark("session up")
    val listener = new JobListener
    val tracer = new Tracer(spark.sparkContext)
    val tracedS, untracedS = scala.collection.mutable.ArrayBuffer[Double]()
    var ticks = Seq.empty[(Long, Long)]
    /** Runs timed pass `i`; in a traced run odd passes are traced, and only
      * they register the listener and the layer wrappers. Logs the pass's
      * wall and CPU time (Host.cpuNs) and the host's steal share, which
      * tell host contention apart from the program's own cost. */
    def timedPass(i: Int)(run: Option[Tracer] => Double): Unit = {
      val c0 = Host.cpuNs()
      val h0 = Host.cpuTicks()
      val wall =
        if (trace && i % 2 == 1) {
          spark.sparkContext.addSparkListener(listener)
          try run(Some(tracer)) finally {
            PerfbenchBus.drain(spark.sparkContext)
            spark.sparkContext.removeSparkListener(listener)
          }
        } else run(None)
      (if (trace && i % 2 == 1) tracedS else untracedS) += wall
      val h1 = Host.cpuTicks()
      ticks = ticks ++ Seq(h0, h1)
      System.err.println(f"[perfbench] pass $i wall $wall%.2f s cpu " +
        f"${(Host.cpuNs() - c0) / 1e9}%.2f s host steal ${Host.stealRatio(h0, h1)}%.3f")
    }
    def steal = Host.stealRatio(ticks.head, ticks.last)
    def traceOverhead = Stats.median(tracedS) / Stats.median(untracedS) - 1

    val out = new java.util.LinkedHashMap[String, Any]()
    var correct = true
    var attempted = 0L
    var failed = 0L
    /** `n` untimed passes before the timed range, so the JIT has compiled
      * the hot paths and Spark has cached its generated code: the first
      * passes of a fresh JVM run up to 30 % slower, and how fast they speed
      * up depends on how busy the host is. Returns their wall seconds. */
    def warmUp(n: Int)(run: => Unit): Double = {
      val w0 = System.nanoTime()
      (1 to n).foreach(_ => run)
      val s = (System.nanoTime() - w0) / 1e9
      mark(s"warmed up: $n passes")
      s
    }
    /** Three passes at least (a traced run needs untraced and traced ones),
      * then passes as long as one more, as long as the median so far, ends
      * before the run's time is up. Each pass starts from a collected heap,
      * untimed: the old generation's high-water mark, and with it the peak
      * RSS, then does not grow with the number of passes that fit. */
    def timedRange(run: Option[Tracer] => Double): Unit = {
      val deadline = System.nanoTime() + (seconds * 1e9).toLong
      val walls = scala.collection.mutable.ArrayBuffer[Double]()
      while (walls.size < 3 ||
             System.nanoTime() + Stats.median(walls.toSeq) * 1e9 < deadline) {
        System.gc()
        val t = System.nanoTime()
        timedPass(walls.size)(run)
        walls += (System.nanoTime() - t) / 1e9
      }
    }

    workload match {
      case "etl_hourly" =>
        // a week of history: the sync points of 2024-01-01 up to the first window
        val shape = EtlShape(hours = 1, windows = 4, history = 168)
        // a fixed week of the table, so every seed asks for the same amount
        // of work; the seed only changes what the records hold
        val from = Instant.parse("2024-01-08T00:00:00Z")
        // the windows and the probe's day are all within the first day
        val events = Generator.readEvents(spark, sfDir, from, from.plusSeconds(86400))
        val gen = new Generator(seed, events)
        val windows = gen.windows(from, shape.hours, shape.windows)
        // the per-row probe's bundle: the first day at the same density
        val probeWindow = if (trace) gen.windows(from, 24, 1).headOption else None
        mark("inputs generated")
        val etl = new Etl(spark, shape, windows, work, Cores)
        val warmS = warmUp(3)(etl.pass(None, record = false))
        timedRange(t => etl.pass(t, record = true))
        mark("timed range done")
        etl.check()
        mark("checked")
        etl.problems.foreach(p => System.err.println(s"[perfbench] check failed: $p"))
        correct = etl.problems.isEmpty
        attempted = etl.attempted
        failed = etl.failed
        out.put("setup_s", sessionS + warmS + Stats.median(etl.passSetupS))
        out.put("pass_cpu_s", Stats.median(etl.passCpuS))
        out.put("op_cpu_p50_s", Stats.median(etl.bundleCpuS))
        if (trace) {
          out.put("pass_wall_s", Stats.median(untracedS))
          val (decode, render, csv) = etl.probe(probeWindow.get)
          etl.layers(tracer, listener).foreach { case (k, v) => out.put(k, v) }
          out.put("sources.decode_s_per_krow", decode)
          out.put("transform.render_s_per_krow", render)
          out.put("sinks.csv_encode_s_per_krow", csv)
          out.put("trace_overhead", traceOverhead)
          out.put("host.steal_ratio", steal)
        }
        System.err.println(f"[perfbench] $workload: ${etl.passCpuS.size} passes of " +
          f"${windows.size} windows, ${etl.rows} rows/pass, session $sessionS%.2f s, warm-up $warmS%.2f s")
        etl.close()

      case "ops_mix" =>
        val ops = new Ops(spark, sfDir, work, seed)
        val warmS = warmUp(3)(ops.pass(None, record = false))
        timedRange(t => ops.pass(t, record = true))
        ops.writeOracle(new File(work, "oracle_sql.json"))
        attempted = ops.attempted
        failed = ops.failed
        correct = failed == 0
        out.put("setup_s", sessionS + warmS)
        out.put("pass_cpu_s", ops.passCpu)
        out.put("op_cpu_p50_s", ops.queryCpuP50)
        if (trace) {
          out.put("pass_wall_s", Stats.median(untracedS))
          ops.layers(tracer, listener, tracedS.toSeq).foreach { case (k, v) => out.put(k, v) }
          out.put("trace_overhead", traceOverhead)
          out.put("host.steal_ratio", steal)
        }
        System.err.println(f"[perfbench] ops_mix: ${untracedS.size + tracedS.size} passes, " +
          f"session $sessionS%.2f s, warm-up $warmS%.2f s")

      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    if (trace) Trace.write(tracePath, tracer.spans.toSeq, listener.jobs.toSeq)

    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val o = m.createObjectNode()
    o.put("correct", correct)
    o.put("attempted", attempted)
    o.put("failed", failed)
    val mo = o.putObject("metrics")
    out.forEach((k, v) => mo.put(k, v.asInstanceOf[Double]))
    m.writeValue(new File(outPath), o)
    spark.stop()
    mark("stopped")
    // no thread left behind by the run may hold the JVM open
    System.exit(0)
  }
}

/** CPU accounting of this process and of the host. */
object Host {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of this process's threads, the collector's too but not the
    * JIT compiler's: compiling is the JVM finishing its warm-up, which a
    * long-running deployment has done, and how much of it falls into a
    * pass varies from run to run by more than the program's own cost.
    * Time the host gives another guest is not in it. */
  def cpuNs(): Long = os.getProcessCpuTime - jitCpuNs()

  // the compiler threads, found once: run.py turns off the JVM's adding and
  // removing of them, so the set does not change
  private lazy val jitThreads: Seq[java.nio.file.Path] =
    Option(new java.io.File("/proc/self/task").listFiles()).toSeq.flatten
      .filter { t =>
        val comm = new java.io.File(t, "comm")
        comm.exists() && new String(java.nio.file.Files.readAllBytes(comm.toPath))
          .contains("CompilerThre")
      }.map(t => new java.io.File(t, "stat").toPath)

  /** User plus system CPU of the JIT compiler threads, from /proc in clock
    * ticks of 10 ms. */
  def jitCpuNs(): Long = jitThreads.map { p =>
    val stat = new String(java.nio.file.Files.readAllBytes(p))
    // the fields after the command name: state is the first, then utime
    // and stime are the 12th and 13th
    val f = stat.substring(stat.lastIndexOf(')') + 2).split(' ')
    (f(11).toLong + f(12).toLong) * 10000000L
  }.sum

  /** Host CPU ticks from /proc/stat: (steal ticks, all ticks). */
  def cpuTicks(): (Long, Long) = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.sum)
    } finally src.close()
  }
  def stealRatio(a: (Long, Long), b: (Long, Long)): Double =
    (b._1 - a._1).toDouble / math.max(1L, b._2 - a._2)
}
