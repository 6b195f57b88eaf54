package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The record of one timed op: its wall time `ms` and the CPU time `cpuMs`
  * the whole process spent meanwhile. `extra` carries per-op layer counts.
  */
case class OpRec(id: Int, cls: String, mode: String, ms: Double, cpuMs: Double,
                 traced: Boolean, ok: Boolean, extra: Map[String, Double])

/** One benchmark run: the Spark session, the op clock, the checks' verdicts
  * and — when tracing — the listener and the spans.
  *
  * Tracing is off unless `trace`; in a traced run every other op of each
  * (class, mode) is traced (job group, spans, accumulator deltas) and the
  * untraced ones give the same run's baseline for the tracing overhead.
  */
final class Run(val spark: SparkSession, val work: String, val trace: Boolean) {
  private val t0Ms = System.currentTimeMillis()
  private val t0Ns = System.nanoTime()
  /** Now, on the epoch-millisecond clock of Spark's listener events. */
  def nowMs: Double = t0Ms + (System.nanoTime() - t0Ns) / 1e6

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** CPU time of the process so far (Spark driver, executors, GC), without
    * the JIT compiler threads. In local mode every Spark thread is in this
    * process, and unlike wall time it does not grow when other processes
    * take the host's cores.
    */
  def cpuMs: Double = os.getProcessCpuTime / 1e6 - jitMs
  private val jitTasks = Run.jitTasks()
  private def jitMs: Double = jitTasks.map(Run.taskCpuMs).sum

  val listener: Option[GroupListener] =
    if (trace) { val l = new GroupListener; spark.sparkContext.addSparkListener(l); Some(l) }
    else None

  /** CPU ms of each [[Run.calibrate]] of this run but the warm-up ones. */
  val calMs = mutable.ArrayBuffer[Double]()
  (0 until 30).foreach(_ => Run.calibrate())

  /** How much slower this run's cores ran than the reference host's: the
    * calibration loop's mean CPU over [[Run.ReferenceCalMs]]. It is sampled
    * before every op and around every set-up build, so it tracks the speed
    * of the cores through the run.
    */
  def slowdown: Double =
    if (calMs.isEmpty) 1.0 else calMs.sum / calMs.size / Run.ReferenceCalMs

  private def sampleSpeed(): Unit = calMs += Run.calibrate()

  val ops = mutable.ArrayBuffer[OpRec]()
  val spans = mutable.ArrayBuffer[Span]()
  val failures = mutable.ArrayBuffer[String]()
  /** Ops whose output failed a check made after the op (the oracle). */
  val failedLater = mutable.Set[Int]()
  private var current: Option[Int] = None
  private var nextId = 0
  private val perKey = mutable.Map[String, Int]().withDefaultValue(0)

  /** Times one op. `body` returns whether the op's output passed its checks
    * and the op's layer counts; a throw counts as a failed op. Only the body's
    * time is on the clock. In a traced run every other op of each (class,
    * mode) is traced, or every op when `alwaysTrace`.
    */
  def op(cls: String, mode: String, alwaysTrace: Boolean = false)(
      body: => (Boolean, Map[String, Double])): OpRec = {
    val id = nextId
    nextId += 1
    val key = s"$cls/$mode"
    val traced = trace && (alwaysTrace || perKey(key) % 2 == 0)
    perKey(key) += 1
    sampleSpeed()
    if (traced) {
      current = Some(id)
      spark.sparkContext.setJobGroup(s"op-$id", s"$cls/$mode")
    }
    val (s, c) = (nowMs, cpuMs)
    val (ok, extra) =
      try body
      catch { case e: Exception =>
        failures += s"op $id $cls/$mode threw ${e.getClass.getSimpleName}: ${e.getMessage}"
        (false, Map.empty[String, Double])
      }
    val (e, ce) = (nowMs, cpuMs)
    if (traced) {
      spark.sparkContext.clearJobGroup()
      spans += Span("op", id, s, e)
      current = None
    }
    val rec = OpRec(id, cls, mode, e - s, ce - c, traced, ok, extra)
    ops += rec
    rec
  }

  /** Records a child span of the current traced op; its Spark jobs run
    * under the job group `op-<id>/<name>`.
    */
  def span[A](name: String)(body: => A): A = current match {
    case None => body
    case Some(id) =>
      val sc = spark.sparkContext
      sc.setJobGroup(s"op-$id/$name", name)
      val s = nowMs
      try body
      finally {
        spans += Span(name, id, s, nowMs)
        sc.setJobGroup(s"op-$id", "")
      }
  }

  /** Adds layer counts to a recorded op (computed outside its timing). */
  def annotate(id: Int, m: Map[String, Double]): Unit = {
    val i = ops.indexWhere(_.id == id)
    ops(i) = ops(i).copy(extra = ops(i).extra ++ m)
  }

  def fail(msg: String): Unit = failures.synchronized(failures += msg)

  def failOp(id: Int, msg: String): Unit = {
    fail(msg)
    failedLater.synchronized(failedLater += id)
  }

  /** A progress line on stderr, stamped with seconds since JVM start. */
  def log(msg: String): Unit = {
    val up = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    System.err.println(f"[perfbench +$up%.1fs] $msg")
  }

  /** Runs `body` as an untimed, traced-if-tracing job group of its own
    * (set-up builds), so its Spark work is attributed like an op's.
    */
  def group[A](name: String)(body: => A): A =
    if (!trace) body
    else {
      spark.sparkContext.setJobGroup(name, name)
      try body finally spark.sparkContext.clearJobGroup()
    }

  def timed[A](body: => A): (A, Double) = {
    val s = nowMs
    val r = body
    (r, nowMs - s)
  }

  /** Wall and process-CPU ms of `body`; samples the core speed before and after. */
  def cost(body: => Unit): (Double, Double) = {
    sampleSpeed()
    val (s, c) = (nowMs, cpuMs)
    body
    val spent = (nowMs - s, cpuMs - c)
    sampleSpeed()
    spent
  }
}

object Run {
  /** Local Spark on every core, as the benchmark's load shape fixes it. */
  def session(work: String): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("psispark-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The stat files of the JIT compiler threads. They live as long as the
    * JVM when it runs with `-XX:-UseDynamicNumberOfCompilerThreads`. In runs
    * this short the JIT never settles: it is still compiling Spark's
    * generated code in the last cycle, and its CPU is a large, noisy share
    * of every op.
    */
  def jitTasks(): Seq[Path] = {
    val st = Files.list(Paths.get("/proc/self/task"))
    try st.iterator().asScala.map(_.resolve("stat")).filter { f =>
      Files.readString(f.resolveSibling("comm")).trim.matches("C[12] CompilerThre.*")
    }.toList
    finally st.close()
  }

  /** User plus system CPU of one thread, from its `stat` file. */
  def taskCpuMs(stat: Path): Double = {
    val s = Files.readString(stat)
    val f = s.substring(s.lastIndexOf(')') + 2).split(' ')
    (f(11).toLong + f(12).toLong) * 1000.0 / Run.ClockTicks
  }

  private val Threads = java.lang.management.ManagementFactory.getThreadMXBean
  private val CalThreads = Runtime.getRuntime.availableProcessors()
  private val calPool = java.util.concurrent.Executors.newFixedThreadPool(CalThreads, r => {
    val t = new Thread(r, "perfbench-calibrate")
    t.setDaemon(true)
    t
  })
  private val calData = Array.tabulate(1 << 16)(i => i * 0x9e3779b9)
  /** Takes the loop's result, so that the JIT cannot drop the loop. */
  private val calSink = new java.util.concurrent.atomic.AtomicLong
  /** One random cycle through 8 MB per calibration thread (Sattolo's shuffle). */
  private val calCycles: IndexedSeq[Array[Int]] = (0 until CalThreads).map { t =>
    val a = Array.range(0, 1 << 21)
    val rnd = new java.util.SplittableRandom(t)
    var i = a.length - 1
    while (i > 0) { val j = rnd.nextInt(i); val x = a(i); a(i) = a(j); a(j) = x; i -= 1 }
    a
  }

  /** CPU ms of one pass of the calibration loop on thread `t`: a fixed hash
    * over 256 KB (core speed) and a walk of 40k steps along its random cycle
    * (cache and memory latency), without allocation or engine code.
    */
  private def calPass(t: Int): Double = {
    val t0 = Threads.getCurrentThreadCpuTime
    var h = 0L
    var k = 0
    while (k < 32) {
      var i = 0
      while (i < calData.length) { h = h * 31 + (calData(i) ^ (h >>> 7)); i += 1 }
      k += 1
    }
    val cyc = calCycles(t)
    var p = 0
    var n = 0
    while (n < 40000) { p = cyc(p); n += 1 }
    calSink.addAndGet(h + p)
    (Threads.getCurrentThreadCpuTime - t0) / 1e6
  }

  /** Mean CPU ms of the calibration loop run on every core at once, as Spark
    * runs its tasks. Only the speed of the cores changes it: other tenants of
    * a shared host change that speed from one minute to the next by up to a
    * third, and op CPU with it.
    */
  def calibrate(): Double = {
    val fs = (0 until CalThreads).map(t => calPool.submit(() => calPass(t)))
    fs.map(_.get()).sum / CalThreads
  }

  /** CPU ms of [[calibrate]] on the reference host (a 4-core Xeon VM) at
    * its fastest, with the host's other tenants quiet.
    */
  val ReferenceCalMs = 9.0

  /** Linux's USER_HZ, the unit of the `stat` CPU fields. */
  val ClockTicks = 100

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }
}
