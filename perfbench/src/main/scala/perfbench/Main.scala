package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

/** Benchmark entry point: runs one workload in this JVM and prints a
  * human-readable report followed by one JSON result line.
  *
  * {{{
  * perfbench.Main --workload search|build|ingest --seed N --seconds S --trace 0|1
  *                [--size full|tiny] [--work DIR]
  * perfbench.Main --describe 1 --seed N [--size full|tiny]
  * }}}
  *
  * Every timed op gets the cheap output checks. Traced runs and tiny runs
  * also check one op of every query mode against the oracle and every index
  * with IndexCheck, after the timed loop.
  */
object Main {
  val WorkloadNames: Seq[String] = Seq("search", "build", "ingest")

  /** End-to-end metrics, reported with tracing off, with their units. Op
    * costs are process CPU without the JIT threads ([[Run.cpuMs]]), which
    * other tenants of the host inflate far less than wall time. They and
    * `setup_s` are divided by the run's [[Run.slowdown]]; wall-clock
    * latencies are in the human-readable report.
    */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "build_cpu_s" -> "s", "class_a_cpu_ms" -> "ms", "class_b_cpu_ms" -> "ms",
    "index_bytes_per_corpus_byte" -> "ratio", "peak_rss_mb" -> "MB")

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val size = Size(o.getOrElse("size", "full"))
    val seed = o.getOrElse("seed", "1").toLong
    val plan = Plan(seed, size)
    if (o.contains("describe")) {
      println(s"corpus_digest ${plan.corpusDigest}")
      println(s"ops_digest ${plan.opsDigest}")
      return
    }
    val workload = o("workload")
    require(WorkloadNames.contains(workload), s"unknown workload '$workload'")
    val seconds = o.getOrElse("seconds", "10").toDouble
    val trace = o.getOrElse("trace", "0") == "1"
    val full = trace || size == Size.tiny
    val work = o.getOrElse("work", "perfbench/target/work")
    graft.FsUtil.deleteRecursively(work)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(work))

    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val r = new Run(Run.session(work), work, trace)
    val out = workload match {
      case "search" => Workloads.search(r, plan, seconds, full)
      case "build" => Workloads.buildLoop(r, plan, seconds, full)
      case "ingest" => Workloads.ingest(r, plan, full)
    }
    r.listener.foreach(_.drain())
    val rss = Run.peakRssMb()
    val report = new Report(workload, size, r, out, jvmStart, rss)
    report.human().foreach(println)
    println(report.json())
    Console.out.flush()
    r.spark.stop()
    graft.FsUtil.deleteRecursively(work)
    sys.exit(0)
  }
}

/** Turns a finished run into the printed report. */
final class Report(workload: String, size: Size, r: Run, out: Outcome, jvmStart: Double,
                   rssMb: Double) {
  private val (a, b) = (out.classA, out.classB)
  private def msOf(cls: String) = r.ops.filter(_.cls == cls).map(_.ms).toSeq
  private def cpuOf(cls: String) = r.ops.filter(_.cls == cls).map(_.cpuMs).toSeq
  private val failedOps = r.ops.count(o => !o.ok || r.failedLater(o.id))
  private def mean(xs: Seq[Double]) = xs.sum / math.max(1, xs.size)

  /** A class's cost is the mean over its ops. Every run has the same op mix
    * (whole `search` rounds, a fixed number of `ingest` cycles), so the mean
    * moves in proportion to any single mode's share, where a median over
    * ten modes would move only when that mode crossed the middle rank.
    */
  val endToEnd: Map[String, Double] = Map(
    "setup_s" -> (out.setupEndMs - jvmStart) / 1000 / r.slowdown,
    "build_cpu_s" -> out.build._2 / 1000 / r.slowdown,
    "class_a_cpu_ms" -> mean(cpuOf(a)) / r.slowdown,
    "class_b_cpu_ms" -> mean(cpuOf(b)) / r.slowdown,
    "index_bytes_per_corpus_byte" -> out.indexRatio,
    "peak_rss_mb" -> rssMb)

  /** CPU median of the traced ops of a class minus that of its untraced
    * ops in the same run: the cost of job groups and spans. The
    * listener is registered for the whole run, so both halves pay for it and
    * its cost is not in this figure.
    */
  private def overhead(cls: String): Double = {
    val (t, u) = r.ops.filter(_.cls == cls).partition(_.traced)
    Layers.median(t.map(_.cpuMs).toSeq) - Layers.median(u.map(_.cpuMs).toSeq)
  }

  val perLayer: Map[String, Double] = out.layers ++ Map(
    "trace.overhead_ms.class_a" -> overhead(a), "trace.overhead_ms.class_b" -> overhead(b))

  /** The highest of p90/p75 with at least ten samples beyond it. */
  private def tail(xs: Seq[Double]): String = {
    val s = xs.sorted
    Seq(0.90, 0.75).find(p => s.length * (1 - p) >= 10) match {
      case Some(p) => f"p${(p * 100).toInt} ${s(math.ceil(p * s.length).toInt - 1)}%.2f ms"
      case None => "tail n/a (fewer than 40 samples)"
    }
  }

  def human(): Seq[String] = {
    val lines = mutable.ArrayBuffer[String]()
    lines += s"== perfbench workload=$workload size=${size.name} docs=${size.docs} " +
      s"cores=${Runtime.getRuntime.availableProcessors()} trace=${r.trace}"
    for ((cls, key) <- Seq(a -> "class_a", b -> "class_b")) {
      val xs = msOf(cls)
      lines += f"$cls%-10s n=${xs.size}%4d wall p50 ${Layers.median(xs)}%.2f ms  ${tail(xs)}" +
        f"  cpu p50 ${Layers.median(cpuOf(cls))}%.2f ms  [$key]"
    }
    val timed = r.ops.filter(o => o.cls == a || o.cls == b)
    lines += f"ops_per_s ${timed.size / (timed.map(_.ms).sum / 1000)}%.3f (wall)"
    lines += f"build_s ${out.build._1 / 1000}%.3f (the builds of build_cpu_s, wall)"
    lines += f"slowdown ${r.slowdown}%.3f (calibration loop ${r.slowdown * Run.ReferenceCalMs}%.2f ms " +
      f"vs ${Run.ReferenceCalMs}%.2f on the reference host, n=${r.calMs.size}; setup_s and the CPU metrics are divided by it)"
    if (workload == "build") {
      lines += f"build_docs_per_s ${size.docs / (Layers.median(msOf(a)) / 1000)}%.1f docs/s"
      lines += f"build_pos_docs_per_s ${size.docs / (Layers.median(msOf(b)) / 1000)}%.1f docs/s"
    }
    val e = endToEnd
    lines ++= out.notes
    val attempted = r.ops.size
    lines += f"error_rate ${failedOps.toDouble / math.max(1, attempted)}%.4f ($failedOps of $attempted ops)"
    r.failures.take(20).foreach(f => lines += s"FAILED $f")
    Main.EndToEnd.foreach { case (n, u) => lines += f"$n ${e(n)}%.4f $u" }
    if (r.trace) {
      Layers.metrics.foreach { case (n, u) =>
        lines += f"  $n ${perLayer.getOrElse(n, 0.0)}%.3f $u"
      }
      lines ++= modeBreakdown()
    }
    lines.toSeq
  }

  /** Layer breakdown per broad mode (traced search runs). */
  private def modeBreakdown(): Seq[String] = {
    val traced = r.ops.filter(o => o.traced && o.cls == "broad")
    if (traced.isEmpty) return Nil
    val cols = Seq("plan_ms", "sched_wait_ms", "scan_bytes", "shuffle_bytes", "exec_ms",
      "executor_cpu_ms", "driver_ms", "jobs")
    val header = f"${"mode"}%-10s ${"n"}%3s " + cols.map(c => f"$c%15s").mkString(" ")
    header +: traced.groupBy(_.mode).toSeq.sortBy(_._1).map { case (m, xs) =>
      val per = xs.map(o => o.extra ++ Layers.queryOpMetrics(r, o, 1L))
      f"$m%-10s ${xs.size}%3d " + cols.map(c =>
        f"${Layers.median(per.flatMap(_.get(c)).toSeq)}%15.1f").mkString(" ")
    }
  }

  private def num(v: Double): String = if (v.isNaN || v.isInfinite) "0" else v.toString

  def json(): String = {
    val ms = if (r.trace) Layers.metrics.map { case (n, u) => (n, u, perLayer.getOrElse(n, 0.0)) }
             else Main.EndToEnd.map { case (n, u) => (n, u, endToEnd(n)) }
    val body = ms.map { case (n, u, v) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }
    val correct = r.failures.isEmpty && failedOps == 0
    s"""{"correct": $correct, "attempted": ${math.max(1, r.ops.size)}, "failed": $failedOps, """ +
      s""""metrics": {${body.mkString(", ")}}}"""
  }
}
