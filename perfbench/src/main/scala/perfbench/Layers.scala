package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.index.IndexBuilder

/** The per-layer metrics of a traced run: their names and units, and how
  * they are derived from the ops, spans and listener stats a run recorded.
  * A layer a workload does not exercise reads 0.
  */
object Layers {
  val QueryClasses: Seq[String] = Seq("selective", "broad", "delta")
  val Phases: Seq[String] = Seq("docs", "dlens", "postings", "dict")
  val SpanNames: Seq[String] = Seq("op", "query.plan", "query.exec", "query.open",
    "streaming.index_batch", "index.tombstones.apply", "index.compact", "index.phase",
    "job", "stage")

  private val perQuery: Seq[(String, String)] = Seq(
    "plan_ms" -> "ms", "driver_ms" -> "ms", "jobs" -> "count", "stages" -> "count",
    "tasks" -> "count", "sched_wait_ms" -> "ms", "scan_bytes" -> "bytes",
    "scan_rows" -> "count", "scan_fraction" -> "ratio", "shuffle_bytes" -> "bytes",
    "shuffle_records" -> "count", "exec_ms" -> "ms", "executor_cpu_ms" -> "ms",
    "candidates_scored" -> "count", "candidates_pruned" -> "count",
    "prune_ratio" -> "ratio", "shards_touched" -> "count", "task_skew" -> "ratio",
    "hits" -> "count", "term_repeat_share" -> "ratio")

  private val indexIo: Seq[(String, String)] = Seq(
    "index.partition_skew" -> "ratio", "index.cpu_util" -> "ratio",
    "index.input_bytes" -> "bytes", "index.shuffle_bytes" -> "bytes",
    "index.shuffle_records" -> "count", "index.spill_bytes" -> "bytes",
    "index.executor_cpu_s" -> "s", "index.jobs" -> "count", "index.tasks" -> "count",
    "index.bytes.postings" -> "bytes", "index.bytes.dict" -> "bytes",
    "index.bytes.docs" -> "bytes", "index.bytes.dlens" -> "bytes",
    "index.postings" -> "count", "index.segments" -> "count", "index.terms" -> "count")

  /** Every per-layer metric, in report order, with its unit. */
  val metrics: Seq[(String, String)] =
    QueryClasses.flatMap(c => perQuery.map { case (n, u) => s"query.$c.$n" -> u }) ++
      Plan.BroadModes.map(m => s"query.mode.$m.exec_ms" -> "ms") ++
      Seq("query.modes_not_fed" -> "count", "query.open_ms" -> "ms",
        "ingest.delta_dirs" -> "count", "ingest.deleted_share" -> "ratio") ++
      Phases.map(p => s"index.phase_ms.$p" -> "ms") ++
      Phases.map(p => s"index.pos_phase_ms.$p" -> "ms") ++
      indexIo ++
      Seq("index.tombstone_apply_ms" -> "ms", "index.compact.shuffle_bytes" -> "bytes",
        "index.compact.spill_bytes" -> "bytes", "index.compact.output_bytes" -> "bytes",
        "streaming.index_batch_ms" -> "ms", "streaming.jobs" -> "count",
        "streaming.shuffle_bytes" -> "bytes", "streaming.executor_cpu_ms" -> "ms",
        "corpus.gen_s" -> "s") ++
      SpanNames.map(n => s"self_ms.$n" -> "ms") ++
      Seq("trace.overhead_ms.class_a" -> "ms", "trace.overhead_ms.class_b" -> "ms")

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }

  /** On-disk bytes of a parquet table (data files only). */
  def tableBytes(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val st = Files.walk(p)
      try st.iterator().asScala.filter { f =>
        val n = f.getFileName.toString
        Files.isRegularFile(f) && !n.startsWith(".") && !n.startsWith("_")
      }.map(Files.size(_: Path)).sum
      finally st.close()
    }
  }

  val Tables: Seq[String] = Seq("postings", "dict", "docs", "dlens")
  def indexBytes(dir: String): Long = Tables.map(t => tableBytes(s"$dir/$t.parquet")).sum

  private val stageRe = "\"elapsedMs\":(\\d+)".r

  /** The build phases of an index dir, rebuilt from its stage markers: each
    * marker is written when its phase ends, with the phase's elapsed ms.
    */
  def phaseSpans(dir: String, op: Int): Seq[Span] = Phases.flatMap { p =>
    val f = Paths.get(s"$dir/_stage_$p.json")
    if (!Files.exists(f)) None
    else stageRe.findFirstMatchIn(new String(Files.readAllBytes(f), "UTF-8")).map { m =>
      val end = Files.getLastModifiedTime(f).toMillis.toDouble
      Span(s"index.phase.$p", op, end - m.group(1).toDouble, end)
    }
  }

  /** Max ÷ median partition `elapsedMs` of the postings manifest. */
  def partitionSkew(dir: String): Double = {
    val f = Paths.get(s"$dir/manifests/postings.json")
    if (!Files.exists(f)) 0.0
    else {
      val ms = stageRe.findAllMatchIn(new String(Files.readAllBytes(f), "UTF-8"))
        .map(_.group(1).toDouble).toSeq
      if (ms.isEmpty) 0.0 else ms.max / math.max(1.0, median(ms))
    }
  }

  /** Index-layer metrics of one build of `dir` that took `wallMs`, with the
    * Spark stats of its job group when traced.
    */
  def indexMetrics(dir: String, wallMs: Double, st: Option[GroupStats],
                   positional: Boolean): Map[String, Double] = {
    val phases = phaseSpans(dir, -1).map(s => s.name.stripPrefix("index.phase.") -> s.ms)
    val prefix = if (positional) "index.pos_phase_ms." else "index.phase_ms."
    val phaseMap = phases.map { case (p, ms) => s"$prefix$p" -> ms }.toMap
    if (positional) phaseMap
    else {
      val meta = IndexBuilder.readMeta(dir)
      val cores = Runtime.getRuntime.availableProcessors()
      phaseMap ++ Tables.map(t => s"index.bytes.$t" -> tableBytes(s"$dir/$t.parquet").toDouble) ++
        Map("index.partition_skew" -> partitionSkew(dir),
          "index.segments" -> meta.numSegments.toDouble,
          "index.terms" -> meta.numTerms.toDouble,
          "index.postings" -> totalPostings(dir)) ++
        st.map(g => Map(
          "index.cpu_util" -> g.cpuNs / 1e6 / (wallMs * cores),
          "index.input_bytes" -> g.inputBytes.toDouble,
          "index.shuffle_bytes" -> g.shuffleWriteBytes.toDouble,
          "index.shuffle_records" -> g.shuffleRecords.toDouble,
          "index.spill_bytes" -> g.spillBytes.toDouble,
          "index.executor_cpu_s" -> g.cpuNs / 1e9,
          "index.jobs" -> g.jobs.toDouble,
          "index.tasks" -> g.tasks.toDouble)).getOrElse(Map.empty)
    }
  }

  /** Σ postings over the postings manifest's partitions. */
  private def totalPostings(dir: String): Double = {
    val f = Paths.get(s"$dir/manifests/postings.json")
    if (!Files.exists(f)) 0.0
    else "\"postings\":(\\d+)".r.findAllMatchIn(new String(Files.readAllBytes(f), "UTF-8"))
      .map(_.group(1).toDouble).sum
  }

  /** Layer counts of one traced query op from its job group's stats. */
  def queryOpMetrics(r: Run, op: OpRec, tableBytes: Long): Map[String, Double] =
    r.listener.map { l =>
      val g = l.statsOf(s"op-${op.id}")
      val jobs = l.spansOf(s"op-${op.id}").filter(_.name == "job")
      val e = op.extra
      val scored = e.getOrElse("candidates_scored", 0.0)
      val pruned = e.getOrElse("candidates_pruned", 0.0)
      Map(
        "driver_ms" -> (op.ms - Spans.unionMs(jobs.map(j => (j.start, j.end)))),
        "jobs" -> g.jobs.toDouble, "stages" -> g.stages.toDouble, "tasks" -> g.tasks.toDouble,
        "sched_wait_ms" -> g.schedWaitMs.toDouble, "scan_bytes" -> g.inputBytes.toDouble,
        "scan_rows" -> g.inputRecords.toDouble,
        "scan_fraction" -> g.inputBytes.toDouble / math.max(1L, tableBytes),
        "shuffle_bytes" -> g.shuffleWriteBytes.toDouble,
        "shuffle_records" -> g.shuffleRecords.toDouble,
        "executor_cpu_ms" -> g.cpuNs / 1e6,
        "prune_ratio" -> (if (scored + pruned > 0) pruned / (scored + pruned) else 0.0),
        "task_skew" -> g.lastStageSkew)
    }.getOrElse(Map.empty)

  /** Mean self time per traced op of every span name. */
  def selfTimes(r: Run): Map[String, Double] = {
    val traced = r.ops.filter(_.traced)
    if (traced.isEmpty) return Map.empty
    val byName = traced.flatMap { op =>
      val own = r.spans.filter(_.op == op.id)
      val spark = r.listener.map(_.spansOf(s"op-${op.id}")).getOrElse(Nil)
      Spans.selfTimes(Seq(own.filter(_.name == "op").toSeq,
        own.filterNot(_.name == "op").toSeq,
        spark.filter(_.name == "job"), spark.filter(_.name == "stage")))
    }.groupBy { case (s, _) => if (s.name.startsWith("index.phase.")) "index.phase" else s.name }
    byName.map { case (n, xs) => s"self_ms.$n" -> xs.map(_._2).sum / traced.size }
  }
}
