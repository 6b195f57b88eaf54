package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame

import graft.corpus.CorpusGen
import graft.index.{IndexBuilder, IndexCheck, IndexConfig, Tokenize, Tombstones}
import graft.query.Searcher
import graft.streaming.IncrementalIndexer

/** What a workload hands back for the report.
  *
  * @param classA the op class reported as `class_a_*`
  * @param classB the op class reported as `class_b_*`
  * @param setupEndMs when set-up (including warm-up) ended, epoch ms
  * @param build wall and process-CPU ms of the run's measured index builds
  * @param indexRatio bytes of the plain index ÷ bytes of `files.parquet`
  * @param layers per-layer values the workload measured itself
  * @param notes extra lines for the human-readable report
  */
case class Outcome(classA: String, classB: String, setupEndMs: Double, build: (Double, Double),
                   indexRatio: Double, layers: Map[String, Double], notes: Seq[String])

object Workloads {
  private def indexCfg(size: Size) = IndexConfig(docsPerShard = size.docsPerShard)

  private def key(r: graft.FileRow) = (r.repo, r.path, r.commit)

  /** The key of generator doc `id`, of the base corpus or of any ingest slice. */
  private def docKey(plan: Plan, id: Long) = key(CorpusGen.rowFor(id, plan.corpus))

  /** (repo, path, commit) → engine docId of the published docs tables. */
  private def docIds(r: Run, dirs: Seq[String]): Map[(String, String, String), Long] =
    r.spark.read.parquet(dirs.map(d => s"$d/docs.parquet"): _*)
      .select("repo", "path", "commit", "docId").collect()
      .map(row => (row.getString(0), row.getString(1), row.getString(2)) -> row.getLong(3)).toMap

  /** The corpus rows joined to the engine's docIds, for the oracle. */
  private def withIds(r: Run, files: DataFrame, dirs: Seq[String]): DataFrame =
    r.spark.read.parquet(dirs.map(d => s"$d/docs.parquet"): _*)
      .select("docId", "repo", "path", "commit")
      .join(files, Seq("repo", "path", "commit"))
      .select("docId", "repo", "path", "commit", "lang", "content")

  /** The terms an op looks up, for the term-repeat share. */
  private def termsOf(op: Op): Seq[String] = op.mode match {
    case "prefix" | "regex" | "trange" => Seq(s"${op.mode}:${op.query}:${op.arg}")
    case _ => Tokenize.tokenize(op.query).toSeq
  }

  private def checkIndex(r: Run, dir: String): Unit = {
    val (rep, ms) = r.timed(IndexCheck.check(r.spark, dir))
    r.log(f"IndexCheck $dir: $ms%.0f ms")
    if (!rep.ok) r.fail(s"IndexCheck $dir: ${rep.render}")
  }

  private def ratio(dir: String, corpus: String): Double =
    Layers.indexBytes(dir).toDouble / Layers.tableBytes(s"$corpus/files.parquet")

  private def writeCorpus(r: Run, plan: Plan, dir: String): Double =
    r.timed(r.group("setup-corpus")(CorpusGen.writeCorpus(r.spark, plan.corpus, dir)))._2

  /** Query state shared by the ops of one searcher configuration. */
  final class QueryCtx(r: Run, plan: Plan, val s: Searcher, val pos: Searcher,
                       dirs: Seq[String],
                       val keyToId: Map[(String, String, String), Long],
                       val deleted: Set[Long], val numDocs: Long) {
    val tableBytes: Long = dirs.map(Layers.indexBytes).sum
    private def accs = Seq(s, pos).filter(_ != null).map(x =>
      (x.candidatesScored.value.longValue, x.candidatesPruned.value.longValue,
        x.shardsTouched.value.longValue))
      .foldLeft((0L, 0L, 0L))((a, b) => (a._1 + b._1, a._2 + b._2, a._3 + b._3))

    /** Runs `op` as a timed op with the per-op checks; keeps its hits. */
    def timed(op: Op, seen: mutable.Set[String], hits: mutable.Map[Int, Queries.Hits],
              extra: Map[String, Double] = Map.empty): OpRec = {
      val terms = termsOf(op)
      val repeat = if (terms.forall(seen)) 1.0 else 0.0
      seen ++= terms
      var got: Queries.Hits = Array.empty
      val rec = r.op(op.cls, op.mode) {
        val a0 = accs
        val (h, planMs, execMs) = Queries.run(r, s, pos, op)
        val a1 = accs
        got = h
        val src = if (op.source >= 0) keyToId.get(docKey(plan, op.source)) else None
        val v = Queries.cheapCheck(op, h, numDocs, deleted, src)
        v.foreach(r.fail)
        (v.isEmpty && (op.source < 0 || src.isDefined), Map(
          "plan_ms" -> planMs, "exec_ms" -> execMs, "hits" -> h.length.toDouble,
          "candidates_scored" -> (a1._1 - a0._1).toDouble,
          "candidates_pruned" -> (a1._2 - a0._2).toDouble,
          "shards_touched" -> (a1._3 - a0._3).toDouble,
          "term_repeat_share" -> repeat) ++ extra)
      }
      hits(rec.id) = got
      rec
    }

    /** Oracle check of op `rec` (its hits kept by [[timed]]). */
    def oracle(rec: OpRec, op: Op, got: Queries.Hits, withId: DataFrame,
               files: DataFrame): Unit = {
      val (want, ms) = r.timed(Queries.oracle(op, withId, files, s, deleted))
      r.log(f"oracle ${op.cls}/${op.mode} checked in $ms%.0f ms")
      Queries.oracleCheck(op, got, want).foreach(m => r.failOp(rec.id, s"oracle: $m"))
    }
  }

  /** One op per mode, drawn with the run's seed from the ops that ran. */
  private def sampleByMode(plan: Plan, recs: Seq[(OpRec, Op)]): Seq[(OpRec, Op)] = {
    val rng = new java.util.Random(plan.seed * 31 + 7)
    recs.groupBy(_._2.mode).toSeq.sortBy(_._1).map { case (_, xs) => xs(rng.nextInt(xs.length)) }
  }

  /** Checks run after the timed loop, four at a time: they are independent
    * Spark jobs, and outside timing nothing waits on them. A check that
    * throws is a failure.
    */
  private def inParallel(r: Run, checks: Seq[(String, () => Unit)]): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try checks.map { case (name, c) =>
      pool.submit(new Runnable {
        def run(): Unit =
          try c() catch { case e: Exception => r.fail(s"check $name threw $e") }
      })
    }.foreach(_.get())
    finally pool.shutdown()
  }

  private def loopDone(r: Run, seconds: Double, a: String, b: String,
                       minA: Int, minB: Int): Boolean = {
    val timed = r.ops.filter(o => o.cls == a || o.cls == b)
    timed.map(_.ms).sum >= seconds * 1000 &&
      timed.count(_.cls == a) >= minA && timed.count(_.cls == b) >= minB
  }

  // ---------------------------------------------------------------- search

  def search(r: Run, plan: Plan, seconds: Double, full: Boolean): Outcome = {
    val spark = r.spark
    val corpus = s"${r.work}/corpus"
    val (plainDir, posDir) = (s"${r.work}/index", s"${r.work}/index_pos")
    val genMs = writeCorpus(r, plan, corpus)
    r.log("corpus written")
    val cfg = indexCfg(plan.size)
    // the positional build first: the plain build, measured as build_cpu_s,
    // then runs with the shared build code already compiled, where a cold
    // build's CPU depends on how far the JIT has got
    r.group("setup-build-pos") {
      IndexBuilder.buildFast(spark, corpus, posDir, cfg.copy(positions = true))
    }
    r.log("positional index built")
    val plainCost = r.cost(r.group("setup-build-plain") {
      IndexBuilder.buildFast(spark, corpus, plainDir, cfg)
    })
    r.log("plain index built")
    val (s, ps) = (new Searcher(spark, plainDir), new Searcher(spark, posDir))
    val seen = mutable.Set[String]()
    val warm = plan.broadPool ++ plan.warmSelective
    warm.foreach { op => Queries.run(r, s, ps, op); seen ++= termsOf(op) }
    val setupEnd = r.nowMs
    r.log("warm-up done")

    val q = new QueryCtx(r, plan, s, ps, Seq(plainDir), docIds(r, Seq(plainDir)), Set.empty,
      plan.size.docs)
    val hits = mutable.Map[Int, Queries.Hits]()
    val ran = mutable.ArrayBuffer[(OpRec, Op)]()
    // a fixed number of whole rounds, so that every run does the same work
    // however fast the host is; a traced run takes at least two, so that
    // every (class, mode) has a traced and an untraced op
    val rounds = math.max(if (r.trace) 2 else 1, Plan.searchRounds(seconds))
    plan.searchOps.take(rounds * Plan.RoundOps).foreach(op => ran += q.timed(op, seen, hits) -> op)
    r.log(s"timed loop done: ${r.ops.size} ops")

    if (full) {
      val files = spark.read.parquet(s"$corpus/files.parquet")
      val withId = withIds(r, files, Seq(plainDir)).persist()
      inParallel(r, Seq("IndexCheck plain" -> (() => checkIndex(r, plainDir)),
        "IndexCheck positional" -> (() => checkIndex(r, posDir))) ++
        sampleByMode(plan, ran.toSeq).map { case (rec, op) =>
          s"oracle ${op.mode}" -> (() => q.oracle(rec, op, hits(rec.id), withId, files))
        })
      withId.unpersist()
      r.log("checks done")
    }

    val traced = r.listener.map(_.statsOf("setup-build-plain"))
    val layers = Layers.indexMetrics(plainDir, plainCost._1, traced, positional = false) ++
      Layers.indexMetrics(posDir, 0, None, positional = true) ++
      queryLayers(r, q.tableBytes) ++ Layers.selfTimes(r) ++ Map("corpus.gen_s" -> genMs / 1000)
    Outcome("selective", "broad", setupEnd, plainCost,
      ratio(plainDir, corpus), layers,
      notFedNote(r))
  }

  /** Per-class medians of the query layers over the traced query ops, plus
    * per-broad-mode exec p50 and the modes that leave the bm25 accumulators
    * at 0 although they return hits.
    */
  private def queryLayers(r: Run, tableBytes: Long): Map[String, Double] = {
    val traced = r.ops.filter(o => o.traced && Layers.QueryClasses.contains(o.cls))
    val perOp = traced.map(o => o -> (o.extra ++ Layers.queryOpMetrics(r, o, tableBytes)))
    val all = r.ops.filter(o => Layers.QueryClasses.contains(o.cls))
    val byClass = perOp.groupBy(_._1.cls).toSeq.flatMap { case (c, xs) =>
      xs.flatMap(_._2.keys).distinct.map(k =>
        s"query.$c.$k" -> Layers.median(xs.flatMap(_._2.get(k)).toSeq))
    } ++ all.groupBy(_.cls).map { case (c, xs) =>
      s"query.$c.term_repeat_share" -> xs.map(_.extra.getOrElse("term_repeat_share", 0.0)).sum / xs.size
    }
    val modes = all.filter(_.cls == "broad").groupBy(_.mode).map { case (m, xs) =>
      s"query.mode.$m.exec_ms" -> Layers.median(xs.flatMap(_.extra.get("exec_ms")).toSeq)
    }
    (byClass ++ modes).toMap ++ Map("query.modes_not_fed" -> notFed(r).size.toDouble)
  }

  private def notFed(r: Run): Seq[String] =
    r.ops.filter(o => o.cls == "broad").groupBy(_.mode).collect {
      case (m, xs) if xs.exists(_.extra.getOrElse("hits", 0.0) > 0) &&
        xs.forall(o => o.extra.getOrElse("candidates_scored", 0.0) == 0 &&
          o.extra.getOrElse("candidates_pruned", 0.0) == 0) => m
    }.toSeq.sorted

  private def notFedNote(r: Run): Seq[String] = {
    val m = notFed(r)
    if (m.isEmpty) Nil
    else Seq(s"modes returning hits with bm25.* accumulators at 0 (not fed, not 'no kernel work'): ${m.mkString(", ")}")
  }

  // ----------------------------------------------------------------- build

  def buildLoop(r: Run, plan: Plan, seconds: Double, full: Boolean): Outcome = {
    val corpus = s"${r.work}/corpus"
    val genMs = writeCorpus(r, plan, corpus)
    val cfg = indexCfg(plan.size)
    val buildCost = r.cost {
      IndexBuilder.buildFast(r.spark, corpus, s"${r.work}/warm", cfg)
      IndexBuilder.buildFast(r.spark, corpus, s"${r.work}/warm_pos", cfg.copy(positions = true))
    }
    val setupEnd = r.nowMs
    r.log("warm-up builds done")

    var i = 0
    var lastPlain = ""
    val plainLayers = mutable.ArrayBuffer[Map[String, Double]]()
    val posLayers = mutable.ArrayBuffer[Map[String, Double]]()
    while (!loopDone(r, seconds, "plain", "positional", plan.size.minBuilds,
        plan.size.minBuilds)) {
      val positional = i % 2 == 1
      val dir = s"${r.work}/build_$i"
      val rec = r.op(if (positional) "positional" else "plain", "build") {
        IndexBuilder.buildFast(r.spark, corpus, dir, cfg.copy(positions = positional))
        (true, Map.empty)
      }
      if (rec.traced) r.spans ++= Layers.phaseSpans(dir, rec.id)
      val st = r.listener.map(_.statsOf(s"op-${rec.id}")).filter(_ => rec.traced)
      val m = Layers.indexMetrics(dir, rec.ms, st, positional)
      if (positional) posLayers += m else plainLayers += m
      if (full) checkIndex(r, dir)
      if (!positional) {
        if (lastPlain.nonEmpty) graft.FsUtil.deleteRecursively(lastPlain)
        lastPlain = dir
      } else graft.FsUtil.deleteRecursively(dir)
      i += 1
      r.log(s"build $i done")
    }
    // traced builds carry the Spark stats; phase and size metrics come from every build
    def medians(ms: Seq[Map[String, Double]]) =
      ms.flatMap(_.keys).distinct.map(k => k -> Layers.median(ms.flatMap(_.get(k)))).toMap
    val layers = medians(plainLayers.toSeq) ++ medians(posLayers.toSeq) ++
      Map("corpus.gen_s" -> genMs / 1000) ++ Layers.selfTimes(r)
    Outcome("plain", "positional", setupEnd, buildCost, ratio(lastPlain, corpus), layers, Nil)
  }

  // ---------------------------------------------------------------- ingest

  /** Runs exactly `size.cycles` cycles whatever `--seconds` says: see [[Size]]. */
  def ingest(r: Run, plan: Plan, full: Boolean): Outcome = {
    val spark = r.spark
    val size = plan.size
    val corpus = s"${r.work}/corpus"
    val base = s"${r.work}/base"
    val genMs = writeCorpus(r, plan, corpus)
    val slicePath = (i: Int) => s"${r.work}/slices/s$i"
    // slice i arrives as new corpus files before cycle i, outside timing;
    // the slice after the last cycle is the warm-up's
    def writeSlice(i: Int): Unit =
      CorpusGen.generate(spark, plan.slice(i)).write.parquet(slicePath(i))
    r.group("setup-corpus")(writeSlice(size.cycles))
    val cfg = indexCfg(size)
    r.log("corpus written")
    val baseCost = r.cost(r.group("setup-build-plain") {
      IndexBuilder.buildFast(spark, corpus, base, cfg)
    })
    r.log("base index built")

    // warm-up: one full cycle against a throwaway delta set (the spare slice)
    {
      val wDir = s"${r.work}/warm_deltas/batch_00000"
      IncrementalIndexer.indexBatch(spark, spark.read.parquet(slicePath(size.cycles)),
        wDir, size.docs, cfg)
      Tombstones.applyDeletes(spark, deleteKeys(r, plan, Seq(0L, 1L)), Seq(base, wDir),
        s"${r.work}/warm_tombstones")
      val ws = new Searcher(spark, base, Seq(wDir), tombstones = Some(s"${r.work}/warm_tombstones"))
      plan.warmSelective.foreach(op => Queries.run(r, ws, null, op))
    }
    val setupEnd = r.nowMs
    r.log("warm-up cycle done")

    val tomb = s"${r.work}/tombstones"
    val deltas = mutable.ArrayBuffer[String]()
    var keyToId = docIds(r, Seq(base))
    var deletedIds = Set.empty[Long]
    val seen = mutable.Set[String]()
    val used = mutable.Set[String]()
    val hits = mutable.Map[Int, Queries.Hits]()
    val files = mutable.ArrayBuffer[DataFrame](spark.read.parquet(s"$corpus/files.parquet"))
    val oracleCycle = (plan.seed % 2).toInt
    var deltaCheck: Option[(QueryCtx, Seq[(OpRec, Op)], Seq[String], Seq[DataFrame])] = None
    var searcher: Searcher = null
    var cycle = 0
    def numDocs = size.docs + cycle.toLong * size.sliceDocs
    while (cycle < size.cycles) {
      val dir = f"${r.work}/deltas/batch_$cycle%05d"
      writeSlice(cycle)
      val dels = plan.deleteIds(cycle)
      val keys = deleteKeys(r, plan, dels)
      val rec = r.op("visible", "ingest") {
        val (_, batchMs) = r.timed(r.span("streaming.index_batch") {
          IncrementalIndexer.indexBatch(spark, spark.read.parquet(slicePath(cycle)), dir,
            numDocs, cfg)
        })
        deltas += dir
        val (_, tombMs) = r.timed(r.span("index.tombstones.apply") {
          Tombstones.applyDeletes(spark, keys, base +: deltas.toSeq, tomb)
        })
        val (_, openMs) = r.timed(r.span("query.open") {
          searcher = new Searcher(spark, base, deltas.toSeq, tombstones = Some(tomb))
        })
        (true, Map("index_batch_ms" -> batchMs, "tombstone_ms" -> tombMs, "open_ms" -> openMs))
      }
      cycle += 1
      keyToId ++= docIds(r, Seq(dir))
      deletedIds ++= dels.map(id => keyToId(docKey(plan, id)))
      files += spark.read.parquet(slicePath(cycle - 1))
      if (rec.traced) r.listener.foreach { l =>
        val st = l.statsOf(s"op-${rec.id}/streaming.index_batch")
        r.annotate(rec.id, Map("streaming.jobs" -> st.jobs.toDouble,
          "streaming.shuffle_bytes" -> st.shuffleWriteBytes.toDouble,
          "streaming.executor_cpu_ms" -> st.cpuNs / 1e6))
      }
      val q = new QueryCtx(r, plan, searcher, null, base +: deltas.toSeq, keyToId, deletedIds, numDocs)
      val extra = Map("delta_dirs" -> deltas.size.toDouble,
        "deleted_share" -> deletedIds.size.toDouble / numDocs)
      val ran = plan.ingestQueries(cycle - 1, used).map(op =>
        q.timed(op, seen, hits, extra) -> op)
      // the first query is on the newest slice, the second on older docs;
      // both are checked after the loop against this cycle's state
      if (cycle - 1 == oracleCycle)
        deltaCheck = Some((q, ran.take(2), base +: deltas.toSeq, files.toSeq))
      r.log(s"cycle $cycle done")
    }

    // compaction, then queries on the compacted index over the survivors
    val compacted = s"${r.work}/compacted"
    val compRec = r.op("compact", "compact", alwaysTrace = true) {
      r.span("index.compact") {
        IndexBuilder.compact(spark, base, deltas.toSeq, compacted, Some(tomb))
      }
      (true, Map.empty)
    }
    r.log("compaction done")
    val cq = new QueryCtx(r, plan, new Searcher(spark, compacted), null, Seq(compacted), keyToId,
      deletedIds, numDocs)
    val post = plan.ingestQueries(cycle - 1, used, n = 2, salt = 1).map(_.copy(cls = "compacted"))
      .map(op => cq.timed(op, seen, hits) -> op)

    if (full) {
      val all = files.reduce(_ unionByName _)
      val survivors = withIds(r, all, Seq(compacted)).persist()
      val deltaChecks = deltaCheck.toSeq.flatMap { case (q, ops, dirs, fs) =>
        val union = fs.reduce(_ unionByName _)
        val withId = withIds(r, union, dirs).persist()
        ops.map { case (rec, op) =>
          s"oracle delta ${op.mode}" ->
            (() => q.oracle(rec, op, hits(rec.id), withId, union))
        }
      }
      inParallel(r, Seq("IndexCheck base" -> (() => checkIndex(r, base)),
        "IndexCheck compacted" -> (() => checkIndex(r, compacted))) ++ deltaChecks ++
        post.take(1).map { case (rec, op) =>
          s"oracle compacted ${op.mode}" ->
            (() => cq.oracle(rec, op, hits(rec.id), survivors, all))
        })
      r.log("checks done")
    }

    val visible = r.ops.filter(o => o.cls == "visible" && o.traced)
    def med(k: String) = Layers.median(visible.flatMap(_.extra.get(k)).toSeq)
    val compStats = r.listener.map(_.statsOf(s"op-${compRec.id}"))
    val deltaOps = r.ops.filter(_.cls == "delta")
    val layers = Layers.indexMetrics(base, baseCost._1, r.listener.map(_.statsOf("setup-build-plain")),
        positional = false) ++ queryLayers(r, Layers.indexBytes(base)) ++ Map(
      "corpus.gen_s" -> genMs / 1000,
      "query.open_ms" -> med("open_ms"),
      "streaming.index_batch_ms" -> med("index_batch_ms"),
      "index.tombstone_apply_ms" -> med("tombstone_ms"),
      "streaming.jobs" -> med("streaming.jobs"),
      "streaming.shuffle_bytes" -> med("streaming.shuffle_bytes"),
      "streaming.executor_cpu_ms" -> med("streaming.executor_cpu_ms"),
      "ingest.delta_dirs" -> Layers.median(deltaOps.flatMap(_.extra.get("delta_dirs")).toSeq),
      "ingest.deleted_share" -> Layers.median(deltaOps.flatMap(_.extra.get("deleted_share")).toSeq)) ++
      compStats.map(g => Map("index.compact.shuffle_bytes" -> g.shuffleWriteBytes.toDouble,
        "index.compact.spill_bytes" -> g.spillBytes.toDouble,
        "index.compact.output_bytes" -> g.outputBytes.toDouble)).getOrElse(Map.empty)
    // the builds of build_cpu_s: the compaction, the ingest path's own build
    Outcome("visible", "delta", setupEnd, (compRec.ms, compRec.cpuMs), ratio(base, corpus),
      layers ++ Layers.selfTimes(r),
      Seq(f"compact_s ${compRec.ms / 1000}%.3f s (n=1)",
        f"base build ${baseCost._1 / 1000}%.3f s wall, ${baseCost._2 / 1000}%.3f s CPU (set-up)"))
  }

  /** The delete keys of generator doc ids, as the DataFrame `applyDeletes` takes. */
  private def deleteKeys(r: Run, plan: Plan, ids: Seq[Long]): DataFrame = {
    import r.spark.implicits._
    ids.map(docKey(plan, _)).toDF("repo", "path", "commit")
  }
}
