package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.index.{IndexBuilder, IndexConfig}
import graft.oracle.OracleBm25
import graft.query.Searcher
import graft.streaming.IncrementalIndexer

/** Incremental-ingest golden test: base index over part 1 of the corpus,
  * stream parts 2a/2b through the incremental indexer as two micro-batches,
  * then require composite query results to equal the brute-force oracle over
  * the FULL corpus — scores bit-exact (stats are docId-independent), key
  * sets identical within each score.
  */
class StreamingIndexSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  lazy val env: (String, Seq[String], org.apache.spark.sql.DataFrame) = {
    val (fullCorpus, _) = TestSpark.builtIndex
    val full = spark.read.parquet(s"$fullCorpus/files.parquet")
      .withColumn("__id", regexp_extract(col("path"), "f(\\d+)\\.", 1).cast("long"))
    val work = s"${TestSpark.workDir}/incremental"
    def writePart(cond: org.apache.spark.sql.Column, dir: String,
                  mode: String = "overwrite"): Unit =
      full.filter(cond).drop("__id")
        .write.mode(mode).parquet(dir)

    // base = ids < 1400 (corpus dir shape: files + matching ref_sha)
    writePart(col("__id") < 1400, s"$work/corpus1/files.parquet")
    spark.read.parquet(s"$fullCorpus/ref_sha.parquet")
      .withColumn("__id", regexp_extract(col("path"), "f(\\d+)\\.", 1).cast("long"))
      .filter(col("__id") < 1400).drop("__id")
      .write.mode("overwrite").parquet(s"$work/corpus1/ref_sha.parquet")
    IndexBuilder.buildFast(spark, s"$work/corpus1", s"$work/base",
      IndexConfig(docsPerShard = 256, verifySha = true))

    // stream parts 2a and 2b as two separate arrivals. The stream is stopped
    // between them and restarted from its checkpoint: a running stream lists
    // the watch dir continuously and can observe a half-written parquet
    // append as two arrivals (a test race, not an engine property — the
    // composite searcher is correct for ANY batch split); the stop/start
    // also exercises checkpoint resume, whose batch numbering must continue.
    val watch = s"$work/arrivals"
    val deltas = s"$work/deltas"
    writePart(col("__id") >= 1400 && col("__id") < 1700, watch)
    val q1 = IncrementalIndexer.start(spark, watch, s"$work/base", deltas,
      IndexConfig(docsPerShard = 256))
    try q1.processAllAvailable() finally q1.stop()
    writePart(col("__id") >= 1700, watch, mode = "append")
    val q2 = IncrementalIndexer.start(spark, watch, s"$work/base", deltas,
      IndexConfig(docsPerShard = 256))
    try q2.processAllAvailable() finally q2.stop()
    (s"$work/base", IncrementalIndexer.deltaDirs(deltas), full.drop("__id"))
  }

  private def oracleKeyed(q: String, k: Int) = {
    val (_, _, full) = env
    val keyById = full.withColumn("__docId",
      (row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy("repo", "path", "commit")) - 1).cast("long"))
      .select(col("__docId"), concat_ws("/", col("repo"), col("path")).as("key"))
      .as[(Long, String)].collect().toMap
    OracleBm25.topK(full, q, k).collect()
      .map(r => (r.getDouble(1), keyById(r.getLong(0))))
  }

  test("two streamed batches commit as deltas with dense docIds") {
    val (base, deltas, _) = env
    assert(deltas.size == 2, s"expected 2 delta batches, got $deltas")
    val baseN = IndexBuilder.readMeta(base).numDocs
    assert(baseN == 1400)
    val d0 = spark.read.parquet(s"${deltas.head}/docs.parquet")
    val d1 = spark.read.parquet(s"${deltas(1)}/docs.parquet")
    assert(d0.agg(min("docId")).head.getLong(0) == 1400)
    assert(d0.count() + d1.count() == 600)
    assert(d1.agg(max("docId")).head.getLong(0) == 1999)
  }

  test("composite search over base+deltas matches the full-corpus oracle") {
    val (base, deltas, full) = env
    val searcher = new Searcher(spark, base, deltas)
    assert(searcher.meta.numDocs == 2000)
    for (q <- Seq("import val", "util_7 import", "import def val", "util_3")) {
      val got = searcher.searchDocs(q, 10).collect()
        .map(r => (r.getAs[Double]("score"),
          r.getAs[String]("repo") + "/" + r.getAs[String]("path")))
      val want = oracleKeyed(q, 10)
      assert(got.map(_._1).toSeq == want.map(_._1).toSeq,
        s"scores differ for '$q':\n got ${got.toSeq}\n want ${want.toSeq}")
      // within equal scores the key sets must match (tiebreak docIds differ
      // between the incremental assignment and the oracle's global order)
      val gotBy = got.groupBy(_._1).map { case (s, v) => s -> v.map(_._2).toSet }
      val wantBy = want.groupBy(_._1).map { case (s, v) => s -> v.map(_._2).toSet }
      assert(gotBy == wantBy, s"key sets differ for '$q'")
    }
  }

  test("compaction merges base+deltas into a standalone index with pruning restored") {
    val (base, deltas, full) = env
    val compacted = s"${TestSpark.workDir}/incremental/compacted"
    val meta = IndexBuilder.compact(spark, base, deltas, compacted)
    assert(meta.numDocs == 2000)
    val searcher = new Searcher(spark, compacted) // standalone: no deltas arg
    for (q <- Seq("import val", "util_7 import", "import def val")) {
      val got = searcher.searchDocs(q, 10).collect()
        .map(r => (r.getAs[Double]("score"),
          r.getAs[String]("repo") + "/" + r.getAs[String]("path")))
      val want = oracleKeyed(q, 10)
      assert(got.map(_._1).toSeq == want.map(_._1).toSeq, s"scores differ for '$q'")
      val gotBy = got.groupBy(_._1).map { case (s, v) => s -> v.map(_._2).toSet }
      val wantBy = want.groupBy(_._1).map { case (s, v) => s -> v.map(_._2).toSet }
      assert(gotBy == wantBy, s"key sets differ for '$q'")
    }
    // pruning is re-enabled on the standalone compacted index (it fires
    // opportunistically — correctness with pruning on is what the identical
    // oracle results above already prove; a delta-composite searcher would
    // have had it force-disabled)
    searcher.search("import val", 3).collect()
    assert(searcher.candidatesPruned.value >= 0)
  }

  test("bulk drop splits into bounded micro-batches (maxFilesPerTrigger), still oracle-exact") {
    val (base, _, full) = env
    val work = s"${TestSpark.workDir}/incremental_bulk"
    val tail = full
      .withColumn("__id", regexp_extract(col("path"), "f(\\d+)\\.", 1).cast("long"))
      .filter(col("__id") >= 1400)
    // 6 separate single-file arrivals dropped at once — with
    // maxFilesPerTrigger=2 the file source must form >= 3 micro-batches,
    // so the batch-local docId window never sees more than 2 files' rows
    for (g <- 0 until 6)
      tail.filter(col("__id") % 6 === g).drop("__id")
        .coalesce(1).write.mode("append").parquet(s"$work/arrivals")
    val q = IncrementalIndexer.start(spark, s"$work/arrivals", base,
      s"$work/deltas", IndexConfig(docsPerShard = 256), maxFilesPerTrigger = 2)
    try q.processAllAvailable() finally q.stop()
    val deltas = IncrementalIndexer.deltaDirs(s"$work/deltas")
    assert(deltas.size >= 3, s"expected >= 3 bounded micro-batches, got ${deltas.size}")
    val searcher = new Searcher(spark, base, deltas)
    assert(searcher.meta.numDocs == 2000)
    for (qs <- Seq("import val", "util_7 import")) {
      val got = searcher.searchDocs(qs, 10).collect()
        .map(r => (r.getAs[Double]("score"),
          r.getAs[String]("repo") + "/" + r.getAs[String]("path")))
      val want = oracleKeyed(qs, 10)
      assert(got.map(_._1).toSeq == want.map(_._1).toSeq, s"scores differ for '$qs'")
      val gotBy = got.groupBy(_._1).map { case (s, v) => s -> v.map(_._2).toSet }
      val wantBy = want.groupBy(_._1).map { case (s, v) => s -> v.map(_._2).toSet }
      assert(gotBy == wantBy, s"key sets differ for '$qs'")
    }
  }

  test("pruning stays ON under deltas + tombstones: on/off bit-identity, prunes fire") {
    // r4 hard-disabled block-max pruning whenever deltas or tombstones
    // existed; r5 re-derives admissible bounds from the avgdl-free per-block
    // stats (maxTf/minDlen) under the combined avgdl and rebuilds block
    // alignment for filtered lists — so pruning must now (a) fire on a
    // base+delta+tombstone index and (b) change nothing: results bit-equal
    // to a force-unpruned searcher on AND, OR, NOT, filtered and
    // boolean-tree paths.
    val (base, deltas, _) = env
    val allDirs = base +: deltas
    val keys = spark.read.parquet(allDirs.map(d => s"$d/docs.parquet"): _*)
      .filter(col("docId") % 31 === 0).select("repo", "path", "commit")
    val tombs = s"${TestSpark.workDir}/incremental/tombs_r5.parquet"
    graft.index.Tombstones.applyDeletes(spark, keys, allDirs, tombs)
    val on = new Searcher(spark, base, deltas, tombstones = Some(tombs))
    val off = new Searcher(spark, base, deltas, tombstones = Some(tombs))
    off.forcePruningOff = true
    for (q <- Seq("import val", "util_7 import", "import def val", "util_3")) {
      val g = on.search(q, 10).collect().map(h => (h.docId, h.score)).toSeq
      val w = off.search(q, 10).collect().map(h => (h.docId, h.score)).toSeq
      assert(g == w, s"AND pruning-on vs off differ for '$q'")
      val gOr = on.searchOr(q, 10).collect().map(h => (h.docId, h.score)).toSeq
      val wOr = off.searchOr(q, 10).collect().map(h => (h.docId, h.score)).toSeq
      assert(gOr == wOr, s"OR pruning-on vs off differ for '$q'")
      val gNot = on.searchNot(q, "util_1", 10).collect().map(h => (h.docId, h.score)).toSeq
      val wNot = off.searchNot(q, "util_1", 10).collect().map(h => (h.docId, h.score)).toSeq
      assert(gNot == wNot, s"NOT pruning-on vs off differ for '$q'")
      assert(gNot.nonEmpty, s"vacuous NOT for '$q'")
      val pred = col("lang") =!= "py"
      val gW = on.searchWhere(q, 10, pred).collect().map(h => (h.docId, h.score)).toSeq
      val wW = off.searchWhere(q, 10, pred).collect().map(h => (h.docId, h.score)).toSeq
      assert(gW == wW, s"filtered pruning-on vs off differ for '$q'")
      assert(gW.nonEmpty, s"vacuous filter for '$q'")
    }
    for (q <- Seq("(util_7 import) OR (util_3 val)", "import (def OR -val)")) {
      val g = on.searchBool(q, 10).collect().map(h => (h.docId, h.score)).toSeq
      val w = off.searchBool(q, 10).collect().map(h => (h.docId, h.score)).toSeq
      assert(g == w, s"bool pruning-on vs off differ for '$q'")
    }
    assert(on.candidatesPruned.value > 0,
      "pruning never fired on the delta+tombstone index")
    assert(off.candidatesPruned.value == 0)
  }

  test("restart is idempotent: recommitting the last batch changes nothing") {
    val (base, deltas, _) = env
    val batchDir = deltas.last
    val before = spark.read.parquet(s"$batchDir/postings.parquet")
      .select("term", "shard", "n", "docBytes").collect().toSet.size
    // simulate a replayed foreachBatch for the same batch id
    val batchDocs = spark.read.parquet(s"$batchDir/docs.parquet")
    val firstDocId = batchDocs.agg(min("docId")).head.getLong(0)
    val arrivals = spark.read.parquet(s"${TestSpark.workDir}/incremental/arrivals")
      .withColumn("__id", regexp_extract(col("path"), "f(\\d+)\\.", 1).cast("long"))
      .filter(col("__id") >= 1700).drop("__id")
    IncrementalIndexer.indexBatch(spark, arrivals, batchDir, firstDocId,
      IndexConfig(docsPerShard = 256))
    val after = spark.read.parquet(s"$batchDir/postings.parquet")
      .select("term", "shard", "n", "docBytes").collect().toSet.size
    assert(before == after)
  }
}
