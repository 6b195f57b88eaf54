package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.index.{IndexBuilder, IndexConfig, Tombstones}
import graft.oracle.OracleBm25
import graft.query.Searcher

/** Document deletion (tombstones): logical deletes exclude docs from every
  * query path with Lucene statistics semantics (df/avgdl stay full-corpus,
  * so survivors' scores are bit-identical to their pre-delete scores);
  * compaction applies deletes physically and recomputes statistics, after
  * which scores equal a fresh build of the reduced corpus.
  */
class TombstoneSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  lazy val (corpusDir, indexDir) = TestSpark.builtIndex
  lazy val files = spark.read.parquet(s"$corpusDir/files.parquet")

  /** Tombstone every 5th doc (by docId of the built index). */
  lazy val tombstonePath: String = {
    val path = s"${TestSpark.workDir}/tombstones.parquet"
    val docs = spark.read.parquet(s"$indexDir/docs.parquet")
    val keys = docs.filter($"docId" % 5 === 0).select("repo", "path", "commit")
    val n = Tombstones.applyDeletes(spark, keys, Seq(indexDir), path)
    assert(n == docs.filter($"docId" % 5 === 0).count())
    // idempotent: re-applying the same keys changes nothing
    assert(Tombstones.applyDeletes(spark, keys, Seq(indexDir), path) == n)
    path
  }

  lazy val deletedIds: Set[Long] =
    spark.read.parquet(tombstonePath).select("docId").as[Long].collect().toSet

  private def searcher = new Searcher(spark, indexDir, tombstones = Some(tombstonePath))
  private def plain = new Searcher(spark, indexDir)

  /** Lucene-semantics oracle: score over the FULL corpus, drop deleted docs
    * from the result, take top-k — survivors' scores are unchanged.
    */
  private def oracleMinus(oracle: org.apache.spark.sql.DataFrame, k: Int) =
    oracle.collect().map(r => (r.getLong(0), r.getDouble(1)))
      .filterNot(h => deletedIds(h._1)).take(k)

  test("AND search excludes tombstoned docs, survivor scores unchanged") {
    val q = "import def"
    val got = searcher.search(q, 10).collect().map(h => (h.docId, h.score))
    val want = oracleMinus(OracleBm25.topK(files, q, 10 + deletedIds.size), 10)
    assert(got.toSeq == want.toSeq)
    assert(got.forall(h => !deletedIds(h._1)))
    // and the undeleted searcher still returns the full set (no cross-talk)
    val full = plain.search(q, 10).collect()
    assert(full.exists(h => deletedIds(h.docId)),
      "fixture must have deleted docs inside the undeleted top-10")
  }

  test("OR search excludes tombstoned docs") {
    val q = "import zzqx_nothing util_7"
    val got = searcher.searchOr(q, 10).collect().map(h => (h.docId, h.score))
    val want = oracleMinus(OracleBm25.topKOr(files, q, 10 + deletedIds.size), 10)
    assert(got.toSeq == want.toSeq)
  }

  test("a swap interrupted between its renames: queries serve the .bak generation") {
    // the state a crash leaves after the live file was renamed aside and
    // before the new generation landed: only `<path>.bak` exists
    val path = s"${TestSpark.workDir}/tombstones_swap.parquet"
    val keys = spark.read.parquet(s"$indexDir/docs.parquet")
      .filter($"docId" % 5 === 0).select("repo", "path", "commit")
    Tombstones.applyDeletes(spark, keys, Seq(indexDir), path)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.rename(new org.apache.hadoop.fs.Path(path),
      new org.apache.hadoop.fs.Path(path + ".bak")))
    val s = new Searcher(spark, indexDir, tombstones = Some(path))
    val q = "import def"
    val and = s.search(q, 10).collect().map(h => (h.docId, h.score))
    assert(and.toSeq == oracleMinus(OracleBm25.topK(files, q, 10 + deletedIds.size), 10).toSeq)
    val qOr = "import zzqx_nothing util_7"
    val or = s.searchOr(qOr, 10).collect().map(h => (h.docId, h.score))
    assert(or.toSeq ==
      oracleMinus(OracleBm25.topKOr(files, qOr, 10 + deletedIds.size), 10).toSeq)
    assert((and ++ or).forall(h => !deletedIds(h._1)))
  }

  test("filtered (where) search excludes tombstoned docs") {
    val q = "import def"
    val pred = col("lang") === "scala"
    val got = searcher.searchWhere(q, 10, pred).collect().map(h => (h.docId, h.score))
    val want = oracleMinus(
      OracleBm25.topKWhere(files, q, 10 + deletedIds.size, pred), 10)
    assert(got.toSeq == want.toSeq)
  }

  test("phrase search excludes tombstoned docs (positional index)") {
    val posDir = s"${TestSpark.workDir}/index_pos_tomb"
    IndexBuilder.buildFast(spark, corpusDir, posDir,
      IndexConfig(docsPerShard = 256, positions = true))
    val s = new Searcher(spark, posDir, tombstones = Some(tombstonePath))
    val got = s.searchPhrase("import def", 10).collect().map(h => (h.docId, h.score))
    val want = oracleMinus(
      OracleBm25.topKPhrase(files, "import def", 10 + deletedIds.size), 10)
    assert(got.toSeq == want.toSeq)
  }

  test("facets and matchingDocs exclude tombstoned docs") {
    val q = "import def"
    val m = searcher.matchingDocs(q).as[Long].collect().toSet
    assert(m.nonEmpty && m.intersect(deletedIds).isEmpty)
    val full = plain.matchingDocs(q).as[Long].collect().toSet
    assert(m == full -- deletedIds)
    val byLang = searcher.searchFacets(q, "lang").as[(String, Long)].collect().toMap
    assert(byLang.values.sum == m.size)
  }

  test("compaction applies deletes physically; scores equal a fresh reduced-corpus build") {
    val outDir = s"${TestSpark.workDir}/index_compact_tomb"
    val meta = IndexBuilder.compact(spark, indexDir, Nil, outDir,
      Some(tombstonePath))
    val fullDocs = spark.read.parquet(s"$indexDir/docs.parquet").count()
    assert(meta.numDocs == fullDocs - deletedIds.size)
    // no deleted doc survives in any artifact
    val survivors = spark.read.parquet(s"$outDir/docs.parquet")
      .select("docId").as[Long].collect().toSet
    assert(survivors.intersect(deletedIds).isEmpty)
    // fresh build of the corpus MINUS the deleted keys (docIds renumber, so
    // compare hits by (repo, path) identity and by score)
    val delKeys = spark.read.parquet(s"$indexDir/docs.parquet")
      .filter($"docId".isin(deletedIds.toSeq: _*))
      .select("repo", "path", "commit")
    val reducedCorpus = s"${TestSpark.workDir}/corpus_reduced"
    val reducedFiles = files.join(delKeys, Seq("repo", "path", "commit"), "left_anti")
    reducedFiles.write.mode("overwrite").parquet(s"$reducedCorpus/files.parquet")
    val freshDir = s"${TestSpark.workDir}/index_reduced"
    IndexBuilder.buildFast(spark, reducedCorpus, freshDir,
      IndexConfig(docsPerShard = 256, verifySha = false))
    def hitsByKey(dir: String, q: String) = {
      val s = new Searcher(spark, dir)
      s.search(q, 10).join(spark.read.parquet(s"$dir/docs.parquet"), "docId")
        .select($"repo", $"path", round($"score", 9).as("score"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSeq
        .sortBy(t => (-t._3, t._1, t._2))
    }
    for (q <- Seq("import def", "import val util_7")) {
      assert(hitsByKey(outDir, q) == hitsByKey(freshDir, q),
        s"compacted-with-deletes != fresh reduced build for '$q'")
    }
    // compaction restored admissible pruning (fresh block-max bounds):
    // compacted searcher uses the pruned path and still matches
    val sc = new Searcher(spark, outDir)
    val g = sc.search("import def util_7", 5).collect().map(_.docId)
    val w = hitsByKey(freshDir, "import def util_7").take(5)
    val gk = sc.search("import def util_7", 5)
      .join(spark.read.parquet(s"$outDir/docs.parquet"), "docId")
      .select("repo", "path").collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(gk == w.map(t => (t._1, t._2)).toSet)
    // the applied tombstones retired with the parts they covered: the live
    // file is gone (nothing to mistakenly reuse), the audit copy remains
    val fs = new org.apache.hadoop.fs.Path(tombstonePath)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(!fs.exists(new org.apache.hadoop.fs.Path(tombstonePath)))
    assert(fs.exists(new org.apache.hadoop.fs.Path(tombstonePath + ".applied")))
    assert(Tombstones.read(spark, tombstonePath).isEmpty)
  }

  test("compacting with every document deleted fails loudly") {
    val path = s"${TestSpark.workDir}/tombstones_all.parquet"
    val allKeys = spark.read.parquet(s"$indexDir/docs.parquet")
      .select("repo", "path", "commit")
    Tombstones.applyDeletes(spark, allKeys, Seq(indexDir), path)
    val ex = intercept[IllegalArgumentException] {
      IndexBuilder.compact(spark, indexDir, Nil,
        s"${TestSpark.workDir}/index_compact_empty", Some(path))
    }
    assert(ex.getMessage.contains("all documents are deleted"))
  }
}
