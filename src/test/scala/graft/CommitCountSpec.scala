package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.corpus.CorpusGen
import graft.index.{IndexBuilder, IndexConfig, IndexMeta, Tombstones}
import graft.streaming.IncrementalIndexer

/** Commit counts come from the writes that produce the tables
  * (`indexBatch`'s meta.json, the total `applyDeletes` returns — the length
  * of the generation it writes — and compaction's meta.json), not from
  * re-counting the written files. Each must equal the real count of the
  * table it describes.
  */
class CommitCountSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  lazy val (corpusDir, indexDir) = TestSpark.builtIndex
  private lazy val work = s"${TestSpark.workDir}/commit_counts"
  private lazy val baseDocs = IndexBuilder.readMeta(indexDir).numDocs

  /** Generator docs [from, from + n) past the base corpus: fresh keys. */
  private def slice(from: Long, n: Long): DataFrame =
    CorpusGen.generate(spark, TestSpark.corpusCfg.copy(numDocs = n,
      idOffset = TestSpark.corpusCfg.numDocs + from)).toDF()

  private def table(dir: String, name: String) = spark.read.parquet(s"$dir/$name.parquet")

  /** meta.json counts equal real counts and sums of the written tables. */
  private def assertCountsReal(dir: String, meta: IndexMeta): Unit = {
    val docs = table(dir, "docs")
    assert(meta.numDocs == docs.count(), s"numDocs of $dir")
    assert(meta.totalTokens == docs.agg(sum($"dlen".cast("long"))).as[Long].head(),
      s"totalTokens of $dir")
    assert(meta.numTerms == table(dir, "dict").count(), s"numTerms of $dir")
    assert(meta.numSegments == table(dir, "postings").count(), s"numSegments of $dir")
    assert(meta.avgdl == meta.totalTokens.toDouble / meta.numDocs)
  }

  /** Plain deltas (200 docs, then a 1-doc batch), committed after the base. */
  private lazy val plainDeltas: Seq[String] = {
    val cfg = IndexConfig(docsPerShard = 256)
    Seq((0L, 200L), (200L, 1L)).map { case (from, n) =>
      val dir = s"$work/plain/batch_$from"
      val got = IncrementalIndexer.indexBatch(spark, slice(from, n), dir, baseDocs + from, cfg)
      assert(got.numDocs == n)
      dir
    }
  }

  test("indexBatch: observed meta.json counts equal the written tables (plain, 1-doc)") {
    plainDeltas.foreach(d => assertCountsReal(d, IndexBuilder.readMeta(d)))
    assert(IndexBuilder.readMeta(plainDeltas.last).numDocs == 1)
  }

  test("indexBatch: observed meta.json counts equal the written tables (positional, 1-doc)") {
    val cfg = IndexConfig(docsPerShard = 256, positions = true)
    for ((from, n) <- Seq((0L, 200L), (200L, 1L))) {
      val dir = s"$work/pos/batch_$from"
      val got = IncrementalIndexer.indexBatch(spark, slice(from, n), dir, baseDocs + from, cfg)
      val meta = IndexBuilder.readMeta(dir)
      assert(got.numDocs == meta.numDocs && got.totalTokens == meta.totalTokens)
      assertCountsReal(dir, meta)
    }
  }

  test("applyDeletes returns the tombstone file's row count: repeated and duplicate deletes") {
    val dirs = indexDir +: plainDeltas
    val path = s"$work/tombstones.parquet"
    val docs = spark.read.parquet(dirs.map(d => s"$d/docs.parquet"): _*)
    def keys(m: Int) = docs.filter($"docId" % m === 0).select("repo", "path", "commit")
    val rounds = Seq(keys(11), keys(11), keys(13).union(keys(13)), keys(7).union(keys(11)))
    val totals = rounds.map { k =>
      val n = Tombstones.applyDeletes(spark, k, dirs, path)
      assert(n == spark.read.parquet(path).count())
      n
    }
    assert(totals(0) > 0 && totals(1) == totals(0) && totals(2) > totals(1) &&
      totals(3) > totals(2))
  }

  test("compaction with tombstones: observed counts equal the compacted tables (plain)") {
    val dirs = indexDir +: plainDeltas
    val tomb = s"$work/tombstones_compact.parquet"
    val docs = spark.read.parquet(dirs.map(d => s"$d/docs.parquet"): _*)
    Tombstones.applyDeletes(spark,
      docs.filter($"docId" % 9 === 0).select("repo", "path", "commit"), dirs, tomb)
    val out = s"$work/compacted"
    val meta = IndexBuilder.compact(spark, indexDir, plainDeltas, out, Some(tomb))
    assertCountsReal(out, meta)
    assert(meta.numDocs < docs.count())
  }

  test("compaction with tombstones: observed counts equal the compacted tables (positional)") {
    val cfg = IndexConfig(docsPerShard = 256, positions = true)
    val base = s"$work/pos_base"
    IndexBuilder.buildFast(spark, corpusDir, base, cfg)
    val delta = s"$work/pos_base_delta"
    IncrementalIndexer.indexBatch(spark, slice(0, 200), delta, baseDocs, cfg)
    val tomb = s"$work/tombstones_pos.parquet"
    val docs = spark.read.parquet(s"$base/docs.parquet", s"$delta/docs.parquet")
    Tombstones.applyDeletes(spark,
      docs.filter($"docId" % 9 === 0).select("repo", "path", "commit"),
      Seq(base, delta), tomb)
    val out = s"$work/compacted_pos"
    val meta = IndexBuilder.compact(spark, base, Seq(delta), out, Some(tomb))
    assertCountsReal(out, meta)
  }
}
