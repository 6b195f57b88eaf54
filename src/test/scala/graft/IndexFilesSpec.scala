package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark.{jobsOf, shuffleWritesOf}
import graft.corpus.CorpusGen
import graft.index.{IndexBuilder, IndexConfig, IndexFiles, Tombstones}
import graft.query.Searcher
import graft.streaming.IncrementalIndexer

/** Index tables are read with their fixed schemas (`IndexFiles`): opening
  * them launches no schema-inference job, and the driver-side footer check
  * keeps the guards inference used to give — a mixed positional-ness
  * union and a missing column fail loudly instead of reading nulls.
  */
class IndexFilesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  lazy val (_, indexDir) = TestSpark.builtIndex
  private lazy val work = s"${TestSpark.workDir}/index_files"
  private lazy val baseDocs = IndexBuilder.readMeta(indexDir).numDocs

  private def slice(from: Long, n: Long): DataFrame =
    CorpusGen.generate(spark, TestSpark.corpusCfg.copy(numDocs = n,
      idOffset = TestSpark.corpusCfg.numDocs + from)).toDF()

  /** Three committed 100-doc plain deltas after the (plain) base. */
  private lazy val deltas: Seq[String] = (0 until 3).map { i =>
    val dir = s"$work/plain/batch_$i"
    IncrementalIndexer.indexBatch(spark, slice(i * 100L, 100L), dir,
      baseDocs + i * 100L, IndexConfig(docsPerShard = 256))
    dir
  }

  private lazy val positionalDelta: String = {
    val dir = s"$work/pos/batch_0"
    IncrementalIndexer.indexBatch(spark, slice(0L, 100L), dir, baseDocs,
      IndexConfig(docsPerShard = 256, positions = true))
    dir
  }

  test("opening a Searcher costs no job per delta dir") {
    val ds = deltas // committed outside the counted region
    val one = jobsOf(new Searcher(spark, indexDir, ds.take(1)))
    val three = jobsOf(new Searcher(spark, indexDir, ds))
    assert(one == three, s"1 delta: $one jobs, 3 deltas: $three jobs")
  }

  // the window's exchange, then the one task that encodes the batch and
  // writes all four tables
  test("one indexBatch launches at most 2 jobs") {
    val first = baseDocs + 300L // the base is built outside the counted region
    for (positions <- Seq(false, true)) {
      val n = jobsOf(IncrementalIndexer.indexBatch(spark, slice(300L, 100L),
        s"$work/jobs_$positions/batch_0", first,
        IndexConfig(docsPerShard = 256, positions = positions)))
      assert(n <= 2, s"positions=$positions: indexBatch launched $n jobs")
    }
  }

  test("an empty batch commits nothing and creates no batch dir") {
    val dir = s"$work/empty/batch_0"
    val got = IncrementalIndexer.indexBatch(spark, slice(0L, 10L).limit(0), dir,
      baseDocs, IndexConfig(docsPerShard = 256))
    assert(got == IncrementalIndexer.IndexMetaLike(0L, 0L))
    assert(!Files.exists(Paths.get(dir)), s"$dir was created")
    assert(IncrementalIndexer.deltaDirs(s"$work/empty").isEmpty)
  }

  test("a batch dir holding a stale attempt and partial tables is fully replaced") {
    val cfg = IndexConfig(docsPerShard = 256)
    val first = baseDocs + 500L
    val clean = s"$work/clean/batch_0"
    IncrementalIndexer.indexBatch(spark, slice(500L, 100L), clean, first, cfg)
    // an earlier run died before meta.json: a staged attempt, an old
    // attempt's dir and tables of other docs (Spark-written part files)
    val dirty = s"$work/dirty/batch_0"
    for (a <- Seq(0, 123456789); t <- Seq("docs", "postings"))
      slice(600L, 5L).write.mode("overwrite").parquet(s"$dirty/_attempt-$a/$t.parquet")
    slice(600L, 50L).write.mode("overwrite").parquet(s"$dirty/docs.parquet")
    spark.read.parquet(s"${deltas.head}/postings.parquet").write.mode("overwrite")
      .parquet(s"$dirty/postings.parquet")
    IncrementalIndexer.indexBatch(spark, slice(500L, 100L), dirty, first, cfg)

    def listing(dir: String): Seq[String] = {
      val root = Paths.get(dir)
      val s = Files.walk(root)
      try s.iterator().asScala.map(root.relativize(_).toString)
        .filterNot(_.endsWith(".crc")).toSeq.sorted
      finally s.close()
    }
    assert(listing(dirty) == listing(clean))
    assert(!listing(dirty).exists(_.startsWith("_attempt-")))
    assert(IndexBuilder.readMeta(dirty) == IndexBuilder.readMeta(clean))
    for (t <- Seq("docs", "dlens", "postings", "dict")) {
      def rows(dir: String) = spark.read.parquet(s"$dir/$t.parquet").collect()
        .map(_.toSeq.map {
          case a: scala.collection.Seq[_] => a.toList
          case b: Array[Byte] => b.toSeq
          case x => x
        }).toSet
      assert(rows(dirty) == rows(clean), s"$t differs from a clean run")
    }
  }

  // the semi-join's key broadcast and the collect of the resolved docIds;
  // the previous generation is merged and the next one written on the driver
  test("applyDeletes over a base and three deltas launches at most 2 jobs") {
    val ds = deltas // committed outside the counted region
    val dirs = indexDir +: ds
    val path = s"$work/tombstones_jobs.parquet"
    def keys(m: Int) = IndexFiles.docs(spark, dirs)
      .filter(col("docId") % m === 0).select("repo", "path", "commit")
    val create = jobsOf(Tombstones.applyDeletes(spark, keys(11), dirs, path))
    val merge = jobsOf(Tombstones.applyDeletes(spark, keys(13), dirs, path))
    assert(create <= 2 && merge <= 2, s"first call $create jobs, merging call $merge jobs")
  }

  test("applyDeletes with local keys launches at most 2 jobs") {
    val ds = deltas // committed outside the counted region
    val dirs = indexDir +: ds
    val path = s"$work/tombstones_local_jobs.parquet"
    val rows = IndexFiles.docs(spark, dirs).filter(col("docId") % 17 === 0)
      .select("repo", "path", "commit").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq
    import spark.implicits._
    def keys(rs: Seq[(String, String, String)]) = rs.toDF("repo", "path", "commit")
    val (a, b) = rows.splitAt(rows.size / 2)
    val create = jobsOf(Tombstones.applyDeletes(spark, keys(a), dirs, path))
    val merge = jobsOf(Tombstones.applyDeletes(spark, keys(b), dirs, path))
    assert(create <= 2 && merge <= 2, s"first call $create jobs, merging call $merge jobs")
    assert(Tombstones.read(spark, path).count() == rows.size)
  }

  // the tombstone runs are packed after a local sort, as at query time, so
  // they add no exchange of their own (a groupByKey packer measured 13)
  test("a compaction with tombstones launches at most 12 jobs") {
    val ds = deltas // committed outside the counted region
    val dirs = indexDir +: ds
    val path = s"$work/tombstones_compact_jobs.parquet"
    Tombstones.applyDeletes(spark, IndexFiles.docs(spark, dirs)
      .filter(col("docId") % 7 === 0).select("repo", "path", "commit"), dirs, path)
    val n = jobsOf(IndexBuilder.compact(spark, indexDir, ds, s"$work/compact_jobs", Some(path)))
    assert(n <= 12, s"compact launched $n jobs")
  }

  test("the first query on a fresh Searcher launches as many jobs as the second") {
    val ds = deltas // committed outside the counted region
    val s = new Searcher(spark, indexDir, ds)
    val first = jobsOf(s.search("import def", 3).collect())
    val second = jobsOf(s.search("import def", 3).collect())
    assert(first == second, s"first query $first jobs, second $second")
  }

  test("one indexBatch shuffles only in its docId window") {
    val first = baseDocs + 400L // the base is built outside the recorded region
    for (positions <- Seq(false, true)) {
      val w = shuffleWritesOf(IncrementalIndexer.indexBatch(spark, slice(400L, 100L),
        s"$work/shuffle_$positions/batch_0", first,
        IndexConfig(docsPerShard = 256, positions = positions)))
      assert(w == Seq(100L), s"positions=$positions: shuffle records written per stage $w")
    }
  }

  test("a plain buildFast launches at most 21 jobs") {
    val (corpusDir, _) = TestSpark.builtIndex
    val n = jobsOf(IndexBuilder.buildFast(spark, corpusDir, s"$work/build_jobs",
      IndexConfig(docsPerShard = 256)))
    assert(n <= 21, s"buildFast launched $n jobs")
  }

  test("a Searcher over a positional-ness mix fails loudly") {
    val ex = intercept[IllegalArgumentException] {
      new Searcher(spark, indexDir, Seq(positionalDelta))
    }
    assert(ex.getMessage.contains("disagree on positional-ness"), ex.getMessage)
  }

  test("compacting a positional-ness mix fails loudly") {
    val ex = intercept[IllegalArgumentException] {
      IndexBuilder.compact(spark, indexDir, Seq(positionalDelta), s"$work/mixed_compact")
    }
    assert(ex.getMessage.contains("disagree on positional-ness"), ex.getMessage)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$work/mixed_compact/docs.parquet")),
      "the mix must be rejected before compaction writes anything")
  }

  test("a delta whose postings lack a column fails at Searcher open, not at query time") {
    val src = deltas.head
    val broken = s"$work/broken/batch_0"
    for (t <- Seq("docs", "dlens", "dict"))
      spark.read.parquet(s"$src/$t.parquet").write.mode("overwrite")
        .parquet(s"$broken/$t.parquet")
    spark.read.parquet(s"$src/postings.parquet").drop("blockMinDlen")
      .write.mode("overwrite").parquet(s"$broken/postings.parquet")
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$src/meta.json"),
      java.nio.file.Paths.get(s"$broken/meta.json"))
    val ex = intercept[IllegalArgumentException] {
      new Searcher(spark, indexDir, Seq(broken))
    }
    assert(ex.getMessage.contains("blockMinDlen"), ex.getMessage)
    // the intact delta still opens and answers
    assert(new Searcher(spark, indexDir, Seq(src)).search("import def", 3)
      .collect().length == 3)
  }

  test("a Searcher over a dict without shard lists fails loudly, naming the column") {
    val src = deltas.head
    val old = s"$work/old_dict/batch_0"
    for (t <- Seq("docs", "dlens", "postings"))
      spark.read.parquet(s"$src/$t.parquet").write.mode("overwrite")
        .parquet(s"$old/$t.parquet")
    spark.read.parquet(s"$src/dict.parquet").drop("shards")
      .write.mode("overwrite").parquet(s"$old/dict.parquet")
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$src/meta.json"),
      java.nio.file.Paths.get(s"$old/meta.json"))
    val ex = intercept[IllegalArgumentException] {
      new Searcher(spark, indexDir, Seq(old)).search("import def", 3)
    }
    assert(ex.getMessage.contains("lacks column(s) shards"), ex.getMessage)
  }

  test("two builds of one corpus write byte-identical dict files") {
    val (corpusDir, _) = TestSpark.builtIndex
    def dictFiles(dir: String): Seq[Seq[Byte]] = {
      val d = new java.io.File(s"$dir/dict.parquet")
      d.listFiles().filter(_.getName.endsWith(".parquet")).sortBy(_.getName).toSeq
        .map(f => java.nio.file.Files.readAllBytes(f.toPath).toSeq)
    }
    val again = s"$work/rebuild"
    IndexBuilder.buildFast(spark, corpusDir, again, IndexConfig(docsPerShard = 256))
    val (a, b) = (dictFiles(indexDir), dictFiles(again))
    assert(a.size > 1 && a == b, s"${a.size} and ${b.size} dict files, " +
      s"sizes ${a.map(_.size)} and ${b.map(_.size)}")
  }
}
