package graft

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.corpus.CorpusGen
import graft.index.{IndexBuilder, IndexCheck, IndexConfig, IndexMeta}
import graft.oracle.OracleBm25
import graft.query.Searcher
import graft.streaming.IncrementalIndexer

/** An ingest batch encodes with the build's kernels: a delta over docIds
  * [0, n) is row-identical to a build of the same docs and its tables have
  * the build's parquet schemas, a batch whose first
  * shard is shared with its base passes the index fsck and composite search,
  * and dictionary expansion over base + deltas equals it on their compaction.
  */
class IngestEncodeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val work = s"${TestSpark.workDir}/ingest_encode"
  private val dps = 64
  private val baseDocs = 300L

  /** Generator docs [from, from + n): disjoint slices of one corpus. */
  private def slice(from: Long, n: Long): DataFrame =
    CorpusGen.generate(spark, TestSpark.corpusCfg.copy(numDocs = n, idOffset = from)).toDF()

  /** The first 300 docs as a corpus dir (files + sha sidecar). */
  private lazy val corpus: String = {
    val dir = s"$work/corpus"
    CorpusGen.writeCorpus(spark, TestSpark.corpusCfg.copy(numDocs = baseDocs), dir)
    dir
  }

  /** A table's rows, columns in name order, binary cells as byte sequences. */
  private def rows(dir: String, table: String): Set[Seq[Any]] = {
    val df = spark.read.parquet(s"$dir/$table.parquet")
    df.select(df.columns.sorted.map(col).toSeq: _*).collect().map(_.toSeq.map {
      case b: Array[Byte] => b.toSeq
      case x => x
    }).toSet
  }

  /** (build, delta, the build's meta) of the 300-doc corpus, per
    * positional-ness: 3 build partitions of ~100 docs split 64-doc shards,
    * so the build merges boundary drafts the one-task batch never has.
    */
  private val pairs = scala.collection.mutable.Map.empty[Boolean, (String, String, IndexMeta)]
  private def pair(positions: Boolean): (String, String, IndexMeta) = pairs.getOrElseUpdate(positions, {
    val cfg = IndexConfig(docsPerShard = dps, buildPartitions = 3, positions = positions)
    val built = s"$work/built_$positions"
    val delta = s"$work/delta_$positions"
    val bm = IndexBuilder.buildFast(spark, corpus, built, cfg)
    IncrementalIndexer.indexBatch(spark, spark.read.parquet(s"$corpus/files.parquet"),
      delta, 0L, cfg)
    (built, delta, bm)
  })

  private val tables = Seq("docs", "dlens", "postings", "dict")

  for (positions <- Seq(false, true))
    test(s"a delta over docIds [0, n) equals buildFast over the same docs (positions=$positions)") {
      val (built, delta, bm) = pair(positions)
      for (t <- tables) {
        val (d, b) = (rows(delta, t), rows(built, t))
        assert(d.nonEmpty && d == b, s"$t: ${(d -- b).size} delta-only, ${(b -- d).size} build-only rows")
      }
      assert(IndexBuilder.readMeta(delta) == bm)
    }

  /** A reader of each of a table's part files. */
  private def readers(dir: String, table: String): Seq[ParquetFileReader] = {
    val conf = spark.sparkContext.hadoopConfiguration
    new java.io.File(s"$dir/$table.parquet").listFiles()
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("."))
      .sortBy(_.getName).toSeq.map(f =>
        ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f.toString), conf)))
  }

  /** The footers of a table's part files. */
  private def footers(dir: String, table: String): Seq[ParquetMetadata] =
    readers(dir, table).map(r => try r.getFooter finally r.close())

  for (positions <- Seq(false, true))
    test(s"a delta's parquet schemas equal buildFast's; dict pages hold at most 1,000 rows (positions=$positions)") {
      val (built, delta, _) = pair(positions)
      for (t <- tables) {
        val Seq(d) = footers(delta, t)
        val schemas = footers(built, t).map(_.getFileMetaData.getSchema).distinct
        assert(schemas == Seq(d.getFileMetaData.getSchema), s"$t:\n delta ${d.getFileMetaData
          .getSchema}\n build $schemas")
      }
      val Seq(reader) = readers(delta, "dict")
      try {
        val pageRows = reader.getFooter.getBlocks.asScala.toSeq.flatMap { block =>
          val term = block.getColumns.asScala.find(_.getPath.toDotString == "term").get
          val idx = reader.readOffsetIndex(term)
          (0 until idx.getPageCount).map(i =>
            (if (i + 1 < idx.getPageCount) idx.getFirstRowIndex(i + 1) else block.getRowCount) -
              idx.getFirstRowIndex(i))
        }
        assert(pageRows.sum == IndexBuilder.readMeta(delta).numTerms && pageRows.size > 1 &&
          pageRows.forall(_ <= 1000), s"rows per dict page: $pageRows")
      } finally reader.close()
    }

  /** Base = the 300-doc corpus (its last shard, docIds 256..299, is
    * partial); two 100-doc deltas after it. The first delta's docIds
    * 300..399 start inside the base's last shard.
    */
  private lazy val parts: (String, Seq[String]) = {
    val cfg = IndexConfig(docsPerShard = dps)
    val base = s"$work/base"
    IndexBuilder.buildFast(spark, corpus, base, cfg)
    val deltas = Seq(0L, 1L).map { i =>
      val dir = s"$work/deltas/batch_$i"
      IncrementalIndexer.indexBatch(spark, slice(baseDocs + 100 * i, 100), dir,
        baseDocs + 100 * i, cfg)
      dir
    }
    (base, deltas)
  }

  test("a batch sharing its first shard with the base passes IndexCheck and matches the oracle") {
    val (base, deltas) = parts
    val first = deltas.head
    val report = IndexCheck.check(spark, first)
    assert(report.ok, report.render)
    val shared = spark.read.parquet(s"$first/dlens.parquet").as[ShardLens]
      .collect().find(_.shard == (baseDocs / dps).toInt)
      .getOrElse(fail("the delta has no row for the base's last shard"))
    val offset = (baseDocs - shared.firstDocId).toInt
    assert(shared.firstDocId == 256L && shared.lens.length == dps &&
      shared.lens.take(offset).forall(_ == 0) && shared.lens.drop(offset).forall(_ > 0))

    val searcher = new Searcher(spark, base, Seq(first))
    val ids = spark.read.parquet(s"$base/docs.parquet", s"$first/docs.parquet")
      .select("repo", "path", "commit", "docId")
    val files = spark.read.parquet(s"$corpus/files.parquet").unionByName(slice(baseDocs, 100))
      .join(ids, Seq("repo", "path", "commit"))
    assert(files.count() == baseDocs + 100)
    for (q <- Seq("import val", "util_7 import", "import def val", "package")) {
      val got = searcher.search(q, 10).collect().map(h => (h.docId, h.score)).toSeq
      val want = OracleBm25.topKScalable(files, q, 10).as[(Long, Double)].collect().toSeq
      assert(got.nonEmpty && got == want, s"'$q':\n got $got\n want $want")
    }
  }

  test("prefix, regex and term-range expansion over base + two deltas equal the compaction's") {
    val (base, deltas) = parts
    val compacted = s"$work/compacted"
    IndexBuilder.compact(spark, base, deltas, compacted)
    val multi = new Searcher(spark, base, deltas)
    val one = new Searcher(spark, compacted)
    // every part holds the expanded terms, so the (df desc, term) ranking
    // under a small cap holds only if df is summed across the dirs
    val inAll = (base +: deltas).map(d => spark.read.parquet(s"$d/dict.parquet")
      .select("term").as[String].collect().toSet).reduce(_ intersect _)
    val checks: Seq[(String, Searcher => Seq[String])] = Seq(
      "prefix util_1" -> (_.expandPrefix("util_1", maxExpand = 5)),
      "prefix i" -> (_.expandPrefix("i", maxExpand = 3)),
      "regex util_[0-9]7" -> (_.expandRegex("util_[0-9]7", maxExpand = 4)),
      "regex .*a.*" -> (_.expandRegex(".*a.*", maxExpand = 6)),
      "range [util_2, util_3]" -> (_.expandTermRange(Some("util_2"), Some("util_3"), maxExpand = 5)),
      "range (d, f)" -> (_.expandTermRange(Some("d"), Some("f"), includeLo = false,
        includeHi = false, maxExpand = 4)))
    for ((name, expand) <- checks) {
      val (got, want) = (expand(multi), expand(one))
      assert(got.nonEmpty && got == want, s"$name: base + deltas $got, compacted $want")
      assert(got.exists(inAll), s"$name: no expanded term is in every part")
    }
  }
}
