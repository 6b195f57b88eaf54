package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.CorpusSource

/** Corpus-source abstraction (Iceberg-ready format plumbing over the
  * parquet sandbox) + live progress reporting.
  */
class SourceProgressSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("parquet corpus source reads and validates the input_hint schema") {
    val (corpusDir, _) = TestSpark.builtIndex
    val df = CorpusSource.readFiles(spark, corpusDir)
    assert(CorpusSource.Columns.forall(df.columns.contains))
    assert(df.count() > 0)
    assert(CorpusSource.readRefSha(spark, corpusDir).columns
      .contains("ref_sha256"))
  }

  test("schema validation rejects a table missing input_hint columns") {
    import spark.implicits._
    val dir = s"${TestSpark.workDir}/bad_schema_corpus"
    Seq(("r", "p")).toDF("repo", "path")
      .write.mode("overwrite").parquet(s"$dir/files.parquet")
    val e = intercept[IllegalArgumentException] {
      CorpusSource.readFiles(spark, dir)
    }
    assert(e.getMessage.contains("commit"))
  }

  test("iceberg snapshot pinning options are exclusive and well-formed") {
    assert(CorpusSource.icebergReadOptions(None, None).isEmpty)
    assert(CorpusSource.icebergReadOptions(Some(42L), None) ==
      Map("snapshot-id" -> "42"))
    assert(CorpusSource.icebergReadOptions(None, Some(1700000000000L)) ==
      Map("as-of-timestamp" -> "1700000000000"))
    intercept[IllegalArgumentException] {
      CorpusSource.icebergReadOptions(Some(1L), Some(2L))
    }
  }

  test("iceberg read path end-to-end: pinned snapshot → build → same index") {
    import graft.sources.IcebergStubSource
    val (corpusDir, parquetIdx) = TestSpark.builtIndex
    val filesTable = s"$corpusDir/files.parquet"
    IcebergStubSource.reset()
    spark.conf.set("spark.graft.source.format", "iceberg")
    spark.conf.set("spark.graft.source.snapshotId", "424242")
    spark.conf.set("spark.graft.source.refShaTable", s"$corpusDir/ref_sha.parquet")
    try {
      // readFiles resolves format("iceberg") through Spark's source registry
      // (the test-scope stub registers the short name exactly like the real
      // iceberg-spark-runtime does) and validates the input_hint schema
      val df = CorpusSource.readFiles(spark, filesTable)
      assert(CorpusSource.Columns.forall(df.columns.contains))
      assert(df.count() == spark.read.parquet(filesTable).count())
      // the snapshot pin arrived at the source as Iceberg's documented
      // read option — the whole point of pinning: every stage of a
      // multi-day build plans against ONE immutable snapshot
      assert(IcebergStubSource.received(filesTable)
        .get("snapshot-id").contains("424242"))
      // full build through the iceberg read path, including the sha256
      // sidecar invariant via its own pinned table
      val idx = s"${TestSpark.workDir}/index_iceberg"
      val meta = graft.index.IndexBuilder.buildFast(spark, filesTable, idx,
        graft.index.IndexConfig(docsPerShard = 256))
      assert(meta != null && meta.numDocs == df.count())
      assert(IcebergStubSource.received.contains(s"$corpusDir/ref_sha.parquet"))
      // index content identical to the parquet-mode build of the same corpus
      def segs(dir: String) = spark.read.parquet(s"$dir/postings.parquet")
        .select("term", "shard", "n", "docBytes", "tfBytes")
      assert(segs(idx).exceptAll(segs(parquetIdx)).isEmpty)
      assert(segs(parquetIdx).exceptAll(segs(idx)).isEmpty)
    } finally {
      spark.conf.unset("spark.graft.source.format")
      spark.conf.unset("spark.graft.source.snapshotId")
      spark.conf.unset("spark.graft.source.refShaTable")
    }
  }

  test("unknown format is a clear error; conf selects the format") {
    spark.conf.set("spark.graft.source.format", "orc9000")
    try {
      val e = intercept[RuntimeException] {
        CorpusSource.readFiles(spark, "/nowhere")
      }
      assert(e.getMessage.contains("orc9000"))
    } finally spark.conf.unset("spark.graft.source.format")
    assert(CorpusSource.format(spark) == "parquet")
  }

  test("progress reporter observes stages/tasks/records of a real job") {
    import spark.implicits._
    val r = ProgressReporter.attach(spark, "spec", intervalMs = 0)
    try {
      spark.range(100000).select(($"id" * 2).as("x")).agg(Map("x" -> "sum")).head()
    } finally {
      val s = ProgressReporter.detach(spark, r)
      assert(s.tasksCompleted > 0 && s.stagesCompleted > 0)
      assert(s.elapsedSec > 0)
    }
  }
}
