package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.corpus.CorpusGen
import graft.index.{Codec, IndexBuilder, IndexConfig, Tokenize}

/** Checkpoint-resume golden test (BASELINE.md "resume" row): kill mid-build
  * (simulated via stopAfterStage), rerun, and require (a) finished stages are
  * skipped, (b) the resulting index is content-identical to an uninterrupted
  * build — the analog of the reference's recovery_test.cc + safe-point resume
  * (psi/checkpoint/recovery.h:37-121).
  */
class ResumeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("interrupted build resumes and produces an identical index") {
    val (corpusDir, fullIndexDir) = TestSpark.builtIndex
    val resumeDir = s"${TestSpark.workDir}/index_resume"
    val cfg = IndexConfig(docsPerShard = 256)

    // simulate a crash after the docs stage
    val stopped = IndexBuilder.buildFast(spark, corpusDir, resumeDir,
      cfg.copy(stopAfterStage = "docs"))
    assert(stopped == null)
    assert(Files.exists(Paths.get(s"$resumeDir/_stage_docs.json")))
    assert(!Files.exists(Paths.get(s"$resumeDir/_stage_dlens.json")))
    assert(!Files.exists(Paths.get(s"$resumeDir/meta.json")))

    // resume: same config → docs skipped, the rest built
    val tracker = new graft.index.StageTracker(resumeDir, cfg.fingerprint, "")
    assert(tracker.isDone("docs") && !tracker.isDone("postings"))
    val meta = IndexBuilder.buildFast(spark, corpusDir, resumeDir, cfg)
    assert(meta != null && Files.exists(Paths.get(s"$resumeDir/meta.json")))
    assert(meta == IndexBuilder.readMeta(fullIndexDir))

    // identical postings content vs the uninterrupted build
    def segs(dir: String) = spark.read.parquet(s"$dir/postings.parquet")
      .select("term", "shard", "n", "sumTf", "docBytes", "tfBytes")
    assert(segs(resumeDir).exceptAll(segs(fullIndexDir)).isEmpty)
    assert(segs(fullIndexDir).exceptAll(segs(resumeDir)).isEmpty)
  }

  test("interrupted POSITIONAL buildFast resumes and is byte-identical") {
    val (corpusDir, _) = TestSpark.builtIndex
    val cfg = IndexConfig(docsPerShard = 256, positions = true)
    // uninterrupted reference build
    val fullDir = s"${TestSpark.workDir}/index_pos_full"
    IndexBuilder.buildFast(spark, corpusDir, fullDir, cfg)
    // kill after the dlens artifact (before postings — the expensive stage)
    val resumeDir = s"${TestSpark.workDir}/index_pos_resume"
    val stopped = IndexBuilder.buildFast(spark, corpusDir, resumeDir,
      cfg.copy(stopAfterStage = "dlens"))
    assert(stopped == null)
    assert(Files.exists(Paths.get(s"$resumeDir/_stage_dlens.json")))
    assert(!Files.exists(Paths.get(s"$resumeDir/_stage_postings.json")))
    assert(!Files.exists(Paths.get(s"$resumeDir/meta.json")))
    // resume: docs+dlens skipped, postings+dict built by a second attempt
    val tracker = new graft.index.StageTracker(resumeDir, cfg.fingerprint, "")
    assert(tracker.isDone("docs") && tracker.isDone("dlens"))
    assert(!tracker.isDone("postings"))
    val meta = IndexBuilder.buildFast(spark, corpusDir, resumeDir, cfg)
    val fullMeta = IndexBuilder.readMeta(fullDir)
    assert(meta.numDocs == fullMeta.numDocs &&
      meta.totalTokens == fullMeta.totalTokens &&
      meta.numTerms == fullMeta.numTerms &&
      meta.numSegments == fullMeta.numSegments && meta.avgdl == fullMeta.avgdl)
    // byte-identical postings INCLUDING positions
    def segs(dir: String) = spark.read.parquet(s"$dir/postings.parquet")
      .select("term", "shard", "n", "docBytes", "tfBytes", "posBytes")
    assert(segs(resumeDir).exceptAll(segs(fullDir)).isEmpty)
    assert(segs(fullDir).exceptAll(segs(resumeDir)).isEmpty)
    // phrase query over the resumed index matches the oracle
    val files = spark.read.parquet(s"$corpusDir/files.parquet")
    val s = new graft.query.Searcher(spark, resumeDir)
    val got = s.searchPhrase("import def", 5).collect().map(h => (h.docId, h.score))
    val want = graft.oracle.OracleBm25.topKPhrase(files, "import def", 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.toSeq == want.toSeq)
  }

  test("postings and doc lengths equal an independent tokenize of the corpus") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val (corpusDir, indexDir) = TestSpark.builtIndex
    val docs = spark.read.parquet(s"$indexDir/docs.parquet")
    // reference postings: the SQL tokenizer over the corpus, keyed by the
    // docIds the docs table binds to (repo, path, commit)
    val want = spark.read.parquet(s"$corpusDir/files.parquet")
      .join(docs.select("docId", "repo", "path", "commit"), Seq("repo", "path", "commit"))
      .select($"docId", explode(Tokenize.termsCol($"content")).as("term"))
      .groupBy("term", "docId").agg(count(lit(1)).cast("int").as("tf"))
      .select("term", "docId", "tf")
    val got = spark.read.parquet(s"$indexDir/postings.parquet").as[PostingSeg]
      .flatMap(s => Codec.decodeDeltas(s.docBytes, s.n)
        .zip(Codec.decodeInts(s.tfBytes, s.n)).map { case (d, tf) => (s.term, d, tf) })
      .toDF("term", "docId", "tf")
    assert(got.exceptAll(want).isEmpty)
    assert(want.exceptAll(got).isEmpty)
    // docs.dlen is the per-doc token count (0 for a doc without tokens)
    val sums = want.groupBy("docId").agg(sum("tf").cast("int").as("sumTf"))
    assert(docs.join(sums, Seq("docId"), "left")
      .filter(coalesce($"sumTf", lit(0)) =!= $"dlen").isEmpty)
    // the encode manifest accounts for every posting
    val manifest = spark.read.parquet(s"$indexDir/manifests/postings.parquet")
    assert(manifest.agg(sum("postings")).as[Long].head() == want.count())
  }

  test("index content is independent of build partition count (cluster-size determinism)") {
    val (corpusDir, _) = TestSpark.builtIndex
    val d3 = s"${TestSpark.workDir}/index_p3"
    val d16 = s"${TestSpark.workDir}/index_p16"
    graft.index.IndexBuilder.buildFast(spark, corpusDir, d3,
      graft.index.IndexConfig(docsPerShard = 256, buildPartitions = 3))
    graft.index.IndexBuilder.buildFast(spark, corpusDir, d16,
      graft.index.IndexConfig(docsPerShard = 256, buildPartitions = 16))
    def docs(dir: String) = spark.read.parquet(s"$dir/docs.parquet")
      .select("docId", "repo", "path", "commit", "dlen")
    assert(docs(d3).exceptAll(docs(d16)).isEmpty)
    assert(docs(d16).exceptAll(docs(d3)).isEmpty)
    def segs(dir: String) = spark.read.parquet(s"$dir/postings.parquet")
      .select("term", "shard", "n", "docBytes", "tfBytes")
    assert(segs(d3).exceptAll(segs(d16)).isEmpty)
    assert(segs(d16).exceptAll(segs(d3)).isEmpty)
  }

  test("config change invalidates stage markers (fingerprint mismatch)") {
    val tracker = new graft.index.StageTracker(s"${TestSpark.workDir}/index_resume",
      IndexConfig(docsPerShard = 999).fingerprint, "")
    assert(!tracker.isDone("docs"))
  }

  test("per-partition postings resume re-encodes only the missing partitions") {
    val (corpusDir, fullDir) = TestSpark.builtIndex
    val cfg = IndexConfig(docsPerShard = 256, buildPartitions = 8,
      partitionedResume = true)
    val rDir = s"${TestSpark.workDir}/index_partres"
    def part(pid: Int) = Paths.get(f"$rDir/_postings_parts/part-$pid%05d.bin")

    // simulated crash AFTER the per-partition parts job, BEFORE publish:
    // all 8 parts committed, no postings stage marker
    val stopped = IndexBuilder.buildFast(spark, corpusDir, rDir,
      cfg.copy(stopAfterStage = "postings_parts"))
    assert(stopped == null)
    assert(!Files.exists(Paths.get(s"$rDir/_stage_postings.json")))
    assert((0 until 8).forall(pid => Files.exists(part(pid))))

    // pretend the crash actually hit before partitions 5..7 committed
    (5 until 8).foreach(pid => Files.delete(part(pid)))
    val mtimes = (0 until 5).map(pid => Files.getLastModifiedTime(part(pid)))

    // resumed attempt (stopped again before publish): must re-encode ONLY
    // the 3 missing partitions — the 5 committed part files stay untouched
    val stopped2 = IndexBuilder.buildFast(spark, corpusDir, rDir,
      cfg.copy(stopAfterStage = "postings_parts"))
    assert(stopped2 == null)
    assert((0 until 8).forall(pid => Files.exists(part(pid))))
    assert((0 until 5).map(pid => Files.getLastModifiedTime(part(pid))) == mtimes,
      "a committed part file was rewritten on resume")

    // final attempt publishes from the parts and cleans them up
    val meta = IndexBuilder.buildFast(spark, corpusDir, rDir, cfg)
    assert(meta != null && Files.exists(Paths.get(s"$rDir/meta.json")))
    assert(!Files.exists(Paths.get(s"$rDir/_postings_parts")))

    // content identical to the uninterrupted build of the same corpus
    def segs(dir: String) = spark.read.parquet(s"$dir/postings.parquet")
      .select("term", "shard", "n", "sumTf", "docBytes", "tfBytes")
    assert(segs(rDir).exceptAll(segs(fullDir)).isEmpty)
    assert(segs(fullDir).exceptAll(segs(rDir)).isEmpty)
    // and queries over it match the oracle
    val files = spark.read.parquet(s"$corpusDir/files.parquet")
    val s = new graft.query.Searcher(spark, rDir)
    val got = s.search("import def", 5).collect().map(h => (h.docId, h.score))
    val want = graft.oracle.OracleBm25.topK(files, "import def", 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.toSeq == want.toSeq)

    // lineage across the crash+resume: the encode manifest merges both
    // attempts' entries (8 partitions total), and the publish manifest —
    // re-derived from the parts themselves, so complete by construction —
    // covers all 8 with recorded merge fan-in and the same postings total
    import org.apache.spark.sql.functions.{sum => fsum, min => fmin}
    import spark.implicits._
    val dictDf = spark.read.parquet(s"$rDir/dict.parquet")
      .agg(fsum("df")).as[Long].head()
    val enc = spark.read.parquet(s"$rDir/manifests/postings.parquet")
    assert(enc.count() == 8, s"encode manifest has ${enc.count()} of 8 partitions")
    assert(enc.agg(fsum("postings")).as[Long].head() == dictDf)
    val pub = spark.read.parquet(s"$rDir/manifests/publish.parquet")
    assert(pub.count() == 8)
    assert(pub.agg(fsum("postings")).as[Long].head() == dictDf)
    assert(pub.agg(fmin("fanIn")).as[Long].head() >= 1L)
  }

  test("per-partition resume with a CHANGED partition count fails loudly (scheme pin)") {
    val (corpusDir, _) = TestSpark.builtIndex
    val rDir = s"${TestSpark.workDir}/index_partres_scheme"
    val stopped = IndexBuilder.buildFast(spark, corpusDir, rDir,
      IndexConfig(docsPerShard = 256, buildPartitions = 8,
        partitionedResume = true, stopAfterStage = "postings_parts"))
    assert(stopped == null)
    // resuming under a different P would compose parts from two hash
    // schemes — every group whose old/new partition ids differ duplicated
    val ex = intercept[IllegalArgumentException] {
      IndexBuilder.buildFast(spark, corpusDir, rDir,
        IndexConfig(docsPerShard = 256, buildPartitions = 16,
          partitionedResume = true))
    }
    assert(ex.getMessage.contains("scheme"))
  }

  test("per-partition resume with a CHANGED config fails loudly (fingerprint in scheme pin)") {
    val (corpusDir, _) = TestSpark.builtIndex
    val rDir = s"${TestSpark.workDir}/index_partres_cfg"
    val stopped = IndexBuilder.buildFast(spark, corpusDir, rDir,
      IndexConfig(docsPerShard = 256, buildPartitions = 8,
        partitionedResume = true, stopAfterStage = "postings_parts"))
    assert(stopped == null)
    // same P, different docsPerShard: the committed parts carry the OLD
    // shard assignment and block-max norms — reusing them would compose
    // stale geometry into the published index, so the scheme pin (which
    // carries the config fingerprint) must reject the resume
    val ex = intercept[IllegalArgumentException] {
      IndexBuilder.buildFast(spark, corpusDir, rDir,
        IndexConfig(docsPerShard = 128, buildPartitions = 8,
          partitionedResume = true))
    }
    assert(ex.getMessage.contains("scheme"))
  }

  test("resume with a CHANGED corpus fails loudly (corpus-vs-artifact consistency)") {
    import spark.implicits._
    val dir = s"${TestSpark.workDir}/drift_corpus"
    val rows = (0 until 20).map(i =>
      FileRow("r", f"p$i%03d", "c", "scala", s"alpha beta doc$i"))
    rows.toDF().write.mode("overwrite").parquet(s"$dir/files.parquet")
    val cfg = IndexConfig(docsPerShard = 8, verifySha = false)
    // commit docs + dlens, stop before postings (simulated crash)
    val stopped = IndexBuilder.buildFast(spark, dir, s"$dir/idx",
      cfg.copy(stopAfterStage = "dlens"))
    assert(stopped == null)
    // the corpus gains a row between attempts (verifySha off, so the sha
    // sidecar cannot catch it) — the resumed postings stage would bind
    // different docIds than the committed docs artifact
    (rows :+ FileRow("r", "zzz", "c", "scala", "gamma delta")).toDF()
      .write.mode("overwrite").parquet(s"$dir/files.parquet")
    val ex = intercept[IllegalArgumentException] {
      IndexBuilder.buildFast(spark, dir, s"$dir/idx", cfg)
    }
    assert(ex.getMessage.contains("corpus changed"))
  }

  test("corpus rejects duplicate composite keys") {
    import spark.implicits._
    val dir = s"${TestSpark.workDir}/dup_corpus"
    val rows = Seq(
      FileRow("r", "p", "c", "scala", "a b"),
      FileRow("r", "p", "c", "scala", "a b"))
    rows.toDF().write.mode("overwrite").parquet(s"$dir/files.parquet")
    val ex = intercept[IllegalArgumentException] {
      IndexBuilder.buildFast(spark, dir, s"$dir/idx",
        IndexConfig(verifySha = false))
    }
    assert(ex.getMessage.contains("duplicate"))
  }

  test("sha256 invariant violation fails the build") {
    import spark.implicits._
    val dir = s"${TestSpark.workDir}/badsha_corpus"
    Seq(FileRow("r", "p", "c", "scala", "a b")).toDF()
      .write.mode("overwrite").parquet(s"$dir/files.parquet")
    Seq(("r", "p", "c", "deadbeef")).toDF("repo", "path", "commit", "ref_sha256")
      .write.mode("overwrite").parquet(s"$dir/ref_sha.parquet")
    val ex = intercept[IllegalArgumentException] {
      IndexBuilder.buildFast(spark, dir, s"$dir/idx", IndexConfig())
    }
    assert(ex.getMessage.contains("sha256"))
  }
}
