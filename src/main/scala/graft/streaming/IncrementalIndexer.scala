package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Encoder, Observation, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft._
import graft.index.{IndexBuilder, IndexConfig, Metrics}

/** Incremental index ingest via Structured Streaming: new corpus files
  * arriving in a directory are indexed per micro-batch into self-contained
  * DELTA mini-indexes (same artifact shape as the base index), which
  * `Searcher(spark, baseDir, deltaDirs)` unions at query time with combined
  * corpus statistics.
  *
  * The offline/online split of the reference's UB-PSI (build cache → probe
  * cache, psi/interface.cc:281-312) extended with event-driven appends:
  *  - docIds continue densely after the base (global, deterministic given
  *    the arrival order of batches; within a batch, composite-key order)
  *  - a batch encodes with the build's kernels (`token_count`,
  *    `draftSegments`, `finalizeSegments[P]`, `packLens`), so a delta over
  *    docIds [0, n) equals `IndexBuilder.buildFast` over the same docs
  *  - each batch directory is committed by its meta.json (written last);
  *    a restart recomputes the next docId from committed batches only and
  *    overwrites any uncommitted partial batch — idempotent resume, the
  *    streaming twin of the index build's stage markers
  */
object IncrementalIndexer {

  /** Committed delta dirs in batch order. */
  def deltaDirs(deltasDir: String): Seq[String] = {
    val root = Paths.get(deltasDir)
    if (!Files.exists(root)) return Nil
    val stream = Files.list(root)
    try {
      val it = stream.iterator()
      Iterator.continually(it).takeWhile(_ => it.hasNext).map(_.next())
        .filter(p => p.getFileName.toString.startsWith("batch_") &&
          Files.exists(p.resolve("meta.json")))
        .map(_.toString).toSeq.sorted
    } finally stream.close()
  }

  /** First docId for a new batch: base docs + docs of committed deltas
    * (excluding a possibly-partial dir for this very batch id).
    */
  private def nextDocId(baseDir: String, deltasDir: String, batchDir: String): Long = {
    val base = IndexBuilder.readMeta(baseDir).numDocs
    base + deltaDirs(deltasDir).filterNot(_ == batchDir)
      .map(d => IndexBuilder.readMeta(d).numDocs).sum
  }

  /** Index one micro-batch into `batchDir` (same artifact shape as a full
    * index) with the build's own kernels. The batch-local unpartitioned
    * window that numbers the batch's docs gathers them into ONE
    * docId-ascending partition, and everything after it stays there: dlen is
    * `token_count`, the dlens are packed by [[IndexBuilder.packLens]], the
    * postings are map-side drafts finalized without a (term, shard)
    * exchange (one partition holds every draft of a (term, shard)), and the
    * dict is [[IndexBuilder.writeDict]]'s per-term merge of the term-sorted
    * segments, with no exchange. The
    * window's exchange is the batch's only shuffle. Micro-batches are small
    * by construction, so one partition is fine here — the petabyte-scale
    * path is [[IndexBuilder.buildFast]].
    *
    * The commit counts of `meta.json` are observed during the writes that
    * produce the tables (numDocs/totalTokens on the docs write, numSegments
    * on the postings write, numTerms on the dict write), so no job re-reads
    * a table to count it.
    */
  def indexBatch(spark: SparkSession, batch: DataFrame, batchDir: String,
                 firstDocId: Long, cfg: IndexConfig): IndexMetaLike = {
    import spark.implicits._
    val t0 = System.nanoTime()
    val dps = cfg.docsPerShard
    graft.functions.VByteFunctions.register(spark)
    val withId = batch
      .withColumn("docId",
        (row_number().over(Window.orderBy("repo", "path", "commit")) - 1)
          .cast("long") + firstDocId)
      // the window already yields one partition; coalesce(1) keeps it one,
      // because finalize merges a (term, shard) only within a partition
      .coalesce(1)
      .withColumn("sha256", sha2(col("content"), 256))
      .withColumn("dlen", expr("token_count(content)"))
      .persist()

    val docStats = new Observation("deltaDocs")
    withId.select("docId", "repo", "path", "commit", "lang", "dlen", "sha256")
      .observe(docStats, count(lit(1)).as("numDocs"),
        sum($"dlen".cast("long")).as("totalTokens"))
      .write.mode("overwrite").parquet(s"$batchDir/docs.parquet")

    val numDocs = docStats.get("numDocs").asInstanceOf[Long]
    val totalTokens = docStats.get("totalTokens").asInstanceOf[Long]
    val globalEnd = firstDocId + numDocs

    withId.select($"docId", $"dlen").as[(Long, Int)]
      .mapPartitions(IndexBuilder.packLens(_, dps, globalEnd))
      .write.mode("overwrite").parquet(s"$batchDir/dlens.parquet")

    val (k1, b) = (cfg.k1, cfg.b)
    val avgdl = totalTokens.toDouble / math.max(numDocs, 1)
    val rows = withId.select($"docId", $"content").as[(Long, String)]
    def encode[D <: Product : Encoder, S <: Product : Encoder](
        finalize: Iterator[D] => Iterator[S]): DataFrame =
      IndexBuilder.sortedDrafts[D](rows, dps, cfg.positions, exchange = 0)
        .mapPartitions(finalize).toDF()
    val segs = (if (!cfg.positions)
      encode[SegDraft, PostingSeg](IndexBuilder.finalizeSegments(_, k1, b, avgdl, null))
    else
      encode[SegDraftP, PostingSegP](IndexBuilder.finalizeSegmentsP(_, k1, b, avgdl, null))
    ).persist()
    val segStats = new Observation("deltaSegments")
    segs.observe(segStats, count(lit(1)).as("numSegments"))
      .write.mode("overwrite").parquet(s"$batchDir/postings.parquet")
    val numSegments = segStats.get("numSegments").asInstanceOf[Long]

    val numTerms = IndexBuilder.writeDict(segs, s"$batchDir/dict.parquet")
    segs.unpersist()
    withId.unpersist()

    val elapsedMs = (System.nanoTime() - t0) / 1000000
    Metrics.writeJson(s"$batchDir/manifests/batch.json",
      Seq(PartitionManifest("delta", 0, numDocs, totalTokens, 0, "", elapsedMs)))
    // meta.json last = the batch commit marker
    Metrics.writeMetaJson(s"$batchDir/meta.json",
      graft.index.IndexMeta(numDocs, totalTokens, avgdl, k1, b, dps,
        numTerms, numSegments, cfg.fingerprint))
    IndexMetaLike(numDocs, totalTokens)
  }

  case class IndexMetaLike(numDocs: Long, totalTokens: Long)

  /** Start watching `watchDir` for new parquet corpus files; each micro-batch
    * becomes a committed delta under `deltasDir`.
    *
    * `maxFilesPerTrigger` bounds a micro-batch so a BULK drop into the watch
    * directory (a backfill, a re-sync) cannot form one giant batch: indexBatch
    * runs a batch in the one partition of its batch-local unpartitioned docId
    * window, encode included — correct but serial — so the batch size cap is
    * what keeps that stage bounded; the
    * file source simply splits the drop into several ordinary micro-batches
    * (StreamingIndexSpec asserts a multi-batch ingest stays bit-exact vs a
    * full rebuild).
    */
  def start(spark: SparkSession, watchDir: String, baseDir: String,
            deltasDir: String, cfg: IndexConfig = IndexConfig(),
            maxFilesPerTrigger: Int = 64): StreamingQuery = {
    val schema = org.apache.spark.sql.Encoders.product[FileRow].schema
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(watchDir)
      .writeStream
      .option("checkpointLocation", s"$deltasDir/_checkpoint")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val batchDir = f"$deltasDir/batch_$batchId%05d"
          val first = nextDocId(baseDir, deltasDir, batchDir)
          indexBatch(batch.sparkSession, batch, batchDir, first, cfg)
          ()
        }
      }
      .start()
  }
}
