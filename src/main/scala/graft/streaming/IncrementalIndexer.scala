package graft.streaming

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

import graft._
import graft.index.{IndexBuilder, IndexConfig, IndexFiles, Metrics}

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
  *  - a batch is two Spark jobs: its docId window's exchange, then one
  *    task that encodes with the build's kernels (`token_count`,
  *    `draftSegments`, `finalizeSegments[P]`, `packLens`, the dict merge)
  *    and writes all four tables itself, so a delta over docIds [0, n)
  *    equals `IndexBuilder.buildFast` over the same docs
  *  - each task attempt stages its tables under `_attempt-<id>/`; the
  *    driver moves the winner's into place, and `meta.json`, written last,
  *    commits the batch directory. A restart recomputes the next docId
  *    from committed batches only and replaces any uncommitted partial
  *    batch — idempotent resume, the streaming twin of the index build's
  *    stage markers
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
    * index) with the build's own kernels, in two Spark jobs. The
    * batch-local unpartitioned window that numbers the batch's docs gathers
    * them into ONE docId-ascending partition; its exchange is the first job
    * and the batch's only shuffle. The second job is that partition's one
    * task ([[encodeBatch]]), which encodes the batch and writes all four
    * tables itself with `IndexFiles.TableWriter`: doc rows stream to the docs
    * file, dlen is `token_count`, the dlens are packed by
    * [[IndexBuilder.packLens]], the postings are `draftSegments`' drafts,
    * sorted on (term, shard) and finalized with no exchange (one partition
    * holds every draft of a (term, shard)), and the dict is
    * [[IndexBuilder.mergeTermStats]] of the segments as they are written,
    * with the dict's page settings. The task returns the commit
    * counts of `meta.json`, so no job re-reads a table to count it.
    * Micro-batches are small by construction, so one partition is fine here:
    * the task holds the batch's compressed drafts in memory until the
    * batch's avgdl is known. The petabyte-scale path is
    * [[IndexBuilder.buildFast]].
    *
    * Each task attempt writes under `batchDir/_attempt-<taskAttemptId>/`.
    * On the driver, the winning attempt's four table dirs replace whatever
    * an earlier, uncommitted run left in `batchDir`, every attempt dir is
    * deleted, and `meta.json` is written last: the commit marker. An empty
    * batch commits nothing, creates no `batchDir` and returns zero counts.
    */
  def indexBatch(spark: SparkSession, batch: DataFrame, batchDir: String,
                 firstDocId: Long, cfg: IndexConfig): IndexMetaLike = {
    import spark.implicits._
    val t0 = System.nanoTime()
    graft.functions.VByteFunctions.register(spark)
    val commits = batch
      .withColumn("docId",
        (row_number().over(Window.orderBy("repo", "path", "commit")) - 1)
          .cast("long") + firstDocId)
      // the window already yields one partition; coalesce(1) keeps it one,
      // because finalize merges a (term, shard) only within a partition
      .coalesce(1)
      .withColumn("sha256", sha2(col("content"), 256))
      .withColumn("dlen", expr("token_count(content)"))
      .select("docId", "repo", "path", "commit", "lang", "dlen", "sha256", "content")
      .as[(Long, String, String, String, String, Int, String, String)]
      .mapPartitions(encodeBatch(_, batchDir, firstDocId, cfg))
      .collect()
    require(commits.length <= 1, s"a batch encodes in one task, not ${commits.length}")
    if (commits.isEmpty) return IndexMetaLike(0L, 0L)
    val c = commits.head

    val fs = new Path(batchDir).getFileSystem(spark.sessionState.newHadoopConf())
    // an earlier commit of this dir is withdrawn first, so no crash below
    // leaves a meta.json over half-replaced tables
    fs.delete(new Path(batchDir, "meta.json"), false)
    for (t <- Tables) {
      val dst = new Path(batchDir, s"$t.parquet")
      fs.delete(dst, true)
      require(fs.rename(new Path(attemptDir(batchDir, c.attempt), s"$t.parquet"), dst),
        s"batch commit: moving attempt ${c.attempt}'s $t table to $dst failed")
    }
    fs.listStatus(new Path(batchDir)).map(_.getPath)
      .filter(_.getName.startsWith("_attempt-")).foreach(fs.delete(_, true))

    val avgdl = c.totalTokens.toDouble / c.numDocs
    val elapsedMs = (System.nanoTime() - t0) / 1000000
    Metrics.writeJson(s"$batchDir/manifests/batch.json",
      Seq(PartitionManifest("delta", 0, c.numDocs, c.totalTokens, 0, "", elapsedMs)))
    // meta.json last = the batch commit marker
    Metrics.writeMetaJson(s"$batchDir/meta.json",
      graft.index.IndexMeta(c.numDocs, c.totalTokens, avgdl, cfg.k1, cfg.b,
        cfg.docsPerShard, c.numTerms, c.numSegments, cfg.fingerprint))
    IndexMetaLike(c.numDocs, c.totalTokens)
  }

  private val Tables = Seq("docs", "dlens", "postings", "dict")

  private def attemptDir(batchDir: String, attempt: Long): String =
    s"$batchDir/_attempt-$attempt"

  /** The counts one task attempt of [[indexBatch]] staged. */
  private[streaming] case class BatchCommit(attempt: Long, numDocs: Long, totalTokens: Long,
                                            numSegments: Long, numTerms: Long)

  /** The task of [[indexBatch]]: writes the four tables of the numbered,
    * docId-ascending rows (docId, repo, path, commit, lang, dlen, sha256,
    * content) under this attempt's dir and returns its counts; an empty
    * partition writes nothing and returns none.
    */
  private def encodeBatch(rows: Iterator[(Long, String, String, String, String, Int, String, String)],
                          batchDir: String, firstDocId: Long,
                          cfg: IndexConfig): Iterator[BatchCommit] = {
    if (!rows.hasNext) return Iterator.empty
    val attempt = TaskContext.get().taskAttemptId()
    val dir = attemptDir(batchDir, attempt)
    val conf = new Configuration()
    // attempt ids restart with each application: clear a stale namesake
    new Path(dir).getFileSystem(conf).delete(new Path(dir), true)
    def writer(table: String, schema: StructType, dict: Boolean = false) =
      new IndexFiles.TableWriter(s"$dir/$table.parquet", schema, conf, dict)
    val dps = cfg.docsPerShard

    val docs = writer("docs", IndexFiles.docsSchema)
    val lens = ArrayBuffer.empty[(Long, Int)]
    var totalTokens = 0L
    val contents = rows.map { case (docId, repo, path, commit, lang, dlen, sha, content) =>
      docs.write(DocRow(docId, repo, path, commit, lang, dlen, sha))
      lens += ((docId, dlen))
      totalTokens += dlen
      (docId, content)
    }
    // draftSegments yields the shards in ascending order, so a stable sort
    // on term gives the (term, shard) order that finalize and the dict
    // merge need, and the build's postings order. Terms are ASCII, so String
    // order is the dict's UTF-8 byte order.
    val drafts = IndexBuilder.draftSegments(contents, dps, cfg.positions).toArray.sortBy(_.term)
    val numDocs = docs.close()

    val dlens = writer("dlens", IndexFiles.dlensSchema)
    IndexBuilder.packLens(lens.iterator, dps, firstDocId + numDocs).foreach(dlens.write)
    dlens.close()

    val (k1, b, avgdl) = (cfg.k1, cfg.b, totalTokens.toDouble / numDocs)
    val (segs, schema) =
      if (!cfg.positions) (IndexBuilder.finalizeSegments(
        drafts.iterator.asInstanceOf[Iterator[SegDraft]], k1, b, avgdl, null),
        IndexFiles.postingsSchema)
      else (IndexBuilder.finalizeSegmentsP(
        drafts.iterator.asInstanceOf[Iterator[SegDraftP]], k1, b, avgdl, null),
        IndexFiles.positionalPostingsSchema)
    val postings = writer("postings", schema)
    val dict = writer("dict", IndexFiles.dictSchema, dict = true)
    IndexBuilder.mergeTermStats(segs.map { s =>
      postings.write(s)
      (s.term, s.shard, s.n, s.sumTf)
    }).foreach(dict.write)
    val (numSegments, numTerms) = (postings.close(), dict.close())
    Iterator.single(BatchCommit(attempt, numDocs, totalTokens, numSegments, numTerms))
  }

  case class IndexMetaLike(numDocs: Long, totalTokens: Long)

  /** Start watching `watchDir` for new parquet corpus files; each micro-batch
    * becomes a committed delta under `deltasDir`.
    *
    * `maxFilesPerTrigger` bounds a micro-batch so a BULK drop into the watch
    * directory (a backfill, a re-sync) cannot form one giant batch: indexBatch
    * runs a batch in the one task of its batch-local unpartitioned docId
    * window, encode included — correct but serial, with the batch's drafts
    * in memory — so the batch size cap is what keeps that task bounded; the
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
        // an empty batch commits nothing, so it needs no emptiness check
        val batchDir = f"$deltasDir/batch_$batchId%05d"
        val first = nextDocId(baseDir, deltasDir, batchDir)
        indexBatch(batch.sparkSession, batch, batchDir, first, cfg)
        ()
      }
      .start()
  }
}
