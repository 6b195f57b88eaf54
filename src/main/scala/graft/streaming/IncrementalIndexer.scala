package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft._
import graft.index.{Codec, IndexBuilder, IndexConfig, IndexFiles, Metrics, Tokenize}

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
    * index). Micro-batches are small by construction, so batch-local
    * operations (a window for in-batch docIds, groupBy encode) are fine here
    * — the petabyte-scale path is the batch `IndexBuilder`.
    *
    * The commit counts of `meta.json` are observed during the writes that
    * produce the tables (numDocs/totalTokens on the docs write, numSegments
    * on the postings write, numTerms on the dict write), each above every
    * exchange of its plan, so no job re-reads a table to count it.
    */
  def indexBatch(spark: SparkSession, batch: DataFrame, batchDir: String,
                 firstDocId: Long, cfg: IndexConfig): IndexMetaLike = {
    import spark.implicits._
    val t0 = System.nanoTime()
    val dps = cfg.docsPerShard
    val withId = batch
      .withColumn("docId",
        (row_number().over(Window.orderBy("repo", "path", "commit")) - 1)
          .cast("long") + firstDocId)
      .withColumn("sha256", sha2(col("content"), 256))
      .withColumn("dlen", size(Tokenize.termsCol(col("content"))).cast("int"))
      .persist()

    val docStats = new Observation("deltaDocs")
    withId.select("docId", "repo", "path", "commit", "lang", "dlen", "sha256")
      .observe(docStats, count(lit(1)).as("numDocs"),
        sum($"dlen".cast("long")).as("totalTokens"))
      .write.mode("overwrite").parquet(s"$batchDir/docs.parquet")

    val numDocs = docStats.get("numDocs").asInstanceOf[Long]
    val totalTokens = docStats.get("totalTokens").asInstanceOf[Long]
    val globalEnd = firstDocId + numDocs

    withId.select($"docId", $"dlen", (($"docId" / dps).cast("int")).as("shard"))
      .as[(Long, Int, Int)]
      .groupByKey(_._3)
      .mapGroups { (shard, it) =>
        val first = shard.toLong * dps
        val sz = (math.min((shard + 1).toLong * dps, globalEnd) - first).toInt
        val lens = new Array[Int](sz)
        it.foreach { case (d, dl, _) => lens((d - first).toInt) = dl }
        ShardLens(shard, first, lens)
      }
      .write.mode("overwrite").parquet(s"$batchDir/dlens.parquet")

    val (k1, b) = (cfg.k1, cfg.b)
    val avgdl = totalTokens.toDouble / math.max(numDocs, 1)
    val segStats = new Observation("deltaSegments")
    if (!cfg.positions) {
      withId
        .select($"docId", (($"docId" / dps).cast("int")).as("shard"), $"dlen",
          explode(Tokenize.termsCol($"content")).as("term"))
        .groupBy("term", "docId", "shard", "dlen")
        .agg(count(lit(1)).cast("int").as("tf"))
        .as[(String, Long, Int, Int, Int)]
        .groupByKey(r => (r._1, r._3))
        .mapGroups { (key, it) =>
          val (term, shard) = key
          val rows = it.toArray.sortBy(_._2)
          val da = rows.map(_._2)
          val fa = rows.map(_._5)
          val la = rows.map(_._4)
          Codec.makeSeg(term, shard, da, fa, la, k1, b, avgdl)
        }
        .observe(segStats, count(lit(1)).as("numSegments"))
        .write.mode("overwrite").parquet(s"$batchDir/postings.parquet")
    } else {
      // positional deltas: ordinals via posexplode, per-(term, doc) ascending
      // position lists; same PostingSegP shape as the positional index build,
      // so composite and compacted phrase search work over streamed batches
      withId
        .select($"docId", (($"docId" / dps).cast("int")).as("shard"), $"dlen",
          posexplode(Tokenize.termsCol($"content")).as(Seq("ord", "term")))
        .groupBy("term", "docId", "shard", "dlen")
        .agg(sort_array(collect_list($"ord")).as("pos"))
        .select($"term", $"docId", $"shard", $"dlen", $"pos")
        .as[(String, Long, Int, Int, Array[Int])]
        .groupByKey(r => (r._1, r._3))
        .mapGroups { (key, it) =>
          val (term, shard) = key
          val rows = it.toArray.sortBy(_._2)
          val da = rows.map(_._2)
          val ps = rows.map(_._5)
          val fa = ps.map(_.length)
          val la = rows.map(_._4)
          Codec.makeSegP(term, shard, da, fa, la, k1, b, avgdl,
            Codec.encodePositions(ps))
        }
        .observe(segStats, count(lit(1)).as("numSegments"))
        .write.mode("overwrite").parquet(s"$batchDir/postings.parquet")
    }

    val dictStats = new Observation("deltaDict")
    IndexFiles.postings(spark, Seq(batchDir))
      .groupBy("term").agg(sum($"n".cast("long")).as("df"), sum($"sumTf").as("cf"))
      .observe(dictStats, count(lit(1)).as("numTerms"))
      .as[TermStat]
      .write.mode("overwrite").parquet(s"$batchDir/dict.parquet")
    withId.unpersist()

    val numTerms = dictStats.get("numTerms").asInstanceOf[Long]
    val numSegments = segStats.get("numSegments").asInstanceOf[Long]
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
    * assigns in-batch docIds with a batch-local unpartitioned window — correct
    * but serial — so the batch size cap is what keeps that stage bounded; the
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
