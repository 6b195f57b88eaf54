package graft.index

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Document deletion via tombstones — the missing lifecycle third of
  * add (IncrementalIndexer) / compact (IndexBuilder.compact) for a LIVING
  * corpus. Deletes are logical first, physical later, exactly Lucene's
  * model: `applyDeletes` resolves delete KEYS to docIds and records them in
  * a tombstone file; every `Searcher` query path excludes tombstoned docs
  * (df/avgdl keep their full-corpus values, like Lucene's
  * docFreq-includes-deletes); `IndexBuilder.compact(tombstonePath = ...)`
  * physically drops the docs, recomputes corpus statistics and block-max
  * bounds, and the tombstone file retires with the parts it covered.
  *
  * Scale shape: resolution is one left-semi join of the docs table against
  * the delete keys (keys+ids through the exchange, never content); the
  * tombstone artifact is (docId, shard) rows, which query-time grouping
  * turns into one delta-compressed exclusion list per candidate shard.
  * Every read goes through [[IndexFiles]] with the fixed schema, and the
  * tombstone total `applyDeletes` returns is observed during the merged
  * write itself — no Spark job re-reads what was just written.
  */
object Tombstones {

  /** Resolve delete keys `(repo, path, commit)` against the composite index
    * view (base + deltas) and MERGE the resulting docIds into the tombstone
    * parquet at `tombstonePath` (created if absent; duplicate deletes are
    * idempotent). Written via temp + atomic swap so a crash mid-write can
    * never leave a torn tombstone file. Returns the total tombstoned count,
    * observed on the merged write (no re-count of the written file).
    */
  def applyDeletes(spark: SparkSession, keys: DataFrame,
                   indexDirs: Seq[String], tombstonePath: String): Long = {
    import spark.implicits._
    val dps = IndexBuilder.readMeta(indexDirs.head).docsPerShard
    val docs = IndexFiles.docs(spark, indexDirs)
    val resolved = docs
      .join(keys.select("repo", "path", "commit"),
        Seq("repo", "path", "commit"), "left_semi")
      .select($"docId", ($"docId" / dps).cast("int").as("shard"))
    val conf = spark.sessionState.newHadoopConf()
    val dst = new Path(tombstonePath)
    val fs = dst.getFileSystem(conf)
    val merged = currentPath(fs, tombstonePath) match {
      case Some(cur) =>
        resolved.unionByName(IndexFiles.tombstones(spark, cur.toString)).distinct()
      case None => resolved.distinct()
    }
    // the total is observed above the distinct's exchange, so it counts
    // exactly the rows written
    val total = new Observation("tombstoneTotal")
    // crash-safe swap: the previous generation is RENAMED ASIDE (never
    // deleted before the new one lands), so at every instant either the
    // new file or the .bak generation exists — a crash between steps can
    // lose at most the in-flight batch of deletes, never the history
    val tmp = new Path(tombstonePath + ".tmp")
    val bak = new Path(tombstonePath + ".bak")
    merged.observe(total, count(lit(1)).as("n"))
      .write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    if (fs.exists(bak)) fs.delete(bak, true)
    if (fs.exists(dst))
      require(fs.rename(dst, bak), s"tombstone swap: $dst -> $bak failed")
    require(fs.rename(tmp, dst), s"tombstone swap: $tmp -> $dst failed")
    fs.delete(bak, true)
    total.get("n").asInstanceOf[Long]
  }

  /** The live tombstone generation: the main file, or the .bak generation
    * if a crash interrupted a swap after the main file was renamed aside.
    */
  private def currentPath(fs: org.apache.hadoop.fs.FileSystem,
                          tombstonePath: String): Option[Path] = {
    val dst = new Path(tombstonePath)
    val bak = new Path(tombstonePath + ".bak")
    if (fs.exists(dst)) Some(dst)
    else if (fs.exists(bak)) Some(bak)
    else None
  }

  /** The tombstoned docIds as a DataFrame (empty if never created; falls
    * back to the .bak generation after an interrupted swap).
    */
  def read(spark: SparkSession, tombstonePath: String): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    val fs = new Path(tombstonePath).getFileSystem(conf)
    currentPath(fs, tombstonePath) match {
      case Some(p) => IndexFiles.tombstones(spark, p.toString)
      case None =>
        import spark.implicits._
        Seq.empty[(Long, Int)].toDF("docId", "shard")
    }
  }
}
