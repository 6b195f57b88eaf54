package graft.index

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

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
  * the delete keys (keys+ids through the exchange, never content), and it
  * stays distributed. Only its result comes to the driver, at most one
  * docId per matching doc. The merge with the previous generation runs on
  * the driver over primitive arrays: the driver holds the deletes since the
  * last compaction at 8 B each. The tombstone artifact is (docId, shard)
  * rows, one docId-sorted part file, which query-time grouping turns into
  * one delta-compressed exclusion list per candidate shard.
  */
object Tombstones {

  /** Resolve delete keys `(repo, path, commit)` against the composite index
    * view (base + deltas) and MERGE the resulting docIds into the tombstone
    * parquet at `tombstonePath` (created if absent; duplicate deletes are
    * idempotent). Two Spark jobs at most, both for the resolution: the
    * semi-join's docIds are collected, and the previous generation is read
    * on the driver (`IndexFiles.tombstoneIds`), merged with them (sort,
    * then one pass that drops repeats) and written from the driver as one
    * docId-sorted part file. Written via temp + atomic swap so a crash
    * mid-write can never leave a torn tombstone file. Returns the total
    * tombstoned count, the length of the merged generation.
    */
  def applyDeletes(spark: SparkSession, keys: DataFrame,
                   indexDirs: Seq[String], tombstonePath: String): Long = {
    import spark.implicits._
    val dps = IndexBuilder.readMeta(indexDirs.head).docsPerShard
    val resolved = IndexFiles.docs(spark, indexDirs)
      .join(keys.select("repo", "path", "commit"),
        Seq("repo", "path", "commit"), "left_semi")
      .select("docId").as[Long].collect()
    val conf = spark.sessionState.newHadoopConf()
    val dst = new Path(tombstonePath)
    val fs = dst.getFileSystem(conf)
    val previous = currentPath(fs, tombstonePath)
      .fold(Array.emptyLongArray)(p => IndexFiles.tombstoneIds(spark, p.toString))
    val ids = sortedUnion(previous, resolved)
    // crash-safe swap: the previous generation is RENAMED ASIDE (never
    // deleted before the new one lands), so at every instant either the
    // new file or the .bak generation exists — a crash between steps can
    // lose at most the in-flight batch of deletes, never the history
    val tmp = new Path(tombstonePath + ".tmp")
    val bak = new Path(tombstonePath + ".bak")
    if (fs.exists(tmp)) fs.delete(tmp, true) // a crashed call's parts
    val out = new IndexFiles.TableWriter(tmp.toString, IndexFiles.tombstoneSchema, conf)
    ids.foreach(d => out.write((d, (d / dps).toInt)))
    out.close()
    if (fs.exists(bak)) fs.delete(bak, true)
    if (fs.exists(dst))
      require(fs.rename(dst, bak), s"tombstone swap: $dst -> $bak failed")
    require(fs.rename(tmp, dst), s"tombstone swap: $tmp -> $dst failed")
    fs.delete(bak, true)
    ids.length
  }

  /** The sorted distinct ids of `a` and `b` (either may be unsorted and
    * hold repeats): concatenated, sorted, then compacted in one pass.
    */
  private def sortedUnion(a: Array[Long], b: Array[Long]): Array[Long] = {
    val all = a ++ b
    java.util.Arrays.sort(all)
    var n = 0
    var i = 0
    while (i < all.length) {
      if (n == 0 || all(i) != all(n - 1)) { all(n) = all(i); n += 1 }
      i += 1
    }
    java.util.Arrays.copyOf(all, n)
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
