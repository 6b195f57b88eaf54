package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.index.{IndexBuilder, IndexCheck, Metrics}

/** Index fsck: a fresh index passes every invariant; each class of
  * corruption (segment bytes, dictionary stats, shard lists and file order,
  * shard-length slots, meta counts) is detected and named.
  */
class IndexCheckSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  lazy val (corpusDir, indexDir) = TestSpark.builtIndex

  private def copyIndex(label: String): String = {
    val src = Paths.get(indexDir)
    val dst = Files.createTempDirectory(s"idxcheck-$label")
    val walk = Files.walk(src)
    try walk.forEach { p =>
      val t = dst.resolve(src.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t)
    } finally walk.close()
    dst.toString
  }

  private def rewrite(df: org.apache.spark.sql.DataFrame, dest: String): Unit = {
    // read from the ORIGINAL index, write into the tampered copy
    val tmp = dest + ".tmp"
    df.write.mode("overwrite").parquet(tmp)
    FsUtil.deleteRecursively(dest)
    Files.move(Paths.get(tmp), Paths.get(dest))
  }

  test("fresh index passes all invariants") {
    val r = IndexCheck.check(spark, indexDir)
    assert(r.ok, r.render)
    assert(r.segments > 0 && r.postings > r.segments && r.terms > 0)
    assert(r.render.startsWith("OK"))
  }

  test("tampered segment count (n+1) is detected") {
    val dir = copyIndex("segn")
    val seg = spark.read.parquet(s"$indexDir/postings.parquet")
    val victim = seg.orderBy(desc("n"), asc("term"), asc("shard"))
      .select("term", "shard").head()
    rewrite(seg.withColumn("n",
      when(col("term") === victim.getString(0) &&
        col("shard") === victim.getInt(1), col("n") + 1)
        .otherwise(col("n"))),
      s"$dir/postings.parquet")
    val r = IndexCheck.check(spark, dir)
    assert(!r.ok)
    assert(r.violations.exists(v => v.check.startsWith("seg") ||
      v.check == "dict-mismatch"), r.render)
  }

  test("tampered dictionary df is detected") {
    val dir = copyIndex("dictdf")
    val dict = spark.read.parquet(s"$indexDir/dict.parquet")
    val victim = dict.orderBy(desc("df"), asc("term")).select("term").head()
    rewrite(dict.withColumn("df",
      when(col("term") === victim.getString(0), col("df") + 1)
        .otherwise(col("df"))),
      s"$dir/dict.parquet")
    val r = IndexCheck.check(spark, dir)
    assert(!r.ok)
    assert(r.violations.exists(_.check == "dict-mismatch"), r.render)
  }

  test("tampered dictionary shard list is detected") {
    val dir = copyIndex("dictshards")
    val dict = spark.read.parquet(s"$indexDir/dict.parquet")
    val victim = dict.filter(size($"shards") > 1).orderBy(asc("term")).select("term").head()
    rewrite(dict.withColumn("shards",
      when(col("term") === victim.getString(0), slice(col("shards"), 2, 1000))
        .otherwise(col("shards"))),
      s"$dir/dict.parquet")
    val r = IndexCheck.check(spark, dir)
    assert(r.violations.map(_.check).toSet == Set("dict-shards"), r.render)
  }

  test("a dictionary file out of term order is detected") {
    val dir = copyIndex("dictorder")
    rewrite(spark.read.parquet(s"$indexDir/dict.parquet").repartition(1)
      .sortWithinPartitions(desc("term")), s"$dir/dict.parquet")
    val r = IndexCheck.check(spark, dir)
    assert(r.violations.map(_.check).toSet == Set("dict-order"), r.render)
  }

  test("dictionary files with overlapping term ranges are detected") {
    val dir = copyIndex("dictranges")
    rewrite(spark.read.parquet(s"$indexDir/dict.parquet").repartition(2, col("term"))
      .sortWithinPartitions("term"), s"$dir/dict.parquet")
    val r = IndexCheck.check(spark, dir)
    assert(r.violations.map(_.check).toSet == Set("dict-ranges"), r.render)
  }

  test("tampered dlens slot is detected") {
    val dir = copyIndex("dlens")
    val lens = spark.read.parquet(s"$indexDir/dlens.parquet").as[ShardLens]
    rewrite(lens.map { sl =>
      if (sl.shard == 0 && sl.lens.nonEmpty) {
        val l2 = sl.lens.clone(); l2(0) = l2(0) + 1
        sl.copy(lens = l2)
      } else sl
    }.toDF(), s"$dir/dlens.parquet")
    val r = IndexCheck.check(spark, dir)
    assert(!r.ok)
    assert(r.violations.exists(_.check == "dlens-slot"), r.render)
  }

  test("tampered blockMaxTf is detected") {
    // an understated per-block max tf would make the avgdl-free pruning
    // bounds (Codec.recomputeBlockUb) silently inadmissible — fsck must name it
    val dir = copyIndex("blockmaxtf")
    val seg = spark.read.parquet(s"$indexDir/postings.parquet")
    val victim = seg.orderBy(desc("sumTf"), asc("term"), asc("shard"))
      .select("term", "shard").head()
    rewrite(seg.withColumn("blockMaxTf",
      when(col("term") === victim.getString(0) &&
        col("shard") === victim.getInt(1),
        transform(col("blockMaxTf"), _ => lit(0)))
        .otherwise(col("blockMaxTf"))),
      s"$dir/postings.parquet")
    val r = IndexCheck.check(spark, dir)
    assert(!r.ok)
    assert(r.violations.exists(_.check == "seg-blockmaxtf"), r.render)
  }

  test("tampered blockMinDlen is detected") {
    // an OVERSTATED min dlen shrinks the recomputed bound below real
    // postings' normalization — the other silently-inadmissible direction
    val dir = copyIndex("blockmindlen")
    val seg = spark.read.parquet(s"$indexDir/postings.parquet")
    val victim = seg.orderBy(desc("sumTf"), asc("term"), asc("shard"))
      .select("term", "shard").head()
    rewrite(seg.withColumn("blockMinDlen",
      when(col("term") === victim.getString(0) &&
        col("shard") === victim.getInt(1),
        transform(col("blockMinDlen"), x => x + 1000))
        .otherwise(col("blockMinDlen"))),
      s"$dir/postings.parquet")
    val r = IndexCheck.check(spark, dir)
    assert(!r.ok)
    assert(r.violations.exists(_.check == "seg-blockmindlen"), r.render)
  }

  test("tampered meta counts are detected") {
    val dir = copyIndex("meta")
    val meta = IndexBuilder.readMeta(indexDir)
    Metrics.writeMetaJson(s"$dir/meta.json",
      meta.copy(numDocs = meta.numDocs + 1))
    val r = IndexCheck.check(spark, dir)
    assert(!r.ok)
    assert(r.violations.exists(v => v.check == "meta-docs" ||
      v.check == "meta-avgdl"), r.render)
  }
}
