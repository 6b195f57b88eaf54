package graft

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.corpus.CorpusGen
import graft.index.{IndexBuilder, IndexConfig}
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

  /** Spark jobs launched by `f`: the jobs submitted between two sentinel
    * jobs. Listener events arrive in order, so once the closing sentinel's
    * start is seen, every job of `f` has been seen too.
    */
  private def jobsOf(f: => Unit): Int = {
    val sc = spark.sparkContext
    val ids = ConcurrentHashMap.newKeySet[Int]()
    val sentinels = new ConcurrentHashMap[String, Int]()
    val closed = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        ids.add(e.jobId)
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .filter(_.startsWith("jobs-of-sentinel-")).foreach { g =>
            sentinels.put(g, e.jobId)
            if (g.endsWith("close")) closed.countDown()
          }
      }
    }
    def sentinel(name: String): Unit = {
      sc.setJobGroup(s"jobs-of-sentinel-$name", "job-count sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    }
    sc.addSparkListener(listener)
    try {
      sentinel("open")
      f
      sentinel("close")
      assert(closed.await(60, TimeUnit.SECONDS), "listener never saw the sentinel")
      val (lo, hi) = (sentinels.get("jobs-of-sentinel-open"), sentinels.get("jobs-of-sentinel-close"))
      ids.toArray.map(_.asInstanceOf[Int]).count(id => id > lo && id < hi)
    } finally sc.removeSparkListener(listener)
  }

  test("opening a Searcher costs no job per delta dir") {
    val ds = deltas // committed outside the counted region
    val one = jobsOf(new Searcher(spark, indexDir, ds.take(1)))
    val three = jobsOf(new Searcher(spark, indexDir, ds))
    assert(one == three, s"1 delta: $one jobs, 3 deltas: $three jobs")
  }

  test("one indexBatch launches at most 9 jobs") {
    val n = jobsOf(IncrementalIndexer.indexBatch(spark, slice(300L, 100L),
      s"$work/plain/batch_3", baseDocs + 300L, IndexConfig(docsPerShard = 256)))
    assert(n <= 9, s"indexBatch launched $n jobs")
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
}
