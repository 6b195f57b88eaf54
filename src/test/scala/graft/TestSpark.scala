package graft

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.scalatest.Assertions.assert

/** One shared local session + shared small corpus/index for all suites. */
object TestSpark {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[8]")
    .appName("psispark-test")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.driver.host", "localhost")
    .getOrCreate()

  lazy val workDir: String = {
    val d = Files.createTempDirectory("psispark-test").toString
    d
  }

  val corpusCfg: corpus.CorpusGen.Config = corpus.CorpusGen.Config(numDocs = 2000L, seed = 42L)

  /** Corpus + built index, materialized once. */
  lazy val builtIndex: (String, String) = {
    val c = s"$workDir/corpus"
    val i = s"$workDir/index"
    corpus.CorpusGen.writeCorpus(spark, corpusCfg, c)
    index.IndexBuilder.buildFast(spark, c, i, index.IndexConfig(docsPerShard = 256))
    (c, i)
  }

  /** Spark jobs launched by `f`: the jobs submitted between two sentinel
    * jobs. Listener events arrive in order, so once the closing sentinel's
    * start is seen, every job of `f` has been seen too.
    */
  def jobsOf(f: => Unit): Int = record(f)._1

  /** Shuffle records written by each stage of `f` that wrote any, in
    * completion order (recorded between the same sentinels as [[jobsOf]]).
    */
  def shuffleWritesOf(f: => Unit): Seq[Long] = record(f)._2

  private def record(f: => Unit): (Int, Seq[Long]) = {
    val sc = spark.sparkContext
    // written on the listener thread only, read after `closed` releases
    var (opened, done, jobs) = (false, false, 0)
    val writes = Seq.newBuilder[Long]
    val closed = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .filter(_.startsWith("jobs-of-sentinel-")) match {
          case Some(g) if g.endsWith("open") => opened = true
          case Some(_) => done = true; closed.countDown()
          case None => if (opened && !done) jobs += 1
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val w = e.stageInfo.taskMetrics.shuffleWriteMetrics.recordsWritten
        if (opened && !done && w > 0) writes += w
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
      (jobs, writes.result())
    } finally sc.removeSparkListener(listener)
  }
}
