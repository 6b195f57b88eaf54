package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.corpus.CorpusGen
import graft.index.{IndexBuilder, IndexConfig, IndexFiles}
import graft.query.Searcher
import graft.SparkEntry

/** Dump `.explain("formatted")` physical plans into
  * `plans/r06/<name>_<suffix>.txt` — plan SHAPE is scale-independent, so a
  * small deterministic corpus is enough. The suffix (`before`/`after`) comes
  * from args so the same binary documents both sides of a change.
  *
  * Names are the engine's query surfaces below, `bm25_scan` (the query-side
  * postings scan: `term IN (...)` must reach the parquet scan as a pushed
  * filter) and any `SparkEntry.queries` gate; `all` (the default) dumps the
  * surfaces plus the gates whose physical shape matters at scale
  * (pushdown/broadcast/codegen, SURVEY.md §4).
  *
  * Usage: sbt "runMain graft.tools.PlanDump <suffix> [name,...]"
  */
object PlanDump {

  /** The gates dumped by `all`. */
  private val DefaultGates: Seq[String] = Seq("q_scan_project", "q_membership_filter",
    "q1_agg", "q_join_inner_dup", "q_topk", "q_window_rank", "q_ann_ivf",
    "q_ann_topk", "q_sessionize", "q_multimodal_real", "q_token_counts")

  def main(args: Array[String]): Unit = {
    val suffix = args.headOption.getOrElse("before")
    val wanted: Set[String] =
      args.lift(1).map(_.split(",").map(_.trim).toSet).getOrElse(Set("all"))
    def want(n: String): Boolean = wanted("all") || wanted(n)
    val outDir = Paths.get(sys.props("user.dir"), "plans", "r06")
    Files.createDirectories(outDir)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")

    val work = Files.createTempDirectory("psispark-plandump").toString
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("psispark-plandump")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/sparklocal")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def dump(name: String, df: => org.apache.spark.sql.DataFrame): Unit =
      if (want(name)) {
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.write(outDir.resolve(s"${name}_$suffix.txt"),
          plan.getBytes(StandardCharsets.UTF_8))
        println(s"[plandump] wrote ${name}_$suffix.txt")
      }

    try {
      CorpusGen.writeCorpus(spark, CorpusGen.Config(numDocs = 4000), s"$work/corpus")
      IndexBuilder.buildFast(spark, s"$work/corpus", s"$work/index",
        IndexConfig(docsPerShard = 512, buildPartitions = 8))
      val searcher = new Searcher(spark, s"$work/index")

      dump("sigterms", searcher.significantTerms("import util_7", 15))
      dump("collapse", searcher.searchCollapse("import util_7", 10, "lang"))
      dump("sortby", searcher.searchSortBy("import util_7", 10, "path"))
      dump("facet_counts", searcher.searchFacets("import def util_7", "lang"))
      dump("facet_stats", searcher.searchFacetStats("import def", "dlen"))
      dump("synonym", searcher.searchSynonym(Seq("util_7", "util_17"), 10).toDF())
      dump("batch",
        searcher.searchBatch(Seq(("a", "import util_7", 10), ("b", "def class", 10))))
      dump("filtered",
        searcher.searchWhere("import util_7", 10, col("lang") === "scala").toDF())
      dump("bm25_scan", IndexFiles.postings(spark, Seq(s"$work/index"))
        .filter(col("term").isin("import", "def", "util_7")))

      val qmap = SparkEntry.queries
      val gates = if (wanted("all")) DefaultGates else wanted.toSeq.sorted
      for (name <- gates if qmap.contains(name))
        try dump(name, qmap(name)(spark, sfDir))
        catch { case e: Exception =>
          println(s"[plandump] $name failed: ${e.getMessage.take(200)}") }
    } finally {
      spark.stop()
      graft.FsUtil.deleteRecursively(work)
    }
  }
}
