package graft

import java.util.concurrent.{Callable, Executors, TimeUnit}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.index.{IndexBuilder, IndexConfig, IndexFiles, Tokenize, Tombstones}
import graft.oracle.OracleBm25
import graft.query.Searcher
import graft.streaming.IncrementalIndexer

/** The per-shard harness over a positional base + delta + tombstone index:
  * synonym, explain and every positional mode against the union-corpus
  * oracle, and concurrent queries on one `Searcher`.
  */
class ShardHarnessSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val dps = 256

  /** (base, deltas, tombstones, union corpus): base = the first 1,100 docs
    * in key order, one delta continues the docId space (so the shard holding
    * the base's last doc straddles both parts), and every 7th docId of
    * either part is deleted. The split follows key order, so every docId
    * equals the oracle's global (repo, path, commit) rank.
    */
  lazy val env: (String, Seq[String], String, DataFrame) = {
    val (c, _) = TestSpark.builtIndex
    val full = spark.read.parquet(s"$c/files.parquet")
    val work = s"${TestSpark.workDir}/harness"
    val cfg = IndexConfig(docsPerShard = dps, positions = true)
    val ranked = full.withColumn("__rank",
      row_number().over(Window.orderBy("repo", "path", "commit")))
    val baseFiles = ranked.filter($"__rank" <= 1100).drop("__rank")
    baseFiles.write.mode("overwrite").parquet(s"$work/corpus1/files.parquet")
    spark.read.parquet(s"$c/ref_sha.parquet")
      .join(baseFiles.select("repo", "path", "commit"), Seq("repo", "path", "commit"))
      .write.mode("overwrite").parquet(s"$work/corpus1/ref_sha.parquet")
    IndexBuilder.buildFast(spark, s"$work/corpus1", s"$work/base", cfg)
    val baseN = IndexBuilder.readMeta(s"$work/base").numDocs
    IncrementalIndexer.indexBatch(spark, ranked.filter($"__rank" > 1100).drop("__rank"),
      s"$work/delta0", baseN, cfg)
    val dirs = Seq(s"$work/base", s"$work/delta0")
    val keys = spark.read.parquet(dirs.map(d => s"$d/docs.parquet"): _*)
      .filter($"docId" % 7 === 3).select("repo", "path", "commit")
    val tombs = s"$work/tombstones.parquet"
    Tombstones.applyDeletes(spark, keys, dirs, tombs)
    (dirs.head, dirs.tail, tombs, full)
  }

  private lazy val baseN: Long = IndexBuilder.readMeta(env._1).numDocs
  private lazy val deleted: Set[Long] =
    spark.read.parquet(env._3).select("docId").as[Long].collect().toSet

  private def searcher(): Searcher = {
    val (base, deltas, tombs, _) = env
    new Searcher(spark, base, deltas, tombstones = Some(tombs))
  }

  private def hits(ds: org.apache.spark.sql.Dataset[Hit]): Seq[(Long, Double)] =
    ds.collect().map(h => (h.docId, h.score)).toSeq

  test("fixture: docIds follow the union corpus's key order; a shard straddles base and delta") {
    val (base, deltas, _, full) = env
    val key = concat_ws("/", $"repo", $"path", $"commit")
    val engine = spark.read.parquet((base +: deltas).map(d => s"$d/docs.parquet"): _*)
      .select($"docId", key).as[(Long, String)].collect().toMap
    val oracle = full.select(
        (row_number().over(Window.orderBy("repo", "path", "commit")) - 1).cast("long"), key)
      .as[(Long, String)].collect().toMap
    assert(engine == oracle)
    assert(baseN % dps != 0, s"base of $baseN docs fills whole shards")
    assert(deleted.nonEmpty)
  }

  test("synonym over base + delta + tombstones equals the union-corpus oracle minus deleted docs") {
    val full = env._4
    val s = searcher()
    for (vs <- Seq(Seq("util_7", "util_17"), Seq("def", "class", "zzqx_nothing"),
                   Seq("util_3"))) {
      for (k <- Seq(10, 300)) {
        // Lucene delete semantics: score over the whole corpus, then drop
        val want = OracleBm25.topKSynonym(full, vs, k + deleted.size).collect()
          .map(r => (r.getLong(0), r.getDouble(1))).filterNot(h => deleted(h._1))
          .take(k).toSeq
        assert(hits(s.searchSynonym(vs, k)) == want && want.nonEmpty, s"$vs k=$k")
      }
    }
    s.close()
  }

  test("positional modes over base + delta + tombstones equal the union-corpus oracles minus deleted docs") {
    val full = env._4
    val s = searcher()
    val mphrase = Seq(Seq("import"), Seq("def", "class"))
    // (mode, engine top-k, union-corpus oracle top-k)
    val modes: Seq[(String, Int => Seq[(Long, Double)], Int => DataFrame)] = Seq(
      ("phrase", k => hits(s.searchPhrase("import def", k)),
        k => OracleBm25.topKPhrase(full, "import def", k)),
      ("span-first", k => hits(s.searchSpanFirst("import def", k, 40)),
        k => OracleBm25.topKPhrase(full, "import def", k, maxEnd = 40)),
      ("span-not", k => hits(s.searchSpanNot("import def", "class", k, 1, 1)),
        k => OracleBm25.topKSpanNot(full, "import def", "class", k, 1, 1)),
      ("multi-phrase", k => hits(s.searchMultiPhrase(mphrase, k)),
        k => OracleBm25.topKMultiPhrase(full, mphrase, k)),
      ("phrase-prefix", k => hits(s.searchPhrasePrefix("import util_1", k)),
        k => OracleBm25.topKMultiPhrase(full, Seq(Seq("import"), s.expandPrefix("util_1")), k)),
      ("near", k => hits(s.searchNear("import util_7", k, 8)),
        k => OracleBm25.topKNear(full, "import util_7", 8, k)),
      ("ordered near", k => hits(s.searchNear("import util_7", k, 8, ordered = true)),
        k => OracleBm25.topKNearOrdered(full, "import util_7", 8, k)))
    val ks = Seq(10, 300)
    for ((mode, engine, oracle) <- modes) {
      // Lucene delete semantics: score over the whole corpus, then drop
      val ranked = oracle(ks.max + deleted.size).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).filterNot(h => deleted(h._1)).toSeq
      for (k <- ks) {
        val want = ranked.take(k)
        assert(engine(k) == want && want.nonEmpty, s"$mode k=$k")
      }
    }
    s.close()
  }

  test("explain over a shard straddling base and delta: contributions sum to the hit scores") {
    val s = searcher()
    val q = "def import"
    val all = hits(s.search(q, 100000))
    val straddle = (baseN / dps).toInt
    val inStraddle = all.map(_._1).filter(d => (d / dps).toInt == straddle)
    assert(inStraddle.exists(_ < baseN) && inStraddle.exists(_ >= baseN),
      s"no hits on both sides of the straddled shard $straddle")
    val explained = s.explainHits(q, all.size)
    assert(explained.columns.toSeq ==
      Seq("docId", "score", "term", "tf", "df", "idf", "contribution"))
    val rows = explained.collect()
    val terms = Tokenize.tokenize(q).distinct.sorted.toSeq
    val score = all.toMap
    val byDoc = rows.groupBy(_.getLong(0))
    assert(byDoc.keySet == score.keySet)
    for ((d, rs) <- byDoc) {
      val sorted = rs.sortBy(_.getString(2))
      assert(sorted.map(_.getString(2)).toSeq == terms)
      // the kernel sums in ascending-term order; the same fold is bit-exact
      val sum = sorted.map(_.getDouble(6)).foldLeft(0.0)(_ + _)
      assert(sum == score(d), s"doc $d: explain sum $sum != score ${score(d)}")
      assert(rs.forall(_.getDouble(1) == score(d)))
    }
    // df is the whole corpus's (deletes do not change statistics)
    val df = rows.map(r => r.getString(2) -> r.getLong(4)).toMap
    val dictDf = spark.read.parquet((env._1 +: env._2).map(d => s"$d/dict.parquet"): _*)
      .filter($"term".isin(terms: _*)).groupBy("term").agg(sum("df"))
      .as[(String, Long)].collect().toMap
    assert(df == dictDf)
    s.close()
  }

  test("both norms plans: the cogroup fallback answers every mode like the broadcast plan") {
    val broadcastPlan = searcher()
    val cogroupPlan = searcher()
    cogroupPlan.forceNormsCogroup = true
    val q = "import def util_7"
    def planOf(s: Searcher) = s.search(q, 10).queryExecution.optimizedPlan.toString
    assert(planOf(cogroupPlan).contains("CoGroup"))
    assert(!planOf(broadcastPlan).contains("CoGroup"))
    val modes: Seq[(String, Searcher => Seq[Any])] = Seq(
      "AND" -> (_.search(q, 10).collect().toSeq),
      "OR" -> (_.searchOr("util_3 val", 10).collect().toSeq),
      "NOT" -> (_.searchNot("import def", "util_1", 10).collect().toSeq),
      "filtered" -> (_.searchWhere("import def", 10, $"lang" =!= "py").collect().toSeq),
      "phrase" -> (_.searchPhrase("import def", 10).collect().toSeq),
      "span-first" -> (_.searchSpanFirst("import def", 10, 40).collect().toSeq),
      "span-not" -> (_.searchSpanNot("import def", "class", 10, 1, 1).collect().toSeq),
      "near" -> (_.searchNear("import util_7", 10, 8).collect().toSeq),
      "ordered near" -> (_.searchNear("import util_7", 10, 8, ordered = true).collect().toSeq),
      "multi-phrase" -> (_.searchMultiPhrase(Seq(Seq("import"), Seq("def", "class")), 10)
        .collect().toSeq),
      "phrase-prefix" -> (_.searchPhrasePrefix("import util_1", 10).collect().toSeq),
      "bool with a phrase leaf" -> (_.searchBool("\"import def\" OR util_3", 10).collect().toSeq),
      "synonym" -> (_.searchSynonym(Seq("util_7", "util_17"), 10).collect().toSeq),
      "explain" -> (_.explainHits(q, 10).collect().toSeq),
      "count" -> (s => Seq(s.searchCount(q))),
      "facets" -> (_.searchFacets(q, "lang").collect().toSeq))
    for ((mode, run) <- modes) {
      val want = run(broadcastPlan)
      assert(run(cogroupPlan) == want && want.nonEmpty, mode)
    }
    broadcastPlan.close()
    cogroupPlan.close()
  }

  /** Per term of the postings of `dirs`: summed n and the sorted, distinct
    * shards — what a dictionary lookup must answer.
    */
  private def postingsOracle(dirs: Seq[String]): Map[String, (Long, Seq[Int])] =
    spark.read.parquet(dirs.map(d => s"$d/postings.parquet"): _*)
      .groupBy("term").agg(sum($"n".cast("long")), sort_array(collect_set($"shard")))
      .as[(String, Long, Seq[Int])].collect().map(r => r._1 -> (r._2, r._3)).toMap

  private def driverLookup(dirs: Seq[String], terms: Seq[String]): Map[String, (Long, Seq[Int])] =
    new IndexFiles.DictReader(spark, dirs).lookup(terms)
      .map { case (t, r) => t -> (r.df, r.shards.toSeq) }

  test("driver dictionary lookup equals the postings aggregate, before and after compaction") {
    val (base, deltas, tombs, _) = env
    // sort before the first dict term, after the last one, and in between
    val absent = Seq("\u0001", "!!", "zzqx_nothing", "\uffff\uffff", "~")
    val compacted = s"${TestSpark.workDir}/harness/compacted"
    // compaction retires the tombstone file it applies: give it a copy
    val tombsCopy = s"${TestSpark.workDir}/harness/tombstones_copy.parquet"
    spark.read.parquet(tombs).write.mode("overwrite").parquet(tombsCopy)
    IndexBuilder.compact(spark, base, deltas, compacted, Some(tombsCopy))
    for (dirs <- Seq(base +: deltas, Seq(compacted))) {
      val want = postingsOracle(dirs)
      val straddle = (baseN / dps).toInt
      assert(want.values.exists(_._2.contains(straddle)))
      val got = driverLookup(dirs, want.keys.toSeq ++ absent)
      assert(got.keySet == want.keySet, s"$dirs: ${(got.keySet -- want.keySet).take(5)} " +
        s"${(want.keySet -- got.keySet).take(5)}")
      val wrong = want.filter { case (t, w) => got(t) != w }
      assert(wrong.isEmpty, s"$dirs: ${wrong.take(5).map(w => (w, got(w._1)))}")
    }
  }

  test("concurrent fresh-term lookups on one Searcher equal the serial lookups") {
    val (base, deltas, _, _) = env
    val terms = postingsOracle(base +: deltas).keys.toSeq.sorted
    val batches = (terms.grouped(97).toSeq :+ Seq("zzqx_nothing", "\u0001")).take(40)
    val serial = searcher()
    val want = batches.map(b => serial.lookupTerms(b).map { case (t, i) => t -> (i.df, i.shards.toSeq) })
    serial.close()
    val shared = searcher()
    val threads = 4
    val pool = Executors.newFixedThreadPool(threads)
    try {
      val futures = (0 until threads).map { t =>
        pool.submit(new Callable[Seq[(Int, Map[String, (Long, Seq[Int])])]] {
          def call(): Seq[(Int, Map[String, (Long, Seq[Int])])] =
            batches.indices.map(i => (i + t * 7) % batches.size).map { j =>
              j -> shared.lookupTerms(batches(j)).map { case (x, i) => x -> (i.df, i.shards.toSeq) }
            }
        })
      }
      futures.foreach(_.get(10, TimeUnit.MINUTES).foreach { case (j, got) =>
        assert(got == want(j), s"lookup batch $j differs under concurrency")
      })
    } finally pool.shutdownNow()
    shared.close()
  }

  test("concurrent mixed queries on one Searcher equal their serial results") {
    val indexDir = TestSpark.builtIndex._2
    def ops(s: Searcher): Seq[() => Seq[Any]] = Seq(
      () => s.search("import def util_7", 10).collect().toSeq,
      () => s.searchOr("util_3 val", 10).collect().toSeq,
      () => s.searchSynonym(Seq("util_7", "util_17"), 10).collect().toSeq,
      () => s.searchFacets("import def", "lang").collect().toSeq,
      () => s.explainHits("import val", 5).collect().toSeq)
    val ref = new Searcher(spark, indexDir)
    val serial = ops(ref).map(_())
    ref.close()
    assert(serial.forall(_.nonEmpty))
    // a fresh Searcher: the threads race on the term lookups and the norms
    // broadcast as well as on the queries
    val shared = new Searcher(spark, indexDir)
    val threads = 4
    val pool = Executors.newFixedThreadPool(threads)
    try {
      val futures = (0 until threads).map { t =>
        pool.submit(new Callable[Seq[(Int, Seq[Any])]] {
          def call(): Seq[(Int, Seq[Any])] = {
            val mine = ops(shared)
            (0 until 2 * mine.size).map { i =>
              val j = (i + t) % mine.size
              j -> mine(j)()
            }
          }
        })
      }
      futures.foreach(_.get(10, TimeUnit.MINUTES).foreach { case (j, got) =>
        assert(got == serial(j), s"query $j differs under concurrency")
      })
    } finally pool.shutdownNow()
    shared.close()
  }
}
