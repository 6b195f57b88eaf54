package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark.jobsOf
import graft.corpus.CorpusGen
import graft.index.{IndexBuilder, IndexConfig, Tombstones}
import graft.oracle.OracleBm25
import graft.query.Searcher
import graft.streaming.IncrementalIndexer

/** Query-path edge cases + OR-mode and batched search rank identity. */
class SearcherSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  lazy val (corpusDir, indexDir) = TestSpark.builtIndex
  lazy val files = spark.read.parquet(s"$corpusDir/files.parquet")
  lazy val searcher = new Searcher(spark, indexDir)

  private def oracleOr(q: String, k: Int) =
    OracleBm25.topKOr(files, q, k).collect().map(r => (r.getLong(0), r.getDouble(1)))
  private def got(ds: org.apache.spark.sql.Dataset[Hit]) =
    ds.collect().map(h => (h.docId, h.score))

  /** The corpus joined to the built index's docIds: the scalable oracle's input. */
  private lazy val withId = files.join(
    spark.read.parquet(s"$indexDir/docs.parquet").select("docId", "repo", "path", "commit"),
    Seq("repo", "path", "commit")).select("docId", "content")
  /** Every (docId, score) of the AND query `q` by the oracle, in rank order. */
  private def oracleAll(withId: DataFrame, q: String): Seq[(Long, Double)] =
    OracleBm25.topKScalable(withId, q, Int.MaxValue).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
  /** A (docId, score) frame in (score desc, docId asc) rank order. */
  private def ranked(df: DataFrame): Seq[(Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getDouble(1)))
      .sortBy { case (d, s) => (-s, d) }.toSeq
  /** Collapse of a match list in rank order: each group's first hit, top k
    * groups (`groupBy` keeps the order within a group).
    */
  private def oracleCollapse(ranked: Seq[(Long, Double)], groupOf: Long => String,
                             k: Int): Seq[(String, Long, Double)] =
    ranked.groupBy(h => groupOf(h._1)).toSeq
      .map { case (g, hs) => (g, hs.head._1, hs.head._2) }
      .sortBy { case (_, d, s) => (-s, d) }.take(k)
  private def collapse(s: Searcher, q: String, k: Int): Seq[(String, Long, Double)] =
    s.searchCollapse(q, k, "lang").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
  private def langOf(dir: String): Map[Long, String] =
    spark.read.parquet(s"$dir/docs.parquet").select("docId", "lang")
      .as[(Long, String)].collect().toMap

  test("OR-mode rank identity incl. a missing term") {
    for (q <- Seq("import zzqx_nothing", "import val def",
                  "util_3 zzqx_nothing util_7")) {
      val g = got(searcher.searchOr(q, 10))
      val w = oracleOr(q, 10)
      assert(g.toSeq == w.toSeq, s"query '$q'")
    }
  }

  test("OR-mode with all terms missing returns empty") {
    assert(searcher.searchOr("zzqx_a zzqx_b", 5).isEmpty)
  }

  test("searchAfter: cursor pages tile the exact ranking") {
    // three k=5 cursor pages must reproduce search(q, 15) exactly — the
    // constant-cost-per-page twin of offset paging (searchPage)
    val q = "import val"
    val full = got(searcher.search(q, 15)).toSeq
    assert(full.size == 15, "fixture too small for the paging test")
    val p1 = searcher.search(q, 5).collect()
    val p2 = searcher.searchAfter(q, 5, p1.last).collect()
    val p3 = searcher.searchAfter(q, 5, p2.last).collect()
    assert((p1 ++ p2 ++ p3).map(h => (h.docId, h.score)).toSeq == full)
    // a cursor at the very last hit yields the empty page
    val all = searcher.search("util_7 util_3", 1000).collect()
    assert(all.nonEmpty)
    assert(searcher.searchAfter("util_7 util_3", 5, all.last).isEmpty)
  }

  test("OR-mode WAND pruning skips hot lists on rare+hot queries, stays exact") {
    // the WAND win condition: a rare high-idf term sets θ above the hot
    // list's score ceiling, so the hot list is GALLOPED between the rare
    // term's postings instead of scored posting-by-posting; with all-hot
    // queries (clustered scores) pruning correctly degrades to a full walk
    val s2 = new Searcher(spark, indexDir) // fresh accumulators
    val q = "util_7 import"
    val g = got(s2.searchOr(q, 5))
    assert(g.toSeq == oracleOr(q, 5).toSeq)
    val hotDf = files.count() // 'import' is in essentially every doc
    assert(s2.candidatesScored.value < hotDf / 2,
      s"scored=${s2.candidatesScored.value} of ~$hotDf hot postings — " +
        "the hot list was walked, not skipped")
  }

  test("prefix search: dictionary expansion + OR scoring, rank-identical to the oracle") {
    val expansion = searcher.expandPrefix("util_1")
    assert(expansion.nonEmpty && expansion.forall(_.startsWith("util_1")))
    // deterministic expansion order: df desc, term asc
    val dict = spark.read.parquet(s"$indexDir/dict.parquet")
    val want = dict.filter(org.apache.spark.sql.functions.col("term").startsWith("util_1"))
      .orderBy(org.apache.spark.sql.functions.col("df").desc,
        org.apache.spark.sql.functions.col("term").asc)
      .limit(64).select("term").as[String].collect().toSeq
    assert(expansion == want)
    // scoring == OR over the expansion, and matches the brute-force oracle
    val g = got(searcher.searchPrefix("util_1", 10))
    val w = oracleOr(expansion.mkString(" "), 10)
    assert(g.toSeq == w.toSeq)
    // case/punct-insensitive prefix normalization
    assert(got(searcher.searchPrefix("UTIL_1", 10)).toSeq == g.toSeq)
    // no-match prefix → empty
    assert(searcher.searchPrefix("zzqx_nada", 5).isEmpty)
  }

  test("regex search: anchored expansion + OR scoring, rank-identical to the oracle") {
    val expansion = searcher.expandRegex("util_1[0-9]")
    assert(expansion.toSet == (10 to 19).map(i => s"util_$i").toSet,
      s"expansion was $expansion")
    // deterministic expansion order: df desc, term asc (same rule as prefix)
    val dict = spark.read.parquet(s"$indexDir/dict.parquet")
    val want = dict.filter(org.apache.spark.sql.functions.col("term").rlike("^util_1[0-9]$"))
      .orderBy(org.apache.spark.sql.functions.col("df").desc,
        org.apache.spark.sql.functions.col("term").asc)
      .limit(64).select("term").as[String].collect().toSeq
    assert(expansion == want)
    // scoring == OR over the expansion, matches the brute-force oracle
    val g = got(searcher.searchRegex("util_1[0-9]", 10))
    assert(g.toSeq == oracleOr(expansion.mkString(" "), 10).toSeq)
    // anchored: a mid-term fragment must NOT match (util_1 exists, 'til_' is
    // a substring of many terms but a full-term match of none)
    assert(searcher.searchRegex("til_[0-9]+", 5).isEmpty)
    // no-match pattern → empty; invalid pattern → fail fast on the driver
    assert(searcher.searchRegex("zzqx_[0-9]{4}", 5).isEmpty)
    intercept[java.util.regex.PatternSyntaxException] {
      searcher.searchRegex("util_[", 5)
    }
  }

  test("synonym query: blended df + summed tf, rank-identical to the oracle") {
    val vs = Seq("util_7", "util_17")
    val g = got(searcher.searchSynonym(vs, 10))
    val w = OracleBm25.topKSynonym(files, vs, 10).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(g.toSeq == w.toSeq && g.nonEmpty)
    // never double-counts: a doc holding BOTH variants scores LESS than
    // the OR's per-variant BM25 sum (tf saturates once, idf counted once)
    val both = searcher.matchingDocs("util_7 util_17").collect()
      .map(_.getLong(0)).toSet
    assert(both.nonEmpty, "fixture has no doc with both variants")
    val orScores = got(searcher.searchOr(vs.mkString(" "), 10000)).toMap
    val synScores = got(searcher.searchSynonym(vs, 10000)).toMap
    both.foreach(d => assert(synScores(d) < orScores(d),
      s"doc $d: synonym ${synScores(d)} !< OR ${orScores(d)}"))
    // match SET is the union of the variants' doc sets (same as OR)
    assert(synScores.keySet == orScores.keySet)
    // dead variant drops out; tf identical to the live-only query, but the
    // df blend can only deepen (max) — here the dead term adds df 0, so
    // the result is bit-identical to the single-variant synonym
    assert(got(searcher.searchSynonym(Seq("util_7", "zzqx_nothing"), 10)).toSeq
      == got(searcher.searchSynonym(Seq("util_7"), 10)).toSeq)
    // all variants dead → empty
    assert(searcher.searchSynonym(Seq("zzqx_a", "zzqx_b"), 5).isEmpty)
    // single live variant vs the plain term query: same ranking order
    // (same tf, df — identical scores)
    assert(got(searcher.searchSynonym(Seq("util_7"), 10)).toSeq ==
      got(searcher.search("util_7", 10)).toSeq)
  }

  test("scoredMatches: full match set, rank identity and exact scores vs the oracle") {
    for (q <- Seq("import util_7", "def import util_3")) {
      val sm = ranked(searcher.scoredMatches(q))
      val want = oracleAll(withId, q)
      assert(sm == want && want.nonEmpty, s"query '$q'")
      // the match SET is every doc whose raw text holds every query term
      val terms = graft.index.Tokenize.tokenize(q).distinct
      val brute = withId.select($"docId", graft.index.Tokenize.termsCol($"content").as("toks"))
        .as[(Long, Seq[String])].collect()
        .collect { case (d, toks) if terms.forall(toks.contains) => d }.toSet
      assert(sm.map(_._1).toSet == brute, s"query '$q'")
    }
    // dead term / empty query → empty, with the right schema
    assert(searcher.scoredMatches("import zzqx_nothing").isEmpty)
    assert(searcher.scoredMatches("").isEmpty)
    assert(searcher.scoredMatches("").columns.toSeq == Seq("docId", "score"))
  }

  test("searchSortBy: field order with docId tiebreak, over the exact match set") {
    val q = "import util_7"
    val res = searcher.searchSortBy(q, 15, "path", asc = true).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    // independent derivation: brute-force match set joined to docs
    val docs = spark.read.parquet(s"$indexDir/docs.parquet")
    val md = searcher.matchingDocs(q)
    val want = md.join(docs, "docId")
      .select($"docId", $"path").collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .sortBy { case (d, p) => (p, d) }.take(15).toSeq
    assert(res.toSeq == want && want.nonEmpty)
    // desc flips the comparator
    val resD = searcher.searchSortBy(q, 15, "dlen", asc = false).collect()
      .map(r => (r.getLong(0), r.getInt(1)))
    val wantD = md.join(docs, "docId")
      .select($"docId", $"dlen").collect()
      .map(r => (r.getLong(0), r.getInt(1)))
      .sortBy { case (d, v) => (-v, d) }.take(15).toSeq
    assert(resD.toSeq == wantD)
  }

  test("searchCollapse: best doc per group, groups ranked by their best hit") {
    val q = "import util_7"
    val res = collapse(searcher, q, 10)
    val want = oracleCollapse(oracleAll(withId, q), langOf(indexDir), 10)
    assert(res == want && want.nonEmpty)
    // one row per group
    assert(res.map(_._1).distinct.length == res.length)
    // the global #1 hit leads the collapsed list
    val top = searcher.search(q, 1).collect().head
    assert(res.head._2 == top.docId && res.head._3 == top.score)
  }

  test("searchCollapse on a tombstoned index: a deleted group winner yields to the next survivor") {
    val q = "import util_7"
    val all = oracleAll(withId, q)
    val lang = langOf(indexDir)
    // delete the winner of every group that has a runner-up
    val victims = oracleCollapse(all, lang, Int.MaxValue)
      .filter { case (g, _, _) => all.count(h => lang(h._1) == g) > 1 }.map(_._2)
    assert(victims.nonEmpty, "fixture has no group with two matches")
    val path = s"${TestSpark.workDir}/collapse_tombstones.parquet"
    val keys = spark.read.parquet(s"$indexDir/docs.parquet")
      .filter($"docId".isin(victims: _*)).select("repo", "path", "commit")
    assert(Tombstones.applyDeletes(spark, keys, Seq(indexDir), path) == victims.size)
    val s = new Searcher(spark, indexDir, tombstones = Some(path))
    // Lucene delete semantics: statistics stay full-corpus, so survivors
    // keep their scores and only the deleted docs leave the ranking
    val survivors = all.filterNot(h => victims.contains(h._1))
    assert(ranked(s.scoredMatches(q)) == survivors)
    val res = collapse(s, q, 10)
    assert(res == oracleCollapse(survivors, lang, 10))
    victims.foreach { v =>
      assert(res.exists { case (g, d, _) => g == lang(v) && d != v },
        s"group ${lang(v)} lost its runner-up with winner $v")
    }
    s.close()
  }

  test("searchCollapse and scoredMatches over base + delta match the union-corpus oracle") {
    val baseDocs = IndexBuilder.readMeta(indexDir).numDocs
    val slice = CorpusGen.generate(spark, TestSpark.corpusCfg.copy(numDocs = 150L,
      idOffset = TestSpark.corpusCfg.numDocs + 1000L)).toDF()
    val deltaDir = s"${TestSpark.workDir}/collapse_deltas/batch_0"
    IncrementalIndexer.indexBatch(spark, slice, deltaDir, baseDocs,
      IndexConfig(docsPerShard = 256))
    val s = new Searcher(spark, indexDir, Seq(deltaDir))
    val unionWithId = withId.unionByName(slice.join(
      spark.read.parquet(s"$deltaDir/docs.parquet").select("docId", "repo", "path", "commit"),
      Seq("repo", "path", "commit")).select("docId", "content"))
    val q = "import util_7"
    val all = oracleAll(unionWithId, q)
    assert(all.exists(_._1 >= baseDocs), "no delta doc matches the query")
    assert(ranked(s.scoredMatches(q)) == all)
    assert(collapse(s, q, 10) ==
      oracleCollapse(all, langOf(indexDir) ++ langOf(deltaDir), 10))
    s.close()
  }

  test("collapse over already-looked-up terms launches at most 4 Spark jobs") {
    val s = new Searcher(spark, indexDir)
    val q = "import util_7"
    // the first call looks the terms up and broadcasts the norms
    val first = collapse(s, q, 10)
    val n = jobsOf(assert(collapse(s, q, 10) == first))
    assert(n <= 4, s"collapse launched $n jobs")
    s.close()
  }

  test("flat query modes over already-looked-up terms: Spark job counts pinned") {
    import org.apache.spark.sql.functions.col
    val s = new Searcher(spark, indexDir)
    val (q, q2) = ("def util_7 import def", "util_3 val")
    val cursor = s.search(q, 3).collect().last
    val ops: Seq[(String, () => Unit)] = Seq(
      "search" -> (() => s.search(q, 10).collect()),
      "searchAfter" -> (() => s.searchAfter(q, 10, cursor).collect()),
      "searchOr" -> (() => s.searchOr(q2, 10).collect()),
      "searchNot" -> (() => s.searchNot(q, "util_3", 10).collect()),
      "searchWhere" -> (() => s.searchWhere(q, 10, col("lang") === "scala").collect()),
      "no-hit AND" -> (() => assert(s.search("import zzqx_nothing", 10).isEmpty)),
      "searchCount" -> (() => s.searchCount(q)),
      "searchFacets" -> (() => s.searchFacets(q, "lang").collect()),
      "searchSortBy" -> (() => s.searchSortBy(q, 10, "path").collect()),
      "searchSynonym" -> (() => s.searchSynonym(Seq("util_7", "util_17"), 10).collect()),
      "explainHits" -> (() => s.explainHits(q, 10).collect()))
    ops.foreach(_._2()) // looks every term up and broadcasts the norms
    // one exchange per top-k plan: its map stage and the final top-k are the
    // two jobs; a term absent from the dictionary exits on the driver with
    // none; count, facets and sort add their aggregation or join stages on
    // the AND kernel's match stream, explain adds its search
    val counts = ops.map { case (name, op) => name -> jobsOf(op()) }
    assert(counts == Seq("search" -> 2, "searchAfter" -> 2, "searchOr" -> 2,
      "searchNot" -> 2, "searchWhere" -> 2, "no-hit AND" -> 0,
      "searchCount" -> 3, "searchFacets" -> 6, "searchSortBy" -> 3,
      "searchSynonym" -> 2, "explainHits" -> 6))
    s.close()
  }

  test("fresh-term queries read the dictionary on the driver: Spark job counts pinned") {
    val s = new Searcher(spark, indexDir)
    s.search("import def", 10).collect() // broadcasts the norms
    // rare terms this Searcher has not looked up yet
    val Array(t1, t2) = spark.read.parquet(s"$indexDir/dict.parquet")
      .filter($"df".between(2, 5) && $"term".startsWith("sym_")).orderBy("term")
      .select("term").as[String].head(2)
    // the map stage and the final top-k; the lookup itself launches none
    val hits = jobsOf(assert(s.search(t1, 10).collect().nonEmpty))
    // one term is absent from the dictionary: the AND exits on the driver
    val noHit = jobsOf(assert(s.search(s"$t2 zzqx_fresh_absent", 10).isEmpty))
    assert((hits, noHit) == (2, 0))
    s.close()
  }

  test("close destroys the norms broadcast; later queries fail with IllegalStateException") {
    val s = new Searcher(spark, indexDir)
    val q = "import val"
    val before = got(s.search(q, 5)).toSeq
    val planned = s.search(q, 5) // its plan holds the broadcast
    s.close()
    s.close() // idempotent
    val ex = intercept[IllegalStateException](s.search(q, 5))
    assert(ex.getMessage.contains("closed"), ex.getMessage)
    intercept[IllegalStateException](s.searchCollapse(q, 10, "lang"))
    // the destroyed broadcast really is gone: a plan built before close fails
    val gone = intercept[Exception](planned.collect())
    assert(Iterator.iterate[Throwable](gone)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains("destroyed")), gone.toString)
    // closing before the first query creates no broadcast and fails the same way
    val never = new Searcher(spark, indexDir)
    never.close()
    intercept[IllegalStateException](never.searchOr(q, 5))
    // other Searchers over the same index are unaffected
    assert(got(searcher.search(q, 5)).toSeq == before)
  }

  test("term range search: bounded expansion + OR scoring, rank-identical") {
    import org.apache.spark.sql.functions.col
    val expansion = searcher.expandTermRange(Some("util_10"), Some("util_19"))
    assert(expansion.nonEmpty &&
      expansion.forall(t => t >= "util_10" && t <= "util_19"),
      s"expansion was $expansion")
    // deterministic expansion order: df desc, term asc (the family rule)
    val dict = spark.read.parquet(s"$indexDir/dict.parquet")
    val want = dict.filter(col("term") >= "util_10" && col("term") <= "util_19")
      .orderBy(col("df").desc, col("term").asc)
      .limit(64).select("term").as[String].collect().toSeq
    assert(expansion == want)
    // scoring == OR over the expansion, matches the brute-force oracle
    val g = got(searcher.searchTermRange(Some("util_10"), Some("util_19"), 10))
    assert(g.toSeq == oracleOr(expansion.mkString(" "), 10).toSeq)
    // exclusive ends trim exactly the endpoint terms (uncapped so the
    // set identity is about inclusivity, not about where the cap cuts)
    val inclAll = searcher.expandTermRange(Some("util_10"), Some("util_19"),
      maxExpand = 10000)
    val exclAll = searcher.expandTermRange(Some("util_10"), Some("util_19"),
      includeLo = false, includeHi = false, maxExpand = 10000)
    assert(exclAll.toSet == inclAll.toSet -- Set("util_10", "util_19"))
    // open ends: lo-only is a suffix of the dictionary, hi-only a prefix
    val loOnly = searcher.expandTermRange(Some("zzz"), None)
    assert(loOnly.forall(_ >= "zzz"))
    val hiOnly = searcher.expandTermRange(None, Some("aaa"))
    assert(hiOnly.forall(_ <= "aaa"))
    // endpoints normalize like the tokenizer (case-insensitive)
    assert(searcher.expandTermRange(Some("UTIL_10"), Some("UTIL_19")) ==
      expansion)
    // validation: both open rejected; inverted range rejected; empty window
    intercept[IllegalArgumentException](searcher.expandTermRange(None, None))
    intercept[IllegalArgumentException](
      searcher.expandTermRange(Some("b"), Some("a")))
    assert(searcher.searchTermRange(Some("zzqx_a"), Some("zzqx_b"), 5).isEmpty)
  }

  test("wildcard search: glob translation + expansion + OR scoring") {
    import graft.query.Searcher.globToRegex
    // translation units: wildcards map, literals lowercase, metachars escape
    assert(globToRegex("util_1?") == "util_1.")
    assert(globToRegex("ut*l_1*") == "ut.*l_1.*")
    assert(globToRegex("UTIL_7") == "util_7")
    assert(globToRegex("a.b*") == "a\\.b.*") // '.' is LITERAL in a glob
    intercept[IllegalArgumentException] { globToRegex("") }
    // ? = exactly one char: util_1? matches util_10..19 but NOT util_1
    val exp = searcher.expandWildcard("util_1?")
    assert(exp.toSet == (10 to 19).map(i => s"util_$i").toSet,
      s"expansion was $exp")
    // wildcard ≡ regex over the translation, ranks identical to the oracle
    val g = got(searcher.searchWildcard("util_1?", 10))
    assert(g.toSeq == got(searcher.searchRegex("util_1.", 10)).toSeq)
    assert(g.toSeq == oracleOr(exp.mkString(" "), 10).toSeq)
    // * can match empty: util_7* includes util_7 itself
    assert(searcher.expandWildcard("util_7*").contains("util_7"))
    // no wildcard at all = exact-term query
    assert(got(searcher.searchWildcard("util_7", 10)).toSeq ==
      got(searcher.search("util_7", 10)).toSeq)
    // case-insensitive literals; no-match glob → empty
    assert(got(searcher.searchWildcard("UTIL_1?", 10)).toSeq == g.toSeq)
    assert(searcher.searchWildcard("zzqx*", 5).isEmpty)
  }

  test("range facets: bucket counts match an independent derivation") {
    import org.apache.spark.sql.functions.{col => c}
    val q = "import def"
    val bounds = Seq(250.0, 300.0, 350.0)
    val got = searcher.searchFacetRanges(q, "dlen", bounds).collect()
      .map(r => (r.getInt(0), Option(r.get(1)), Option(r.get(2)), r.getLong(3)))
    // independent derivation: conjunctive match set from raw text + a
    // driver-side bucket count over the docs table
    val matches = searcher.searchDocs(q, Int.MaxValue)
    val docsT = spark.read.parquet(s"$indexDir/docs.parquet")
    val want = docsT.join(matches.select("docId"), "docId")
      .select("dlen").as[Int].collect()
      .groupBy(d => bounds.count(_ <= d))
      .map { case (b, vs) => (b, vs.length.toLong) }
    assert(got.map(g => (g._1, g._4)).toMap == want)
    assert(got.map(_._4).sum == matches.count())
    // half-open boundary semantics + NULL-ended lo/hi labels
    got.foreach { case (b, lo, hi, _) =>
      assert(lo == (if (b == 0) None else Some(bounds(b - 1))))
      assert(hi == (if (b == bounds.length) None else Some(bounds(b))))
    }
    assert(got.nonEmpty && got.length > 1, "vacuous: all docs in one bucket")
    // rejects unsorted / empty bounds
    intercept[IllegalArgumentException] {
      searcher.searchFacetRanges(q, "dlen", Seq(3.0, 2.0))
    }
    intercept[IllegalArgumentException] {
      searcher.searchFacetRanges(q, "dlen", Seq.empty)
    }
  }

  test("stats facet: exact aggregates match an independent derivation") {
    val q = "import def"
    val r = searcher.searchFacetStats(q, "dlen").collect().head
    val matches = searcher.searchDocs(q, Int.MaxValue)
    val dlens = spark.read.parquet(s"$indexDir/docs.parquet")
      .join(matches.select("docId"), "docId")
      .select("dlen").as[Int].collect().map(_.toLong)
    assert(r.getLong(0) == dlens.length)
    assert(r.getLong(1) == dlens.min)
    assert(r.getLong(2) == dlens.max)
    assert(r.getLong(3) == dlens.sum)
    // mean is ONE double division of exact integers — order-independent
    val mean = BigDecimal(dlens.sum.toDouble / dlens.length)
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getDouble(4) == mean)
    assert(dlens.nonEmpty && dlens.min < dlens.max, "vacuous fixture")
  }

  test("regex literal-prefix pushdown extraction") {
    import graft.query.Searcher.literalPrefix
    assert(literalPrefix("util_1[0-9]") == "util_1")
    assert(literalPrefix("util_1") == "util_1")     // pure literal
    assert(literalPrefix("[uv]til") == "")          // no prefix
    assert(literalPrefix("ab?c") == "a")            // optional last char
    assert(literalPrefix("ab*c") == "a")
    assert(literalPrefix("ab{0,3}") == "a")
    assert(literalPrefix("ab+c") == "ab")           // + keeps the char
    assert(literalPrefix("a.c") == "a")
    // a prefix-free pattern still answers correctly (full dict scan path)
    val viaScan = got(searcher.searchRegex("[u]til_1[0-9]", 10))
    val viaPush = got(searcher.searchRegex("util_1[0-9]", 10))
    assert(viaScan.toSeq == viaPush.toSeq)
  }

  test("snippets: same ranking as search, window centered on the first hit") {
    import org.apache.spark.sql.functions._
    val q = "import def util_7"
    val snips = searcher.searchSnippets(q, 5, files, window = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2)))
    val plain = got(searcher.search(q, 5))
    assert(snips.map(s => (s._1, s._2)).toSeq == plain.toSeq)
    snips.foreach { case (_, _, sn) =>
      val toks = sn.split(" ")
      assert(toks.length <= 9, s"window overflow: '$sn'")
      // the window contains at least one query term, and the first hit sits
      // at the center unless clamped at the document start
      assert(toks.exists(Set("import", "def", "util_7")), s"no query term in '$sn'")
    }
  }

  test("facet counts equal brute-force counts over the conjunctive match set") {
    import org.apache.spark.sql.functions._
    val q = "import def util_7"
    val terms = q.split(" ").toSeq
    val withToks = files.withColumn("__toks", graft.index.Tokenize.termsCol(col("content")))
    val brute = terms.foldLeft(withToks) { (df, t) =>
      df.filter(array_contains(col("__toks"), t))
    }.groupBy("lang").agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect().toMap
    val got = searcher.searchFacets(q, "lang").as[(String, Long)].collect().toMap
    assert(got == brute && got.values.sum > 0)
  }

  test("term-info cache is LRU-bounded and eviction does not change results") {
    val tiny = new Searcher(spark, indexDir, termCacheCap = 3)
    val baseline = got(tiny.search("import val", 5))
    // touch more distinct terms than the cap
    Seq("def", "class", "return", "if", "object", "util_3", "util_7")
      .foreach(t => tiny.search(t, 1).collect())
    assert(tiny.termCacheSize <= 3,
      s"cache grew to ${tiny.termCacheSize} past cap 3")
    // evicted terms simply re-fetch; answers are unchanged
    assert(got(tiny.search("import val", 5)).toSeq == baseline.toSeq)
  }

  test("AND result is a subset of OR result universe; OR ⊇ AND scores") {
    val and = got(searcher.search("import val", 200)).toMap
    val or = got(searcher.searchOr("import val", 10000)).toMap
    and.foreach { case (d, s) =>
      assert(or.contains(d) && or(d) == s, s"doc $d")
    }
  }

  test("NOT queries (searchNot) are rank-identical to the negated oracle") {
    for ((q, ne) <- Seq(("import def util_7", "val"),
                        ("import def", "util_7 class"),
                        ("import val", "zzqx_nothing"))) {
      val g = got(searcher.searchNot(q, ne, 10))
      val w = OracleBm25.topKNot(files, q, ne, 10).collect()
        .map(r => (r.getLong(0), r.getDouble(1)))
      assert(g.toSeq == w.toSeq, s"query '$q' NOT '$ne'")
      // non-vacuous: a live negative term must actually change the ranking
      if (ne != "zzqx_nothing")
        assert(g.toSeq != got(searcher.search(q, 10)).toSeq,
          s"'$ne' removed nothing from '$q' — fixture not exercising NOT")
      // survivor scores bit-identical to the plain conjunctive query
      // (k beyond the match count returns every match)
      val plain = got(searcher.search(q, 100000)).toMap
      assert(g.forall { case (d, s) => plain(d) == s })
    }
    // an absent negative term is a NO-OP, not an error
    assert(got(searcher.searchNot("import def", "zzqx_nothing", 10)).toSeq ==
      got(searcher.search("import def", 10)).toSeq)
    // t AND NOT t is unsatisfiable
    assert(searcher.searchNot("import def", "def", 10).isEmpty)
  }

  test("filtered search (searchWhere) is rank-identical to the restricted oracle") {
    import org.apache.spark.sql.functions.col
    for ((q, pred, predName) <- Seq(
      ("import val", col("lang") === "scala", "lang=scala"),
      ("import def", col("lang") === "py", "lang=py"),
      ("util_3 import", col("repo") < "repo-0015", "repo<15"))) {
      val g = got(searcher.searchWhere(q, 10, pred))
      val w = OracleBm25.topKWhere(files, q, 10, pred).collect()
        .map(r => (r.getLong(0), r.getDouble(1)))
      assert(g.toSeq == w.toSeq, s"query '$q' where $predName")
      assert(g.nonEmpty, s"'$q' where $predName unexpectedly empty")
    }
  }

  test("filtered search with an impossible predicate is empty; scores match unfiltered on surviving docs") {
    import org.apache.spark.sql.functions.col
    assert(searcher.searchWhere("import val", 5, col("lang") === "zz").isEmpty)
    // bit-exact score invariance: the zero-idf filter list must not perturb
    // any surviving doc's score
    val unfiltered = got(searcher.search("import val", 10000)).toMap
    got(searcher.searchWhere("import val", 200, col("lang") === "go"))
      .foreach { case (d, s) =>
        assert(unfiltered(d) == s, s"doc $d score changed under filter")
      }
  }

  test("scalable (window-free) oracle agrees with the window oracle") {
    for (q <- Seq("import val", "util_3 import def", "zzqx_nothing import")) {
      val a = OracleBm25.topK(files, q, 10).collect()
        .map(r => (r.getLong(0), r.getDouble(1)))
      val b = OracleBm25.topKScalable(withId, q, 10).collect()
        .map(r => (r.getLong(0), r.getDouble(1)))
      assert(a.toSeq == b.toSeq, s"oracles disagree on '$q'")
    }
  }

  test("scalable OR and phrase oracles agree with the window oracles") {
    // parity here is what makes ScaleCheck's or:/phrase: evidence trustworthy
    for (q <- Seq("import val", "util_3 zzqx_nothing", "import def class")) {
      val a = OracleBm25.topKOr(files, q, 10).collect()
        .map(r => (r.getLong(0), r.getDouble(1)))
      val b = OracleBm25.topKScalable(withId, q, 10, conjunctive = false)
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
      assert(a.toSeq == b.toSeq, s"OR oracles disagree on '$q'")
    }
    for (p <- Seq("import def", "def util_3", "import import")) {
      val a = OracleBm25.topKPhrase(files, p, 10).collect()
        .map(r => (r.getLong(0), r.getDouble(1)))
      val b = OracleBm25.topKPhraseScalable(withId, p, 10).collect()
        .map(r => (r.getLong(0), r.getDouble(1)))
      assert(a.toSeq == b.toSeq, s"phrase oracles disagree on '$p'")
    }
  }

  test("explain: per-term contributions sum (ascending-term) to the exact hit score") {
    import org.apache.spark.sql.functions.col
    val q = "import def util_7"
    val hits = got(searcher.search(q, 10))
    val rows = searcher.explainHits(q, 10).collect()
    assert(rows.nonEmpty)
    val terms = graft.index.Tokenize.tokenize(q).distinct.sorted
    // every hit has one row per query term (conjunctive match)
    val byDoc = rows.groupBy(_.getLong(0))
    assert(byDoc.keySet == hits.map(_._1).toSet)
    for ((d, rs) <- byDoc) {
      assert(rs.map(_.getString(2)).sorted.toSeq == terms.toSeq)
      // bit-exact: kernel accumulated ascending-term; reproduce that order
      val sum = rs.sortBy(_.getString(2)).map(_.getDouble(6)).foldLeft(0.0)(_ + _)
      val score = hits.find(_._1 == d).get._2
      assert(sum == score, s"doc $d: explain sum $sum != score $score")
      assert(rs.forall(r => r.getDouble(1) == score)) // score column constant
    }
    // tf/df agree with a brute-force recount from the raw text
    val tfTruth = files
      .select(org.apache.spark.sql.functions.explode(
        graft.index.Tokenize.termsCol(col("content"))).as("term"))
      .filter(col("term").isin(terms: _*))
      .groupBy("term").count().as[(String, Long)].collect().toMap
    val dfByTerm = rows.map(r => (r.getString(2), r.getLong(4))).toMap
    val dict = spark.read.parquet(s"$indexDir/dict.parquet")
      .filter(col("term").isin(terms: _*))
      .select("term", "df").as[(String, Long)].collect().toMap
    assert(dfByTerm == dict)
    assert(tfTruth.keySet == terms.toSet) // fixture sanity
    // no-hit query explains to an empty frame with the full schema
    val empty = searcher.explainHits("zzqx_nothing import", 5)
    assert(empty.isEmpty && empty.columns.toSeq ==
      Seq("docId", "score", "term", "tf", "df", "idf", "contribution"))
  }

  test("did-you-mean: live term self-suggests, 1-edit typo fixed, hopeless token gets None") {
    val s = searcher.suggest("def utyl_7 zzqxnothingxx").toMap
    assert(s("def") == Some("def"))
    assert(s("utyl_7") == Some("util_7"))
    assert(s("zzqxnothingxx") == None)
    // rule consistency: the suggestion is the fuzzy expansion's head
    assert(s("utyl_7") == searcher.expandFuzzy("utyl_7", 2, 0, 1).headOption)
  }

  test("more-like-this: gated tf*idf selection, seed excluded, rank-identical to the oracle") {
    import org.apache.spark.sql.functions.col
    val seed = 7L
    val terms = searcher.mltTerms(files, seed)
    assert(terms.nonEmpty && terms.size <= 25)
    // selection honors the noise gates: tf >= 2 in the seed doc, df >= 5
    val docs = spark.read.parquet(s"$indexDir/docs.parquet")
    val key = docs.filter(col("docId") === seed)
      .select("repo", "path", "commit").head()
    val content = files.filter(col("repo") === key.getString(0) &&
      col("path") === key.getString(1) && col("commit") === key.getString(2))
      .select("content").as[String].head()
    val seedTf = graft.index.Tokenize.tokenize(content)
      .groupBy(identity).map { case (t, xs) => (t, xs.length) }
    val dict = spark.read.parquet(s"$indexDir/dict.parquet")
      .filter(col("term").isin(terms: _*))
      .select("term", "df").as[(String, Long)].collect().toMap
    assert(terms.forall(t => seedTf(t) >= 2 && dict(t) >= 5))
    // engine == independent brute-force oracle (selection + OR + exclusion)
    val g = got(searcher.moreLikeThis(files, seed, 10))
    assert(g.nonEmpty && !g.exists(_._1 == seed))
    val w = OracleBm25.topKMlt(files, seed, 10).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(g.toSeq == w.toSeq)
    // == the plain OR query over the selection, seed dropped
    val or = got(searcher.searchOr(terms.mkString(" "), 11))
      .filterNot(_._1 == seed).take(10)
    assert(g.toSeq == or.toSeq)
    intercept[IllegalArgumentException] { searcher.mltTerms(files, 99999999L) }
  }

  test("significant terms: JLH over the match set matches brute force") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val q = "import util_7"
    val got = searcher.significantTerms(q, 20).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // brute force from the raw corpus: per-doc token sets, match set =
    // docs with every query token, fg/bg df, the same JLH expression
    val withId = files.withColumn("docId",
      (row_number().over(Window.orderBy("repo", "path", "commit")) - 1).cast("long"))
    val docToks = withId.select($"docId", $"content").as[(Long, String)]
      .collect().map { case (d, c) =>
        (d, graft.index.Tokenize.tokenize(c).toSet) }
    val qToks = graft.index.Tokenize.tokenize(q).toSet
    val matchDocs = docToks.collect { case (d, ts) if qToks.subsetOf(ts) => d }.toSet
    assert(matchDocs.nonEmpty)
    val fgTotal = matchDocs.size.toDouble
    val nDocs = docToks.length.toDouble
    val fgDf = docToks.filter(d => matchDocs(d._1))
      .flatMap(_._2).groupBy(identity).view.mapValues(_.size.toLong).toMap
    val bgDf = docToks.flatMap(_._2).groupBy(identity)
      .view.mapValues(_.size.toLong).toMap
    val want = fgDf.toSeq.map { case (t, fg) =>
      val bg = bgDf(t)
      val (fgP, bgP) = (fg.toDouble / fgTotal, bg.toDouble / nDocs)
      (t, fg, bg, (fgP - bgP) * (fgP / bgP))
    }.sortBy { case (t, _, _, s) => (-s, t) }.take(20)
      .map { case (t, fg, bg, s) =>
        (t, fg, bg, BigDecimal(s).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble) }
    assert(got.toSeq == want.toSeq,
      s"\n got  ${got.toSeq.take(5)}\n want ${want.take(5)}")
    // the query's own terms sit at fg-rate 1 (every matching doc has them)
    // but may still rank LOW on lift (a ubiquitous term like `import` has
    // bg-rate ≈ 1 too) — fetch the full table to check the fg counts
    val all = searcher.significantTerms(q, 1000000).collect()
    val byTerm = all.map(r => r.getString(0) -> r.getLong(1)).toMap
    qToks.foreach(t => assert(byTerm.get(t).contains(matchDocs.size.toLong)))
    // no-hit query → empty, not an error
    assert(searcher.significantTerms("zzqx_nothing", 5).isEmpty)
  }

  test("searchCount equals the brute-force conjunctive match count") {
    val q = "import def util_7"
    val n = searcher.searchCount(q)
    val want = OracleBm25.topK(files, q, Int.MaxValue - 1).count()
    assert(n == want && n > 10)
    assert(searcher.searchCount("zzqx_nothing import") == 0L)
  }

  test("fuzzy search: Levenshtein expansion + OR scoring, rank-identical to the oracle") {
    import org.apache.spark.sql.functions.{col, levenshtein, lit, sum => fsum}
    val expansion = searcher.expandFuzzy("util_7", maxEdits = 1)
    // distance-1 neighbors exist by construction (util_0..util_9 subs,
    // util_7X insertions); the query term itself is distance 0
    assert(expansion.contains("util_7"))
    assert(expansion.exists(_ != "util_7"), s"expansion was $expansion")
    // deterministic expansion rule: dist asc, df desc, term asc, cap 64
    val dict = spark.read.parquet(s"$indexDir/dict.parquet")
    val want = dict.groupBy("term").agg(fsum(col("df")).as("df"))
      .withColumn("dist", levenshtein(col("term"), lit("util_7")))
      .filter(col("dist") <= 1)
      .orderBy(col("dist").asc, col("df").desc, col("term").asc)
      .limit(64).select("term").as[String].collect().toSeq
    assert(expansion == want)
    // every expansion term is genuinely within distance 1
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    assert(expansion.forall(t => lev(t, "util_7") <= 1))
    // scoring == OR over the expansion, matches the brute-force oracle
    val g = got(searcher.searchFuzzy("util_7", 10, maxEdits = 1))
    assert(g.toSeq == oracleOr(expansion.mkString(" "), 10).toSeq)
    // maxEdits=0 degenerates to the exact single-term query
    assert(got(searcher.searchFuzzy("util_7", 10, maxEdits = 0)).toSeq ==
      got(searcher.searchOr("util_7", 10)).toSeq)
    // prefixLength pushdown changes the plan, never the answer (every
    // distance-1 variant of util_7 shares the 4-char prefix 'util')
    assert(got(searcher.searchFuzzy("util_7", 10, maxEdits = 1,
      prefixLength = 4)).toSeq == g.toSeq)
    // no term within distance 1 of an alien token → empty
    assert(searcher.searchFuzzy("zzqxzzqxzzqx", 5, maxEdits = 1).isEmpty)
    intercept[IllegalArgumentException] {
      searcher.searchFuzzy("util_7", 5, maxEdits = 3)
    }
  }

  test("offset pagination: pages tile the exact ranking, deep page matches oracle") {
    val q = "import def util_7"
    val full = got(searcher.search(q, 30))
    val p0 = got(searcher.searchPage(q, 10, from = 0))
    val p1 = got(searcher.searchPage(q, 10, from = 10))
    val p2 = got(searcher.searchPage(q, 10, from = 20))
    assert((p0 ++ p1 ++ p2).toSeq == full.toSeq, "pages must tile the ranking")
    // deep page vs brute-force oracle ranks 10..19
    val w = OracleBm25.topK(files, q, 20).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).drop(10)
    assert(p1.toSeq == w.toSeq)
    // page beyond the end of the ranking is empty
    val n = OracleBm25.topK(files, q, Int.MaxValue - 1).count().toInt
    assert(searcher.searchPage(q, 10, from = n).isEmpty)
    intercept[IllegalArgumentException] { searcher.searchPage(q, 10, -1) }
  }

  test("k larger than hit count returns all hits") {
    val q = "import val def class return"
    val all = OracleBm25.topK(files, q, Int.MaxValue - 1)
    val n = all.count().toInt
    assert(n > 0)
    assert(searcher.search(q, n + 100).count() == n)
  }

  test("k = 1 returns the single best") {
    val g = got(searcher.search("import val", 1))
    val w = OracleBm25.topK(files, "import val", 1).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(g.toSeq == w.toSeq)
  }

  test("batched search matches per-query search exactly") {
    val qs = Seq(("a", "import val", 5), ("b", "util_3 import", 7),
      ("c", "zzqx_nothing import", 5), ("d", "import def val class", 3))
    val touched = searcher.shardsTouched.value
    val batch = searcher.searchBatch(qs)
      .orderBy("query_name", "rank")
      .as[(String, Long, Double, Int)].collect()
      .groupBy(_._1).map { case (k, v) => k -> v.map(t => (t._2, t._3)).toSeq }
    // the batch's per-shard kernel work shows in the bm25 metrics
    assert(searcher.shardsTouched.value > touched)
    for ((name, q, k) <- qs) {
      val single = got(searcher.search(q, k)).toSeq
      assert(batch.getOrElse(name, Seq.empty) == single, s"query $name '$q'")
    }
  }

  test("batched OR search matches searchOr") {
    val qs = Seq(("x", "import zzqx_nothing", 5), ("y", "util_3 val", 5))
    val batch = searcher.searchBatch(qs, conjunctive = false)
      .orderBy("query_name", "rank")
      .as[(String, Long, Double, Int)].collect()
      .groupBy(_._1).map { case (k, v) => k -> v.map(t => (t._2, t._3)).toSeq }
    for ((name, q, k) <- qs) {
      val single = got(searcher.searchOr(q, k)).toSeq
      assert(batch.getOrElse(name, Seq.empty) == single, s"query $name '$q'")
    }
  }

  test("PsiSpark facade round-trip") {
    val handle = PsiSpark.openIndex(spark, indexDir)
    assert(handle.meta.numDocs == TestSpark.corpusCfg.numDocs)
    assert(handle.query("import val", 3).count() == 3)
    // every query mode is reachable from the facade and agrees with the
    // Searcher entry it delegates to
    assert(got(handle.queryBool("(util_7 def) OR util_3", 5)).toSeq ==
      got(searcher.searchBool("(util_7 def) OR util_3", 5)).toSeq)
    assert(got(handle.queryFuzzy("util_7", 5)).toSeq ==
      got(searcher.searchFuzzy("util_7", 5)).toSeq)
    assert(got(handle.queryPage("import val", 5, 5)).toSeq ==
      got(searcher.searchPage("import val", 5, 5)).toSeq)
    assert(handle.queryCount("import val") == searcher.searchCount("import val"))
    assert(handle.queryExplain("import val", 3).count() ==
      searcher.explainHits("import val", 3).count())
    assert(handle.queryMoreLikeThis(files, 7L, 5).count() == 5)
    assert(handle.querySuggest("utyl_7").toMap.apply("utyl_7") == Some("util_7"))
    assert(got(handle.queryRegex("util_1[0-9]", 5)).toSeq ==
      got(searcher.searchRegex("util_1[0-9]", 5)).toSeq)
    assert(got(handle.queryNot("import val", "util_7", 5)).toSeq ==
      got(searcher.searchNot("import val", "util_7", 5)).toSeq)
    val r = PsiSpark.psiExecute(
      Seq(("k1", 1), ("k2", 2)).toDF("key", "v"),
      Seq(("k1", 9)).toDF("key", "w"),
      Seq("key"))
    assert(r.output.count() == 1 && r.report.intersectionCount == 1)
  }
}
