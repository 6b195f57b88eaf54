package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.corpus.CorpusGen
import graft.index.{IndexBuilder, IndexConfig, Tokenize}
import graft.oracle.OracleBm25
import graft.query.Searcher
import graft.streaming.IncrementalIndexer

/** Exact-phrase search over the positional index: rank identity against the
  * brute-force posexplode/self-join oracle (OracleBm25.topKPhrase), edge
  * cases (repeated adjacent tokens, order sensitivity, no-hit, single
  * token), and the positional delta + compaction paths.
  */
class PhraseSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val posCfg = IndexConfig(docsPerShard = 256, positions = true)

  lazy val posIndex: String = {
    val (c, _) = TestSpark.builtIndex
    val i = s"${TestSpark.workDir}/indexpos"
    IndexBuilder.buildFast(spark, c, i, posCfg)
    i
  }
  private lazy val files =
    spark.read.parquet(s"${TestSpark.builtIndex._1}/files.parquet")

  private def assertRankIdentical(q: String, k: Int): Unit = {
    val got = new Searcher(spark, posIndex).searchPhrase(q, k).collect()
      .map(h => (h.docId, h.score))
    val want = OracleBm25.topKPhrase(files, q, k).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.sameElements(want),
      s"phrase '$q':\n got  ${got.toSeq}\n want ${want.toSeq}")
  }

  test("hot bigram phrase is rank-identical to the oracle") {
    assertRankIdentical("import def", 10)
    assertRankIdentical("def import", 10) // order-sensitive: separate result
  }

  test("3-token phrase is rank-identical to the oracle") {
    assertRankIdentical("import def class", 10)
  }

  test("phrase lifted verbatim from a document is found") {
    val toks = Tokenize.tokenize(CorpusGen.rowFor(123, TestSpark.corpusCfg).content)
    val phrase = toks.slice(5, 8).mkString(" ")
    val hits = new Searcher(spark, posIndex).searchPhrase(phrase, 2000).collect()
    assert(hits.nonEmpty, s"verbatim phrase '$phrase' not found")
    assertRankIdentical(phrase, 10)
  }

  test("adjacent repeated-token phrase (same list consulted twice)") {
    val found = (0L until 200L).iterator.flatMap { id =>
      Tokenize.tokenize(CorpusGen.rowFor(id, TestSpark.corpusCfg).content)
        .sliding(2).find(p => p.length == 2 && p(0) == p(1)).map(_.mkString(" "))
    }.take(1).toSeq
    assert(found.nonEmpty, "no adjacent duplicate token pair in first 200 docs")
    assertRankIdentical(found.head, 10)
  }

  test("no-hit and unknown-term phrases are empty") {
    val s = new Searcher(spark, posIndex)
    assert(s.searchPhrase("import zzqx_not_in_pool", 10).collect().isEmpty)
    assert(s.searchPhrase("", 10).collect().isEmpty)
  }

  test("single-token phrase equals conjunctive search") {
    val s = new Searcher(spark, posIndex)
    val got = s.searchPhrase("util_7", 10).collect().map(h => (h.docId, h.score))
    val want = s.search("util_7", 10).collect().map(h => (h.docId, h.score))
    assert(got.sameElements(want))
  }

  test("phrase hits are a subset of the conjunctive AND hits") {
    val s = new Searcher(spark, posIndex)
    val phraseDocs = s.searchPhrase("import def", 2000).collect().map(_.docId).toSet
    val andDocs = s.search("def import", 2000).collect().map(_.docId).toSet
    assert(phraseDocs.nonEmpty && phraseDocs.subsetOf(andDocs))
  }

  test("proximity search (searchNear) is rank-identical to the min-cover oracle") {
    val s = new Searcher(spark, posIndex)
    def got(ds: org.apache.spark.sql.Dataset[Hit]) =
      ds.collect().map(h => (h.docId, h.score))
    for ((q, w) <- Seq(("import util_7", 4), ("import util_7", 12),
                       ("import def util_7", 8), ("util_3 val", 3))) {
      val g = got(s.searchNear(q, 10, w))
      val o = OracleBm25.topKNear(files, q, w, 10).collect()
        .map(r => (r.getLong(0), r.getDouble(1)))
      assert(g.toSeq == o.toSeq, s"query '$q' NEAR/$w")
      // survivor scores bit-identical to the plain conjunctive query
      val plain = got(s.search(q, 100000)).toMap
      assert(g.forall { case (d, sc) => plain(d) == sc }, s"'$q' NEAR/$w scores")
    }
  }

  test("ordered proximity (inOrder SpanNear) is rank-identical to the chain oracle") {
    val s = new Searcher(spark, posIndex)
    def got(ds: org.apache.spark.sql.Dataset[Hit]) =
      ds.collect().map(h => (h.docId, h.score))
    for ((q, w) <- Seq(("import util_7", 6), ("util_7 import", 6),
                       ("import def util_7", 9), ("import def", 2))) {
      val g = got(s.searchNear(q, 10, w, ordered = true))
      val o = OracleBm25.topKNearOrdered(files, q, w, 10).collect()
        .map(r => (r.getLong(0), r.getDouble(1)))
      assert(g.toSeq == o.toSeq, s"query '$q' ordered NEAR/$w")
      // survivor scores bit-identical to the plain conjunctive query
      val plain = got(s.search(q, 100000)).toMap
      assert(g.forall { case (d, sc) => plain(d) == sc }, s"'$q' scores")
    }
  }

  test("ordered proximity semantics: subset of unordered, order-sensitive, phrase identity") {
    val s = new Searcher(spark, posIndex)
    // ordered ⊆ unordered at the same window, and strictly selective here
    val w = 6
    val ord = s.searchNear("import util_7", 100000, w, ordered = true)
      .collect().map(_.docId).toSet
    val unord = s.searchNear("import util_7", 100000, w)
      .collect().map(_.docId).toSet
    assert(ord.subsetOf(unord))
    assert(ord.nonEmpty && ord.size < unord.size,
      s"order not selective: ${ord.size} of ${unord.size}")
    // asymmetric: the reversed query matches a different doc set
    val rev = s.searchNear("util_7 import", 100000, w, ordered = true)
      .collect().map(_.docId).toSet
    assert(rev != ord)
    assert((ord ++ rev) == unord, // a ≤-w cover contains an ordered chain one way or the other
      "ordered-both-ways must tile the unordered match set for 2 terms")
    // window = #tokens forces consecutive positions = the phrase query
    val asPhrase = s.searchNear("import def", 10, 2, ordered = true)
      .collect().map(h => (h.docId, h.score)).toSeq
    val phrase = s.searchPhrase("import def", 10)
      .collect().map(h => (h.docId, h.score)).toSeq
    assert(asPhrase == phrase)
    // duplicate slots need distinct positions: `import import` within 2
    // means two adjacent imports — equals the repeated-token phrase
    val dupNear = s.searchNear("import import", 10, 2, ordered = true)
      .collect().map(h => (h.docId, h.score)).toSeq
    val dupPhrase = s.searchPhrase("import import", 10)
      .collect().map(h => (h.docId, h.score)).toSeq
    assert(dupNear == dupPhrase)
    // window < #slots unsatisfiable even though #distinct terms fits
    assert(s.searchNear("import import", 10, 1, ordered = true).collect().isEmpty)
    // huge window: ordered 2-term still requires an import BEFORE a util_7
    val huge = got2(s.searchNear("import util_7", 10, 1000000, ordered = true))
    val oHuge = OracleBm25.topKNearOrdered(files, "import util_7", 1000000, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(huge.toSeq == oHuge.toSeq)
  }

  private def got2(ds: org.apache.spark.sql.Dataset[Hit]) =
    ds.collect().map(h => (h.docId, h.score))

  test("span-first: the occurrence must end within the first N positions") {
    import org.apache.spark.sql.expressions.Window
    val s = new Searcher(spark, posIndex)
    // unbounded end ≡ plain phrase query, bit-exact
    assert(s.searchSpanFirst("import def", 10, 1000000).collect().toSeq ==
      s.searchPhrase("import def", 10).collect().toSeq)
    // independent match-set derivation from the raw text (0-based
    // positions; Lucene rule: span end = last position + 1 must be <= end)
    val end = 12
    val withId = files.withColumn("docId",
      (row_number().over(Window.orderBy("repo", "path", "commit")) - 1).cast("long"))
    val docsToks = withId.select($"docId", $"content").as[(Long, String)]
      .collect().map { case (d, c) => (d, Tokenize.tokenize(c).toSeq) }
    val want = docsToks.collect { case (d, toks)
      if toks.sliding(2).zipWithIndex.exists { case (w, i) =>
        w == Seq("import", "def") && i + 2 <= end } => d }.toSet
    val got = s.searchSpanFirst("import def", 10000, end).collect()
      .map(_.docId).toSet
    assert(got == want && want.nonEmpty, s"got $got want $want")
    // strictly narrower than the unbounded phrase on this fixture, and
    // survivors keep the phrase query's bit-identical scores
    val phrase = s.searchPhrase("import def", 10000).collect()
      .map(h => h.docId -> h.score).toMap
    assert(want.subsetOf(phrase.keySet) && want != phrase.keySet)
    s.searchSpanFirst("import def", 10000, end).collect()
      .foreach(h => assert(h.score == phrase(h.docId)))
    // single term: present among the first `end` tokens
    val wantT = docsToks.collect {
      case (d, toks) if toks.take(end).contains("util_7") => d }.toSet
    val gotT = s.searchSpanFirst("util_7", 10000, end).collect()
      .map(_.docId).toSet
    assert(gotT == wantT && wantT.nonEmpty)
    // monotone in end; end below the token count unsatisfiable; end >= 1
    val narrower = s.searchSpanFirst("import def", 10000, 6).collect()
      .map(_.docId).toSet
    assert(narrower.subsetOf(want))
    assert(s.searchSpanFirst("import def", 5, 1).isEmpty)
    intercept[IllegalArgumentException](s.searchSpanFirst("import", 5, 0))
  }

  test("multi-phrase: alternatives per position, synonym-blended scoring") {
    val s = new Searcher(spark, posIndex)
    // independent match-set derivation from the raw text: position 0 is
    // 'import', position 1 is 'def' OR 'class'
    import org.apache.spark.sql.expressions.Window
    val slots = Seq(Seq("import"), Seq("def", "class"))
    val withId = files.withColumn("docId",
      (row_number().over(Window.orderBy("repo", "path", "commit")) - 1).cast("long"))
    val docsToks = withId.select($"docId", $"content").as[(Long, String)]
      .collect().map { case (d, c) => (d, Tokenize.tokenize(c).toSeq) }
    val want = docsToks.collect { case (d, toks)
      if toks.sliding(2).exists(w =>
        w.head == "import" && (w(1) == "def" || w(1) == "class")) => d }.toSet
    val got = s.searchMultiPhrase(slots, 100000).collect()
    assert(got.map(_.docId).toSet == want && want.nonEmpty)
    // strictly wider than either single phrase on this fixture, and
    // rank-identical to the brute-force oracle (scores bit-exact)
    val phraseDocs = s.searchPhrase("import def", 100000).collect()
      .map(_.docId).toSet
    assert(phraseDocs.subsetOf(want) && phraseDocs != want)
    val oracle = OracleBm25.topKMultiPhrase(files, slots, 50).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    val gotTop = s.searchMultiPhrase(slots, 50).collect()
      .map(h => (h.docId, h.score))
    assert(gotTop.sameElements(oracle),
      s"\n got  ${gotTop.toSeq}\n want ${oracle.toSeq}")
  }

  test("phrase-prefix: last token expands into the final slot") {
    val s = new Searcher(spark, posIndex)
    // uncapped here (maxExpand 10k) so the expansion IS the full dictionary
    // prefix set — the raw-text derivation below is then exact
    val got = s.searchPhrasePrefix("import util_1", 100000, 10000).collect()
    import org.apache.spark.sql.expressions.Window
    val withId = files.withColumn("docId",
      (row_number().over(Window.orderBy("repo", "path", "commit")) - 1).cast("long"))
    val want = withId.select($"docId", $"content").as[(Long, String)]
      .collect().collect { case (d, c)
        if Tokenize.tokenize(c).sliding(2).exists(w =>
          w.head == "import" && w(1).startsWith("util_1")) => d }.toSet
    assert(got.map(_.docId).toSet == want && want.nonEmpty)
    // scores: bit-exact vs the multi-phrase brute-force oracle over the
    // engine's own expansion (the expansion rule is spec'd in SearcherSpec)
    val slots = Seq(Seq("import"), s.expandPrefix("util_1", 10000))
    val oracle = OracleBm25.topKMultiPhrase(files, slots, 20).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    val gotTop = s.searchPhrasePrefix("import util_1", 20, 10000).collect()
      .map(h => (h.docId, h.score))
    assert(gotTop.sameElements(oracle),
      s"\n got  ${gotTop.toSeq}\n want ${oracle.toSeq}")
    // a capped expansion is honored (fewer alternatives = subset matches)
    val capped = s.searchPhrasePrefix("import util_1", 100000, 2).collect()
    val cappedSlots = Seq(Seq("import"), s.expandPrefix("util_1", 2))
    assert(capped.map(_.docId).toSet ==
      s.searchMultiPhrase(cappedSlots, 100000).collect().map(_.docId).toSet)
    assert(capped.map(_.docId).toSet.subsetOf(want))
    // no dictionary completion → no hits; single-token prefix ≡ synonym
    // query over the expansion
    assert(s.searchPhrasePrefix("import zzqxnope", 10).isEmpty)
    assert(s.searchPhrasePrefix("util_1", 20, 10000).collect().toSeq ==
      s.searchSynonym(s.expandPrefix("util_1", 10000), 20).collect().toSeq)
    intercept[IllegalArgumentException](s.searchPhrasePrefix("  ", 5))
  }

  test("span-not: exclusion window drops overlapping occurrences") {
    val s = new Searcher(spark, posIndex)
    import org.apache.spark.sql.expressions.Window
    // raw-text derivation: docs where some "import def" occurrence has no
    // 'class' within [start-1, end-1+1] (pre = post = 1)
    val (pre, post) = (1, 1)
    val withId = files.withColumn("docId",
      (row_number().over(Window.orderBy("repo", "path", "commit")) - 1).cast("long"))
    val docsToks = withId.select($"docId", $"content").as[(Long, String)]
      .collect().map { case (d, c) => (d, Tokenize.tokenize(c).toArray) }
    def want(ex: String): Set[Long] = docsToks.collect { case (d, toks)
      if toks.indices.dropRight(1).exists(i =>
        toks(i) == "import" && toks(i + 1) == "def" &&
          !(math.max(0, i - pre) to math.min(toks.length - 1, i + 1 + post))
            .exists(j => toks(j) == ex)) => d }.toSet
    val got = s.searchSpanNot("import def", "class", 100000, pre, post)
      .collect().map(_.docId).toSet
    val phraseDocs = s.searchPhrase("import def", 100000).collect()
      .map(_.docId).toSet
    assert(got == want("class"))
    // non-vacuous on this fixture: strictly between empty and all phrase docs
    assert(got.nonEmpty && got != phraseDocs && got.subsetOf(phraseDocs))
    // scores are the phrase query's (the include span decides; rank-identical
    // to the brute-force oracle)
    val oracle = OracleBm25.topKSpanNot(files, "import def", "class", 20, pre, post)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val gotTop = s.searchSpanNot("import def", "class", 20, pre, post)
      .collect().map(h => (h.docId, h.score))
    assert(gotTop.sameElements(oracle),
      s"\n got  ${gotTop.toSeq}\n want ${oracle.toSeq}")
    // pure-overlap exclusion (pre = post = 0) of a term NOT in the phrase
    // is the identity: distinct words can't share positions
    assert(s.searchSpanNot("import def", "val", 50, 0, 0).collect().toSeq ==
      s.searchPhrase("import def", 50).collect().toSeq)
    // excluding a phrase MEMBER with overlap kills every occurrence
    assert(s.searchSpanNot("import def", "def", 50, 0, 0).isEmpty)
    // a dictionary-dead exclude term excludes nothing
    assert(s.searchSpanNot("import def", "zzqxnope", 50, 3, 3).collect().toSeq ==
      s.searchPhrase("import def", 50).collect().toSeq)
    intercept[IllegalArgumentException](
      s.searchSpanNot("import def", "class", 5, -1, 0))
    intercept[IllegalArgumentException](
      s.searchSpanNot("import def", "two words", 5))
  }

  test("multi-phrase degenerate forms are bit-exact") {
    val s = new Searcher(spark, posIndex)
    // all-singleton slots ≡ searchPhrase
    assert(s.searchMultiPhrase(Seq(Seq("import"), Seq("def")), 20).collect().toSeq ==
      s.searchPhrase("import def", 20).collect().toSeq)
    // one multi-term slot ≡ searchSynonym (tf summed, blended max df)
    assert(s.searchMultiPhrase(Seq(Seq("util_7", "util_17")), 20).collect().toSeq ==
      s.searchSynonym(Seq("util_7", "util_17"), 20).collect().toSeq)
    // dead alternatives are dropped without changing the match set...
    assert(s.searchMultiPhrase(
      Seq(Seq("import"), Seq("def", "zzqx_nothing")), 20).collect().toSeq ==
      s.searchPhrase("import def", 20).collect().toSeq)
    // ...but a slot with NO live alternative is unsatisfiable
    assert(s.searchMultiPhrase(
      Seq(Seq("import"), Seq("zzqx_nothing")), 20).isEmpty)
    // duplicate slots score once per distinct slot (phrase's distinct-terms
    // rule lifted to slots): "import import" ≡ multi [import][import]
    assert(s.searchMultiPhrase(Seq(Seq("import"), Seq("import")), 20)
      .collect().toSeq ==
      s.searchPhrase("import import", 20).collect().toSeq)
    intercept[IllegalArgumentException](
      s.searchMultiPhrase(Seq(Seq("import"), Seq("  ")), 5))
  }

  test("proximity search degenerate windows") {
    val s = new Searcher(spark, posIndex)
    def got(ds: org.apache.spark.sql.Dataset[Hit]) =
      ds.collect().map(h => (h.docId, h.score))
    // huge window degenerates to plain conjunctive search
    assert(got(s.searchNear("import util_7", 10, 1000000)).toSeq ==
      got(s.search("import util_7", 10)).toSeq)
    // window < #distinct terms is unsatisfiable
    assert(s.searchNear("import def util_7", 10, 2).collect().isEmpty)
    // single-term query: any window ≥ 1 matches wherever the term does
    assert(got(s.searchNear("util_7", 10, 1)).toSeq ==
      got(s.search("util_7", 10)).toSeq)
    // a small window must genuinely prune (fixture non-vacuity)
    val tight = s.searchNear("import util_7", 100000, 4).count()
    val loose = s.search("import util_7", 100000).count()
    assert(tight > 0 && tight < loose,
      s"NEAR/4 kept $tight of $loose conjunctive matches — window not discriminating")
    // phrase hits for a bigram are a subset of NEAR/2 hits (adjacency ⊂ cover≤2)
    val ph = s.searchPhrase("import def", 2000).collect().map(_.docId).toSet
    val near2 = s.searchNear("import def", 2000, 2).collect().map(_.docId).toSet
    assert(ph.subsetOf(near2))
  }

  /** Every positional entry point (and a bool tree with a phrase leaf),
    * named, at a given k.
    */
  private def positionalModes: Seq[(String, (Searcher, Int) => Seq[Hit])] = Seq(
    "phrase" -> ((s, k) => s.searchPhrase("import def", k).collect().toSeq),
    "span-first" -> ((s, k) => s.searchSpanFirst("import def", k, 40).collect().toSeq),
    "span-not" -> ((s, k) => s.searchSpanNot("import def", "class", k, 1, 1).collect().toSeq),
    "multi-phrase" -> ((s, k) =>
      s.searchMultiPhrase(Seq(Seq("import"), Seq("def", "class")), k).collect().toSeq),
    "phrase-prefix" -> ((s, k) => s.searchPhrasePrefix("import util_1", k).collect().toSeq),
    "near" -> ((s, k) => s.searchNear("import util_7", k, 8).collect().toSeq),
    "ordered near" -> ((s, k) =>
      s.searchNear("import util_7", k, 8, ordered = true).collect().toSeq),
    "bool with a phrase" -> ((s, k) =>
      s.searchBool("(\"import def\" OR util_3) val", k).collect().toSeq))

  test("positional modes over already-looked-up terms: Spark job counts pinned") {
    val s = new Searcher(spark, posIndex)
    positionalModes.foreach(_._2(s, 10)) // looks every term up, broadcasts the norms
    // the map stage and the final top-k; phrase-prefix adds the job of its
    // dictionary expansion
    val counts = positionalModes.map { case (name, run) =>
      name -> TestSpark.jobsOf(run(s, 10)) }
    assert(counts == Seq("phrase" -> 2, "span-first" -> 2, "span-not" -> 2,
      "multi-phrase" -> 2, "phrase-prefix" -> 3, "near" -> 2, "ordered near" -> 2,
      "bool with a phrase" -> 2))
    s.close()
  }

  test("positional modes: pruning on and off give bit-identical hits") {
    val on = new Searcher(spark, posIndex)
    val off = new Searcher(spark, posIndex)
    off.forcePruningOff = true
    for ((mode, run) <- positionalModes; k <- Seq(3, 10, 1000)) {
      val want = run(off, k)
      assert(run(on, k) == want && want.nonEmpty, s"$mode k=$k")
    }
    // the hook reaches the positional kernel, which prunes when it is off
    assert(off.candidatesPruned.value == 0 && on.candidatesPruned.value > 0,
      s"pruned: on=${on.candidatesPruned.value} off=${off.candidatesPruned.value}")
    on.close()
    off.close()
  }

  test("non-positional index refuses proximity search with a clear error") {
    val (_, plainIndex) = TestSpark.builtIndex
    val e = intercept[IllegalArgumentException] {
      new Searcher(spark, plainIndex).searchNear("import def", 5, 8)
    }
    assert(e.getMessage.contains("positional"))
  }

  test("non-positional index refuses phrase search with a clear error") {
    val (_, plainIndex) = TestSpark.builtIndex
    val e = intercept[IllegalArgumentException] {
      new Searcher(spark, plainIndex).searchPhrase("import def", 5)
    }
    assert(e.getMessage.contains("positional"))
  }

  test("positional delta + compaction answer phrase queries like a full rebuild") {
    val (c, _) = TestSpark.builtIndex
    val full = spark.read.parquet(s"$c/files.parquet")
    val work = s"${TestSpark.workDir}/posdelta"
    // base = repos < repo-0020 (a key-prefix split keeps base docIds dense in
    // the base's own key order); delta continues the docId space
    val baseFiles = full.filter($"repo" < "repo-0020")
    val deltaFiles = full.filter($"repo" >= "repo-0020")
    baseFiles.write.mode("overwrite").parquet(s"$work/corpus1/files.parquet")
    spark.read.parquet(s"$c/ref_sha.parquet")
      .join(baseFiles.select("repo", "path", "commit"), Seq("repo", "path", "commit"))
      .write.mode("overwrite").parquet(s"$work/corpus1/ref_sha.parquet")
    IndexBuilder.buildFast(spark, s"$work/corpus1", s"$work/base", posCfg)
    val baseN = IndexBuilder.readMeta(s"$work/base").numDocs
    IncrementalIndexer.indexBatch(spark, deltaFiles, s"$work/delta0", baseN, posCfg)

    def keyed(hits: Array[Hit], docsDirs: Seq[String]): Seq[(Double, Set[String])] = {
      val docs = spark.read.parquet(docsDirs.map(d => s"$d/docs.parquet"): _*)
        .select($"docId", concat_ws("/", $"repo", $"path").as("key"))
        .as[(Long, String)].collect().toMap
      hits.groupBy(_.score).toSeq.sortBy(-_._1)
        .map { case (s, hs) => (s, hs.map(h => docs(h.docId)).toSet) }
    }
    val oracle = {
      val rows = OracleBm25.topKPhrase(full, "import def", 10).collect()
      val keyById = full.withColumn("__docId",
        (row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy("repo", "path", "commit")) - 1).cast("long"))
        .select($"__docId", concat_ws("/", $"repo", $"path").as("key"))
        .as[(Long, String)].collect().toMap
      rows.groupBy(_.getDouble(1)).toSeq.sortBy(-_._1)
        .map { case (s, rs) => (s, rs.map(r => keyById(r.getLong(0))).toSet) }
    }

    val composite = new Searcher(spark, s"$work/base", Seq(s"$work/delta0"))
    assert(composite.meta.numDocs == full.count())
    val gotC = keyed(composite.searchPhrase("import def", 10).collect(),
      Seq(s"$work/base", s"$work/delta0"))
    assert(gotC == oracle, s"composite phrase:\n got  $gotC\n want $oracle")

    IndexBuilder.compact(spark, s"$work/base", Seq(s"$work/delta0"), s"$work/compacted")
    val gotK = keyed(new Searcher(spark, s"$work/compacted")
      .searchPhrase("import def", 10).collect(), Seq(s"$work/compacted"))
    assert(gotK == oracle, s"compacted phrase:\n got  $gotK\n want $oracle")
  }
}
