package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.oracle.OracleBm25
import graft.query.{BoolQ, BoolQuery, Searcher}
import graft.query.BoolQ._

/** Boolean-tree queries: parser semantics + engine-vs-oracle rank identity
  * (bit-exact scores) on the shared test index, including randomized trees.
  */
class BoolQuerySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  lazy val (corpusDir, indexDir) = TestSpark.builtIndex
  lazy val files = spark.read.parquet(s"$corpusDir/files.parquet")
  lazy val searcher = new Searcher(spark, indexDir)

  private def got(q: String, k: Int = 10) =
    searcher.searchBool(q, k).collect().map(h => (h.docId, h.score)).toSeq
  private def want(tree: BoolQ, k: Int = 10) =
    OracleBm25.topKBool(files, tree, k).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq

  test("parser: juxtaposition = AND, keywords, NOT binding, flattening") {
    assert(BoolQuery.parse("a b c") ==
      And(Vector(Term("a"), Term("b"), Term("c"))))
    assert(BoolQuery.parse("a AND b") == And(Vector(Term("a"), Term("b"))))
    assert(BoolQuery.parse("a OR b OR c") ==
      Or(Vector(Term("a"), Term("b"), Term("c"))))
    // OR binds looser than juxtaposed AND
    assert(BoolQuery.parse("a b OR c d") ==
      Or(Vector(And(Vector(Term("a"), Term("b"))),
                And(Vector(Term("c"), Term("d"))))))
    // '-'/NOT bind to the next unary; double negation cancels
    assert(BoolQuery.parse("a -b") == And(Vector(Term("a"), Not(Term("b")))))
    assert(BoolQuery.parse("a NOT b") == BoolQuery.parse("a -b"))
    assert(BoolQuery.parse("a --b") == And(Vector(Term("a"), Term("b"))))
    // parens group; nested same-type nodes flatten
    assert(BoolQuery.parse("(a OR b) c") ==
      And(Vector(Or(Vector(Term("a"), Term("b"))), Term("c"))))
    assert(BoolQuery.parse("a (b c)") ==
      And(Vector(Term("a"), Term("b"), Term("c"))))
    // multi-token word = AND of its tokens; lowercase or/and/not are terms
    assert(BoolQuery.parse("Foo.bar") == And(Vector(Term("foo"), Term("bar"))))
    assert(BoolQuery.parse("a or b") ==
      And(Vector(Term("a"), Term("or"), Term("b"))))
    // errors
    intercept[IllegalArgumentException](BoolQuery.parse("(a b"))
    intercept[IllegalArgumentException](BoolQuery.parse("a)"))
    intercept[IllegalArgumentException](BoolQuery.parse("a OR"))
    intercept[IllegalArgumentException](BoolQuery.parse(""))
    intercept[IllegalArgumentException](BoolQuery.parse("()"))
  }

  test("tree algebra: match-all detection, required terms") {
    assert(BoolQuery.matchesEmptyDoc(BoolQuery.parse("-a")))
    assert(BoolQuery.matchesEmptyDoc(BoolQuery.parse("a OR -b")))
    assert(!BoolQuery.matchesEmptyDoc(BoolQuery.parse("a -b")))
    assert(!BoolQuery.matchesEmptyDoc(BoolQuery.parse("(a b) OR (c -d)")))
    assert(BoolQuery.requiredTerms(BoolQuery.parse("a b (c OR d)")) ==
      Seq("a", "b"))
    assert(BoolQuery.requiredTerms(BoolQuery.parse("a OR b")).isEmpty)
    assert(BoolQuery.leafTerms(BoolQuery.parse("(b a) OR -c")) ==
      Seq("a", "b", "c"))
  }

  test("parser: boosts bind to the preceding atom") {
    assert(BoolQuery.parse("a^2") == Boost(Term("a"), 2.0))
    assert(BoolQuery.parse("a^2.5 b") ==
      And(Vector(Boost(Term("a"), 2.5), Term("b"))))
    assert(BoolQuery.parse("(a OR b)^0.3") ==
      Boost(Or(Vector(Term("a"), Term("b"))), 0.3))
    assert(BoolQuery.parse("-a^2 b") ==
      And(Vector(Not(Boost(Term("a"), 2.0)), Term("b"))))
    // boost is transparent to the algebra
    assert(BoolQuery.leafTerms(BoolQuery.parse("a^2 OR b")) == Seq("a", "b"))
    assert(BoolQuery.requiredTerms(BoolQuery.parse("a^2 b")) == Seq("a", "b"))
    assert(!BoolQuery.matchesEmptyDoc(BoolQuery.parse("a^2")))
    // score multiplies; unmatched stays unmatched
    val s = BoolQuery.evalScore(BoolQuery.parse("a^2 b"),
      Set("a", "b"), Map("a" -> 1.5, "b" -> 1.0))
    assert(s == 1.5 * 2.0 + 1.0)
    assert(BoolQuery.evalScore(BoolQuery.parse("a^2"), Set.empty[String],
      Map.empty[String, Double].withDefaultValue(0.0)).isNaN)
    // errors: non-numeric, non-positive, dangling
    intercept[IllegalArgumentException](BoolQuery.parse("a^"))
    intercept[IllegalArgumentException](BoolQuery.parse("a^0"))
    intercept[IllegalArgumentException](BoolQuery.parse("^2 a"))
  }

  test("boosted trees: rank identity vs oracle, bit-exact scores") {
    for (q <- Seq(
        "(util_7^2 def) OR (util_3 val^0.5)",
        "util_7^3 OR def",
        "(util_7 def)^0.25 OR val",
        "util_7 (def OR val)^2 -util_3")) {
      val g = got(q)
      val w = want(BoolQuery.parse(q))
      assert(g.nonEmpty, s"vacuous boosted gate for '$q'")
      assert(g == w, s"query '$q'")
    }
    // boost reorders ranks vs the unboosted tree but never changes the
    // match SET (same candidates, different scores)
    val un = searcher.searchBool("util_7 OR util_3", 1000).collect()
      .map(_.docId).toSet
    val bo = searcher.searchBool("util_7^9 OR util_3", 1000).collect()
      .map(_.docId).toSet
    assert(un == bo)
  }

  test("engine rejects pure-negative / match-all trees") {
    intercept[IllegalArgumentException](searcher.searchBool("-util_7", 5))
    intercept[IllegalArgumentException](searcher.searchBool("util_7 OR -val", 5))
  }

  test("fixed trees: rank identity vs oracle, bit-exact scores") {
    for (q <- Seq(
        "(util_7 def) OR (util_3 val)",
        "util_7 (def OR -val)",
        "import -(util_7 util_3)",
        "(util_1 OR util_2 OR util_3) def",
        "util_7 AND (val OR def) AND NOT util_3")) {
      val g = got(q)
      val w = want(BoolQuery.parse(q))
      assert(g == w, s"query '$q'")
      assert(g.nonEmpty, s"vacuous gate for '$q'")
    }
  }

  test("flat AND / OR / NOT / filtered: 3+ and repeated terms, rank identity vs oracle") {
    import org.apache.spark.sql.functions.{array_contains, col}
    val docs = spark.read.parquet(s"$indexDir/docs.parquet")
    val withId = files.join(docs.select("docId", "repo", "path", "commit"),
      Seq("repo", "path", "commit")).select("docId", "content")
    def hits(ds: org.apache.spark.sql.Dataset[graft.Hit]) =
      ds.collect().map(h => (h.docId, h.score)).toSeq
    def oracle(q: String, k: Int, conjunctive: Boolean = true,
               restrictTo: Option[org.apache.spark.sql.DataFrame] = None) =
      OracleBm25.topKScalable(withId, q, k, conjunctive = conjunctive,
        restrictTo = restrictTo).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // unsorted, repeated, 3+ distinct terms: the score must be summed once per
    // DISTINCT term in ascending-term order whatever the query's token order
    val queries = Seq("def util_7 import def", "val import class def",
      "util_3 import val util_3")
    for (q <- queries; k <- Seq(10, 200)) {
      val and = hits(searcher.search(q, k))
      assert(and == oracle(q, k), s"AND '$q' k=$k")
      assert(and.nonEmpty, s"vacuous AND '$q'")
      val or = hits(searcher.searchOr(q, k))
      assert(or == oracle(q, k, conjunctive = false), s"OR '$q' k=$k")
      assert(or.length > and.length || k <= and.length, s"OR '$q' adds nothing")
    }
    for ((q, ne) <- Seq(("def util_7 import def", "util_3"),
                        ("val import class def", "util_7 util_1 util_7"))) {
      val negs = graft.index.Tokenize.tokenize(ne).distinct
      val keep = withId.filter(!negs.map(t =>
        array_contains(graft.index.Tokenize.termsCol(col("content")), t)).reduce(_ || _))
      val g = hits(searcher.searchNot(q, ne, 50))
      assert(g == oracle(q, 50, restrictTo = Some(keep)), s"'$q' NOT '$ne'")
      assert(g.nonEmpty && g != hits(searcher.search(q, 50)), s"vacuous NOT '$q' - '$ne'")
    }
    for ((q, pred) <- Seq(("def util_7 import def", col("lang") === "scala"),
                          ("val import class def", col("lang") =!= "py"))) {
      val g = hits(searcher.searchWhere(q, 50, pred))
      assert(g == oracle(q, 50, restrictTo = Some(docs.filter(pred).select("docId"))),
        s"'$q' WHERE $pred")
      assert(g.nonEmpty && g != hits(searcher.search(q, 50)), s"vacuous WHERE '$q'")
    }
  }

  test("missing terms: dead required term empties, dead OR branch drops out") {
    assert(searcher.searchBool("util_7 zzqx_nothing", 5).isEmpty)
    val g = got("util_7 OR zzqx_nothing")
    val w = searcher.searchOr("util_7", 10).collect()
      .map(h => (h.docId, h.score)).toSeq
    assert(g == w)
  }

  test("randomized trees: rank identity vs oracle") {
    val vocab = Vector("import", "def", "val", "util_1", "util_2", "util_3",
      "util_7", "class", "object", "match")
    val rnd = new scala.util.Random(42)
    def gen(depth: Int): BoolQ =
      if (depth == 0) Term(vocab(rnd.nextInt(vocab.length)))
      else rnd.nextInt(4) match {
        case 0 => Term(vocab(rnd.nextInt(vocab.length)))
        case 1 => And(Vector.fill(2 + rnd.nextInt(2))(gen(depth - 1)))
        case 2 => Or(Vector.fill(2 + rnd.nextInt(2))(gen(depth - 1)))
        case 3 => Not(gen(depth - 1))
      }
    var tested = 0
    var it = 0
    while (tested < 12 && it < 200) {
      it += 1
      val tree = gen(3)
      if (!BoolQuery.matchesEmptyDoc(tree)) {
        tested += 1
        val g = searcher.searchBoolTree(tree, 10).collect()
          .map(h => (h.docId, h.score)).toSeq
        assert(g == want(tree), s"tree $tree")
      }
    }
    assert(tested == 12)
  }

  test("block-max pruning inside trees: candidates pruned, ranks stay exact") {
    // hot-term trees at small k: θ rises fast, so the per-candidate tree
    // bounds (BoolQuery.upperBound over current block maxima) must actually
    // reject candidates — while every ranking stays bit-identical to the
    // brute-force oracle (the r4 verdict's done-criterion for tree pruning)
    val s = new Searcher(spark, indexDir)
    for (q <- Seq(
        "(import def) OR (val class)",
        "import OR def OR val",
        "(util_7 def) OR (util_3 val)",
        "import (def OR -val)",
        "import def^2 OR val^0.5")) {
      val tree = BoolQuery.parse(q)
      val g = s.searchBoolTree(tree, 5).collect()
        .map(h => (h.docId, h.score)).toSeq
      assert(g == want(tree, 5), s"query '$q'")
      assert(g.nonEmpty, s"vacuous pruning gate for '$q'")
    }
    assert(s.candidatesPruned.value > 0,
      s"hot boolean trees pruned nothing (scored=${s.candidatesScored.value})")
  }

  test("dismax trees: multi-form affine path prunes, ranks stay exact") {
    // r6 (VERDICT #3 done-criterion): DisMax-bearing trees now ride the
    // max-of-affine-forms scalar bound path — hot dismax queries must still
    // SKIP candidates (fewer exact evaluations than a pruning-off walk; the
    // WAND branch skips via pivot galloping, which the `pruned` counter
    // does not see) while every ranking stays bit-identical to the
    // brute-force oracle
    val qs = Seq(
      "DISMAX (import def)",
      "DISMAX 0.3 (util_7 (def val) class^1.5)",
      "DISMAX 0.5 ((import def) (val class))",
      "util_7 DISMAX 0.5 (def val)")
    val on = new Searcher(spark, indexDir)
    for (q <- qs) {
      val tree = BoolQuery.parse(q)
      assert(BoolQuery.boundWeightsMax(tree).exists(_.length > 1),
        s"'$q' should take the multi-form path")
      val g = on.searchBoolTree(tree, 5).collect()
        .map(h => (h.docId, h.score)).toSeq
      assert(g == want(tree, 5), s"query '$q'")
      assert(g.nonEmpty, s"vacuous pruning gate for '$q'")
    }
    val off = new Searcher(spark, indexDir)
    off.forcePruningOff = true
    for (q <- qs) off.searchBoolTree(BoolQuery.parse(q), 5).collect()
    assert(on.candidatesScored.value < off.candidatesScored.value,
      s"multi-form bounds skipped nothing (on=${on.candidatesScored.value} " +
        s"off=${off.candidatesScored.value})")
  }

  test("dismax: parser shape, tie validation") {
    assert(BoolQuery.parse("DISMAX 0.3 (a b)") ==
      DisMax(Vector(Term("a"), Term("b")), 0.3))
    // no tie → pure best-clause (0.0); clause whitespace separates CLAUSES,
    // unlike ordinary parens where juxtaposition = AND
    assert(BoolQuery.parse("DISMAX (a b)") ==
      DisMax(Vector(Term("a"), Term("b")), 0.0))
    assert(BoolQuery.parse("(a b)") == And(Vector(Term("a"), Term("b"))))
    // compound clauses parenthesize; boosts bind inside and after
    assert(BoolQuery.parse("DISMAX 0.5 ((a b) c^2)") ==
      DisMax(Vector(And(Vector(Term("a"), Term("b"))),
        Boost(Term("c"), 2.0)), 0.5))
    assert(BoolQuery.parse("DISMAX 0.5 (a b)^2") ==
      Boost(DisMax(Vector(Term("a"), Term("b")), 0.5), 2.0))
    // dismax composes under AND/OR like any atom
    assert(BoolQuery.parse("x DISMAX (a b)") ==
      And(Vector(Term("x"), DisMax(Vector(Term("a"), Term("b")), 0.0))))
    // lowercase 'dismax' stays an ordinary term
    assert(BoolQuery.parse("dismax") == Term("dismax"))
    // errors: tie out of [0,1], empty group, missing parens
    intercept[IllegalArgumentException](BoolQuery.parse("DISMAX 1.5 (a b)"))
    intercept[IllegalArgumentException](BoolQuery.parse("DISMAX 0.3 ()"))
    intercept[IllegalArgumentException](BoolQuery.parse("DISMAX 0.3 a b"))
    intercept[IllegalArgumentException](BoolQuery.parse("DISMAX 0.3 (a b"))
  }

  test("dismax: degenerate identities against the flat kernels") {
    // tie = 1 degenerates to disjunction-sum — bit-identical to searchOr
    val viaDismax = got("DISMAX 1.0 (util_7 def)")
    val viaOr = searcher.searchOr("util_7 def", 10).collect()
      .map(h => (h.docId, h.score)).toSeq
    assert(viaDismax == viaOr)
    // a single clause scores the clause itself, for ANY tie
    val single = got("DISMAX 0.3 (util_7)")
    val plain = searcher.search("util_7", 10).collect()
      .map(h => (h.docId, h.score)).toSeq
    assert(single == plain)
    // tie = 0 with a duplicated clause is max, not sum: still the plain score
    assert(got("DISMAX (util_7 util_7)") == plain)
  }

  test("dismax: rank identity vs oracle, dead clauses drop out") {
    for (q <- Seq(
        "DISMAX 0.3 (util_7 (def val) class^1.5)", // the driver gate's tree
        "DISMAX (import def)",                     // hot best-clause
        "DISMAX 0.7 ((util_1 val) (util_2 def))",
        "import DISMAX 0.2 (def val)",             // dismax under AND
        "DISMAX 0.3 (util_7 zzqx_nothing)")) {     // dead clause no-ops
      val g = got(q)
      val w = want(BoolQuery.parse(q))
      assert(g == w, s"query '$q'")
      assert(g.nonEmpty, s"vacuous gate for '$q'")
    }
  }

  test("dismax: randomized trees vs oracle (incl. nesting under AND/OR/NOT)") {
    val vocab = Vector("import", "def", "val", "util_1", "util_2", "util_3",
      "util_7", "class", "object", "match")
    val ties = Vector(0.0, 0.3, 1.0)
    val rnd = new scala.util.Random(7)
    def gen(depth: Int): BoolQ =
      if (depth == 0) Term(vocab(rnd.nextInt(vocab.length)))
      else rnd.nextInt(5) match {
        case 0 => Term(vocab(rnd.nextInt(vocab.length)))
        case 1 => And(Vector.fill(2 + rnd.nextInt(2))(gen(depth - 1)))
        case 2 => Or(Vector.fill(2 + rnd.nextInt(2))(gen(depth - 1)))
        case 3 => Not(gen(depth - 1))
        case 4 => DisMax(Vector.fill(2 + rnd.nextInt(2))(gen(depth - 1)),
          ties(rnd.nextInt(ties.length)))
      }
    var tested = 0
    var it = 0
    while (tested < 10 && it < 200) {
      it += 1
      val tree = gen(3)
      val hasDismax = {
        def f(q: BoolQ): Boolean = q match {
          case DisMax(_, _) => true
          case And(xs) => xs.exists(f)
          case Or(xs) => xs.exists(f)
          case Not(x) => f(x)
          case Boost(x, _) => f(x)
          case Term(_) => false
        }
        f(tree)
      }
      if (hasDismax && !BoolQuery.matchesEmptyDoc(tree)) {
        tested += 1
        val g = searcher.searchBoolTree(tree, 10).collect()
          .map(h => (h.docId, h.score)).toSeq
        assert(g == want(tree), s"tree $tree")
      }
    }
    assert(tested == 10)
  }

  test("dismax: WAND skipping fires with ranks exact (best-field pruning)") {
    // the best-field case pruning exists for: a rare high-idf clause
    // (util_7) next to a very hot low-idf one (import) at tie = 0 — θ
    // fills with util_7-grade scores, the hot clause's ceiling
    // ((1−tie)·maxU mix = max over clause ceilings) sinks below θ, and the
    // WAND pivot skips the import-only docs WHOLESALE (they are never
    // evaluated, so the evidence is candidatesScored ≪ the match count,
    // not the tier-3 pruned counter — pivot skips bypass tier 3 entirely)
    val s = new Searcher(spark, indexDir)
    val tree = BoolQuery.parse("DISMAX (util_7 import)")
    val g = s.searchBoolTree(tree, 3).collect()
      .map(h => (h.docId, h.score)).toSeq
    assert(g == want(tree, 3))
    assert(g.nonEmpty)
    val matchCount = want(tree, Int.MaxValue).length // ≈ every doc (import is hot)
    assert(s.candidatesScored.value < matchCount / 4,
      s"scored=${s.candidatesScored.value} of $matchCount matches — " +
        "the hot clause was walked, not skipped")
    // hot symmetric clauses: ranks stay bit-exact through the pruning path
    val s2 = new Searcher(spark, indexDir)
    for (q <- Seq("DISMAX 0.1 (import def val)",
        "DISMAX 0.5 ((import def) (val class))")) {
      val t2 = BoolQuery.parse(q)
      val g2 = s2.searchBoolTree(t2, 5).collect()
        .map(h => (h.docId, h.score)).toSeq
      assert(g2 == want(t2, 5), s"query '$q'")
      assert(g2.nonEmpty, s"vacuous pruning gate for '$q'")
    }
  }

  // phrase leaves need positions: a dedicated positional build (distinct
  // path from PhraseSpec's — suites may run in parallel)
  private lazy val posSearcher: Searcher = {
    val (c, _) = TestSpark.builtIndex
    val i = s"${TestSpark.workDir}/indexpos_bool"
    graft.index.IndexBuilder.buildFast(spark, c, i,
      graft.index.IndexConfig(docsPerShard = 256, positions = true))
    new Searcher(spark, i)
  }
  private def gotP(q: String, k: Int = 10) =
    posSearcher.searchBool(q, k).collect().map(h => (h.docId, h.score)).toSeq

  test("phrase leaves: parser, algebra, one-leaf ≡ flat phrase") {
    assert(BoolQuery.parse("\"a b\"") == Phrase(Vector("a", "b")))
    assert(BoolQuery.parse("\"a b\" OR c") ==
      Or(Vector(Phrase(Vector("a", "b")), Term("c"))))
    // a one-token quote degrades to a plain term; quotes normalize tokens
    assert(BoolQuery.parse("\"a\"") == Term("a"))
    assert(BoolQuery.parse("\"Foo.Bar baz\"") ==
      Phrase(Vector("foo", "bar", "baz")))
    // boost binds to the quoted atom
    assert(BoolQuery.parse("\"a b\"^2") == Boost(Phrase(Vector("a", "b")), 2.0))
    intercept[IllegalArgumentException](BoolQuery.parse("\"a b"))
    // algebra: members are leaf terms, required wherever the phrase is,
    // positive, and the phrase can't match an empty doc
    val p = BoolQuery.parse("\"a b\" c")
    assert(BoolQuery.leafTerms(p) == Seq("a", "b", "c"))
    assert(BoolQuery.requiredTerms(p).toSet == Set("a", "b", "c"))
    assert(BoolQuery.requiredTerms(BoolQuery.parse("\"a b\" OR c")).isEmpty)
    assert(!BoolQuery.matchesEmptyDoc(BoolQuery.parse("\"a b\"")))
    assert(BoolQuery.matchesEmptyDoc(BoolQuery.parse("\"a b\" OR -c")))
    // one-leaf tree ≡ the flat phrase query, bit-exact
    val viaTree = gotP("\"import def\"")
    val viaFlat = posSearcher.searchPhrase("import def", 10).collect()
      .map(h => (h.docId, h.score)).toSeq
    assert(viaTree == viaFlat)
    assert(viaTree.nonEmpty)
  }

  test("phrase leaves: composed trees are rank-identical to the oracle") {
    for (q <- Seq(
        "(\"import def\" OR util_3) val",       // the driver gate's tree
        "\"import def\" -util_7",                // phrase with a NOT sibling
        "\"import def\" OR \"def class\"",       // two phrase leaves
        "DISMAX 0.4 (\"import def\" util_7)",   // phrase inside dismax
        "\"import def\"^2 val")) {               // boosted phrase under AND
      val g = gotP(q)
      val w = want(BoolQuery.parse(q))
      assert(g == w, s"query '$q'")
      assert(g.nonEmpty, s"vacuous gate for '$q'")
    }
    // a phrase with a dead member can never match; OR drops it
    assert(posSearcher.searchBool("\"import zzqx_nothing\"", 5).isEmpty)
    val g2 = gotP("\"import zzqx_nothing\" OR util_7")
    val w2 = posSearcher.searchOr("util_7", 10).collect()
      .map(h => (h.docId, h.score)).toSeq
    assert(g2 == w2)
    // adjacency genuinely filters: the phrase tree matches fewer docs than
    // the same tree with the phrase read as a bag of words
    val phraseDocs = posSearcher.searchBool("\"import def\" val", 100000).count()
    val bagDocs = posSearcher.searchBool("import def val", 100000).count()
    assert(phraseDocs < bagDocs, s"$phraseDocs vs $bagDocs")
    assert(phraseDocs > 0)
  }

  test("phrase leaves: ceiling pruning fires with ranks exact") {
    // hot-phrase OR rare-term at tiny k: θ fills with util_7-grade scores,
    // so candidates holding only the hot members (import/def, tiny idf)
    // bound below θ via the exact per-list ceilings and skip the positional
    // zipper — while the ranking stays bit-identical to the oracle
    val q = "\"import def\" OR util_7"
    val tree = BoolQuery.parse(q)
    val before = posSearcher.candidatesPruned.value
    val g = posSearcher.searchBoolTree(tree, 3).collect()
      .map(h => (h.docId, h.score)).toSeq
    assert(g == want(tree, 3), s"query '$q'")
    assert(g.nonEmpty)
    assert(posSearcher.candidatesPruned.value > before,
      "hot phrase tree pruned nothing")
  }

  test("phrase leaves refuse a non-positional index") {
    val s = searcher // the shared test index stores no positions
    val e = intercept[IllegalArgumentException] {
      s.searchBool("\"import def\" OR util_7", 5).collect()
    }
    assert(e.getMessage.contains("positional"))
  }

  test("msm: parser shape and validation") {
    assert(BoolQuery.parse("MSM 2 (a b c)") ==
      Msm(Vector(Term("a"), Term("b"), Term("c")), 2))
    // clauses separate like DISMAX's: a parenthesized clause is ONE clause
    assert(BoolQuery.parse("MSM 1 (util_7 (def val))") ==
      Msm(Vector(Term("util_7"), And(Vector(Term("def"), Term("val")))), 1))
    // composes under the ordinary operators and boosts
    assert(BoolQuery.parse("MSM 2 (a b c)^1.5 -d") ==
      And(Vector(Boost(Msm(Vector(Term("a"), Term("b"), Term("c")), 2), 1.5),
                 Not(Term("d")))))
    // m bounds: 0, > clause count, missing, non-integer
    intercept[IllegalArgumentException](BoolQuery.parse("MSM 0 (a b)"))
    intercept[IllegalArgumentException](BoolQuery.parse("MSM 3 (a b)"))
    intercept[IllegalArgumentException](BoolQuery.parse("MSM (a b)"))
    intercept[IllegalArgumentException](BoolQuery.parse("MSM 2 a b"))
    intercept[IllegalArgumentException](BoolQuery.parse("MSM 2 (a b"))
    // algebra: required only at m = n; match-all detection sees through it
    assert(BoolQuery.requiredTerms(BoolQuery.parse("MSM 2 (a b)")).toSet ==
      Set("a", "b"))
    assert(BoolQuery.requiredTerms(BoolQuery.parse("MSM 1 (a b)")).isEmpty)
    assert(BoolQuery.matchesEmptyDoc(BoolQuery.parse("MSM 1 (-a b)")))
    assert(!BoolQuery.matchesEmptyDoc(BoolQuery.parse("MSM 2 (-a b c)")))
  }

  test("msm: degenerate identities — m=1 ≡ OR, m=n ≡ AND, bit-exact") {
    val or = got("util_7 OR def OR util_3")
    assert(got("MSM 1 (util_7 def util_3)") == or)
    val and = got("util_7 def util_3")
    assert(got("MSM 3 (util_7 def util_3)") == and)
    assert(or.nonEmpty && and.nonEmpty, "vacuous fixture")
  }

  test("msm: strictly between OR and AND; rank identity vs oracle") {
    for (q <- Seq(
        "MSM 2 (util_7 def util_3)",
        "MSM 2 (util_1 util_2 util_3 util_7)",
        "MSM 2 (util_7 (def val) -util_3)",
        "import MSM 2 (util_1 util_2 util_3)",
        "MSM 1 (util_7 zzqx_nothing)")) {
      val g = got(q)
      assert(g == want(BoolQuery.parse(q)), s"query '$q'")
    }
    // the 2-of-3 match COUNT sits strictly between 3-of-3 and 1-of-3 here
    val n1 = searcher.searchBool("MSM 1 (util_1 util_2 util_3)", 10000).count()
    val n2 = searcher.searchBool("MSM 2 (util_1 util_2 util_3)", 10000).count()
    val n3 = searcher.searchBool("MSM 3 (util_1 util_2 util_3)", 10000).count()
    assert(n3 < n2 && n2 < n1, s"counts $n3 / $n2 / $n1 not strictly ordered")
  }

  test("const: parser shape and validation") {
    assert(BoolQuery.parse("CONST 2.5 (a b)") ==
      Const(And(Vector(Term("a"), Term("b"))), 2.5))
    // ordinary-paren semantics inside: OR parses as a full expression
    assert(BoolQuery.parse("CONST 1 (a OR b)") ==
      Const(Or(Vector(Term("a"), Term("b"))), 1.0))
    intercept[IllegalArgumentException](BoolQuery.parse("CONST (a)"))
    intercept[IllegalArgumentException](BoolQuery.parse("CONST 1 a"))
    intercept[IllegalArgumentException](BoolQuery.parse("CONST 1 (a"))
    // algebra delegates through the wrapper
    assert(BoolQuery.requiredTerms(BoolQuery.parse("CONST 1 (a b)")).toSet ==
      Set("a", "b"))
    assert(BoolQuery.matchesEmptyDoc(BoolQuery.parse("CONST 1 (-a)")))
  }

  test("const: filter-clause idiom and constant scoring vs oracle") {
    for (q <- Seq(
        // mandatory zero-scoring filter clause next to a scored term
        "util_7 CONST 0 (def val)",
        // constant-score wrapper: every hit gets exactly 1.0 from it
        "CONST 1 (util_7 OR util_3) import",
        "DISMAX 0.3 (CONST 2 (util_7) def)")) {
      val g = got(q)
      assert(g == want(BoolQuery.parse(q)), s"query '$q'")
      assert(g.nonEmpty, s"vacuous gate for '$q'")
    }
    // CONST discards subtree magnitude: the same filter with a boosted
    // inside scores identically (boost is inside the discarded subtree)
    assert(got("util_7 CONST 0 (def^9 val)") == got("util_7 CONST 0 (def val)"))
    // match set of `a CONST 0 (b)` is the conjunctive a AND b set, scores
    // are a's alone
    val filtered = got("util_7 CONST 0 (def)", 10000)
    val conj = searcher.search("util_7 def", 10000).collect()
      .map(h => (h.docId, h.score)).toSeq
    assert(filtered.map(_._1).toSet == conj.map(_._1).toSet)
  }

  test("affine bound decomposition equals the tree-walk bound") {
    // DisMax-free trees: upperBound is affine in the leaf ceilings, so the
    // kernels' scalar fast path must produce the same REAL value as the
    // tree walk (compared here at 1e-9 relative — the kernels additionally
    // inflate by 1e-12 before the prune test)
    val rnd = new scala.util.Random(7)
    val terms = Vector("a", "b", "c", "d", "e")
    def randTree(depth: Int): BoolQ =
      if (depth == 0) Term(terms(rnd.nextInt(terms.length)))
      else rnd.nextInt(7) match {
        case 0 => And(Vector.fill(2 + rnd.nextInt(2))(randTree(depth - 1)))
        case 1 => Or(Vector.fill(2 + rnd.nextInt(2))(randTree(depth - 1)))
        case 2 => Not(randTree(depth - 1))
        case 3 => Boost(randTree(depth - 1), 0.25 + rnd.nextDouble() * 3)
        case 4 => Const(randTree(depth - 1), rnd.nextDouble() * 2)
        case 5 => Msm(Vector.fill(3)(randTree(depth - 1)), 1 + rnd.nextInt(3))
        case _ => Phrase(Vector("a", "b"))
      }
    for (_ <- 1 to 200) {
      val t = randTree(2 + rnd.nextInt(2))
      val ubs = terms.map(_ -> rnd.nextDouble() * 5).toMap
      val (w, c) = BoolQuery.boundWeights(t).get
      val affine = w.map { case (tm, wt) => wt * ubs(tm) }.sum + c
      val walk = BoolQuery.upperBound(t, ubs)
      assert(math.abs(affine - walk) <= 1e-9 * math.max(1.0, walk),
        s"tree $t: affine $affine vs walk $walk")
    }
    // DisMax anywhere → no decomposition (the kernels keep the tree walk)
    assert(BoolQuery.boundWeights(
      And(Vector(Term("a"), DisMax(Vector(Term("b")), 0.5)))).isEmpty)
    intercept[IllegalStateException](BoolQuery.boundWeights(Wild("a*")))
  }

  test("max-of-affine-forms equals the tree-walk bound on DisMax trees") {
    // r6 (VERDICT #3): boundWeightsMax's form set must satisfy
    // max_k(form_k(ubs)) == upperBound(tree, ubs) for EVERY leaf-ceiling
    // assignment — the kernels' multi-form scalar path relies on exactly
    // this pointwise identity (plus the explicit inflate slack).
    val rnd = new scala.util.Random(11)
    val terms = Vector("a", "b", "c", "d", "e")
    def randTree(depth: Int, dismaxOk: Boolean): BoolQ =
      if (depth == 0) Term(terms(rnd.nextInt(terms.length)))
      else rnd.nextInt(if (dismaxOk) 8 else 7) match {
        case 0 => And(Vector.fill(2 + rnd.nextInt(2))(randTree(depth - 1, dismaxOk)))
        case 1 => Or(Vector.fill(2 + rnd.nextInt(2))(randTree(depth - 1, dismaxOk)))
        case 2 => Not(randTree(depth - 1, dismaxOk))
        case 3 => Boost(randTree(depth - 1, dismaxOk), 0.25 + rnd.nextDouble() * 3)
        case 4 => Const(randTree(depth - 1, dismaxOk), rnd.nextDouble() * 2)
        case 5 => Msm(Vector.fill(3)(randTree(depth - 1, dismaxOk)), 1 + rnd.nextInt(3))
        case 6 => Phrase(Vector("a", "b"))
        case _ => DisMax(
          Vector.fill(2 + rnd.nextInt(2))(randTree(depth - 1, dismaxOk)),
          rnd.nextInt(3) match { case 0 => 0.0; case 1 => 1.0; case _ => rnd.nextDouble() })
      }
    var covered = 0
    for (_ <- 1 to 400) {
      // force at least one DisMax at the root level half the time
      val t =
        if (rnd.nextBoolean())
          DisMax(Vector.fill(2 + rnd.nextInt(2))(randTree(2, dismaxOk = true)),
            rnd.nextDouble())
        else randTree(2 + rnd.nextInt(2), dismaxOk = true)
      BoolQuery.boundWeightsMax(t).foreach { forms =>
        covered += 1
        assert(forms.length <= BoolQuery.MaxBoundForms)
        for (_ <- 1 to 5) {
          val ubs = terms.map(_ -> rnd.nextDouble() * 5).toMap
          val mx = forms.map { case (w, c) =>
            w.map { case (tm, wt) => wt * ubs(tm) }.sum + c }.max
          val walk = BoolQuery.upperBound(t, ubs)
          assert(math.abs(mx - walk) <= 1e-9 * math.max(1.0, walk),
            s"tree $t: forms-max $mx vs walk $walk")
        }
      }
    }
    assert(covered > 100, s"only $covered trees decomposed — cap too tight?")
    // DisMax-free trees must degenerate to the singleton boundWeights form
    val t0 = And(Vector(Term("a"), Or(Vector(Term("b"), Term("c")))))
    assert(BoolQuery.boundWeightsMax(t0).get.length == 1)
    assert(BoolQuery.boundWeightsMax(t0).get.head == BoolQuery.boundWeights(t0).get)
    // a bench-shaped DisMax tree decomposes into one form per max slot
    val dm = DisMax(Vector(Term("a"), And(Vector(Term("b"), Term("c")))), 0.3)
    assert(BoolQuery.boundWeightsMax(dm).get.length == 2)
  }

  test("multi-term leaves: parser shape and validation") {
    assert(BoolQuery.parse("util_1*") == Wild("util_1*"))
    assert(BoolQuery.parse("Ut?l_7 def") ==
      And(Vector(Wild("ut?l_7"), Term("def"))))
    assert(BoolQuery.parse("util_7~1") == Fuzzy("util_7", 1))
    assert(BoolQuery.parse("util_7~") == Fuzzy("util_7", 2)) // Lucene default
    assert(BoolQuery.parse("util_1*^2") == Boost(Wild("util_1*"), 2.0))
    intercept[IllegalArgumentException](BoolQuery.parse("util_7~3"))
    intercept[IllegalArgumentException](BoolQuery.parse("util_7~x"))
    intercept[IllegalArgumentException](BoolQuery.parse("ab*~1")) // charset
    intercept[IllegalArgumentException](BoolQuery.parse("~1")) // empty base
    // unexpanded leaves are rejected by every evaluation entry point
    intercept[IllegalStateException](BoolQuery.leafTerms(Wild("a*")))
    intercept[IllegalStateException](
      BoolQuery.matchesEmptyDoc(Fuzzy("abc", 1)))
  }

  test("multi-term leaves: scoring-boolean rewrite, rank identity vs oracle") {
    // the rewritten tree (expansion ORs in df-desc/term-asc order) is what
    // both engine and oracle evaluate — scores bit-exact
    for (q <- Seq("util_1* OR def", "util_1* val", "util_7~1 OR def",
                  "util_1*^2 -util_7", "DISMAX 0.3 (util_1? def)",
                  "MSM 2 (util_1* def val)")) {
      val tree = searcher.rewriteBoolTree(BoolQuery.parse(q)).get
      assert(got(q) == want(tree), s"query '$q'")
      assert(got(q).nonEmpty, s"query '$q' found nothing")
    }
    // the wildcard leaf alone matches the flat wildcard query's SET (the
    // flat kernel folds per-doc scores in ascending-term order, the tree
    // in expansion order — same values, different float accumulation)
    assert(got("util_1*", 10000).map(_._1).toSet ==
      searcher.searchWildcard("util_1*", 10000).collect().map(_.docId).toSet)
  }

  test("multi-term leaves: empty expansions simplify like MatchNoDocsQuery") {
    // dead wildcard under AND kills the tree; under OR it drops out
    assert(searcher.searchBool("zzqx* def", 10).isEmpty)
    assert(got("zzqx* OR def") == got("def"))
    assert(got("zzqx9~0 OR def") == got("def"))
    // NOT(dead expansion) = always-true: droppable under AND...
    assert(got("def -zzqx*") == got("def"))
    // ...but match-all anywhere it defines the match set is rejected
    intercept[IllegalArgumentException](searcher.searchBool("-zzqx*", 10))
    intercept[IllegalArgumentException](
      searcher.searchBool("def OR -zzqx*", 10))
    intercept[IllegalArgumentException](
      searcher.searchBool("CONST 1 (-zzqx*)", 10))
    // MSM: dead clauses drop with m kept; match-all clauses decrement m
    assert(got("MSM 2 (def zzqx* val)") == got("MSM 2 (def val)"))
    assert(got("MSM 2 (def -zzqx* val)") == got("def OR val"))
    // rewriter returns None only when no match is possible at all
    assert(searcher.rewriteBoolTree(BoolQuery.parse("zzqx* def")).isEmpty)
    assert(searcher.rewriteBoolTree(
      BoolQuery.parse("def OR val")).contains(BoolQuery.parse("def OR val")))
  }

  test("shard pruning is the tree's satisfiability algebra") {
    // a conjunctive root intersects required shard sets: rare terms touch
    // few shards, so the AND of two rare terms must touch no more shards
    // than either alone
    val s2 = new Searcher(spark, indexDir)
    s2.searchBool("util_7 util_3", 10).collect()
    val andShards = s2.shardsTouched.value
    val s3 = new Searcher(spark, indexDir)
    s3.searchBool("util_7 OR util_3", 10).collect()
    val orShards = s3.shardsTouched.value
    assert(andShards <= orShards)
  }
}
