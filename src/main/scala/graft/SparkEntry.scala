package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.index.{Codec, Tokenize}
import graft.ops.{Dedup, KvConverter, Multimodal, Similarity, TextAnalysis}
import graft.psi.PsiJoin
import graft.streaming.EventStream

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2 (+ the training-data ops), each with a DuckDB oracle where
  * the semantics are ANSI-SQL-expressible. Column names are aliased
  * identically on both sides (the driver hash-compares by column name).
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Flagship: BM25 search over the engine-built index on the fixed corpus. */
  def entry(spark: SparkSession): DataFrame = {
    CorpusFixture.ensure(spark)
    new graft.query.Searcher(spark, CorpusFixture.indexDir)
      .searchDocs("import val", 10)
  }

  // deterministic fixed sample terms for index roundtrip/BM25 gate queries
  private val RoundtripTerms = Seq("import", "def", "util_7", "util_123")
  private val Bm25Query = "import def util_7"
  // (name, query, k) triples shared by the q_bm25_batch gate and its oracle
  private val BatchQueries = Seq(
    ("a", Bm25Query, 5), ("b", "import val", 5), ("c", "util_7", 3))
  private val PhraseQuery = Seq("import", "def")
  private val Phrase3Query = Seq("import", "def", "class")
  // span-first gate: the phrase must END within the first SpanFirstEnd token
  // positions (Lucene SpanFirstQuery rule, 0-based, end exclusive) — on this
  // fixture that keeps ~4% of the phrase docs, so the bound genuinely prunes
  private val SpanFirstEnd = 8
  // multi-phrase gate: position 0 = import, position 1 = def OR class
  // (Lucene MultiPhraseQuery) — strictly wider than either plain phrase
  private val MultiPhraseSlots = Seq(Seq("import"), Seq("def", "class"))
  // phrase-prefix gate (ES match_phrase_prefix): "import util_1*" — the last
  // token expands to its dictionary completions (df desc, cap 64), then the
  // multi-phrase adjacency runs with the expansion as the final slot
  private val PhrasePrefixQuery = "import util_1"
  // multi-term leaves inside boolean trees (Lucene PrefixQuery/FuzzyQuery as
  // BooleanClauses, SCORING_BOOLEAN_REWRITE): the leaf expands into an OR of
  // Terms in expansion order before the tree evaluates
  // span-not gate (Lucene SpanNotQuery): "import def" occurrences with
  // 'class' inside [start-1, end-1+1] are dropped — strictly between
  // empty and the full phrase set on this fixture
  private val SpanNotExclude = ("class", 1, 1)
  private val BoolWildQuery = "util_1* OR def"
  private val BoolFuzzyQuery = "util_7~1 OR def"
  // proximity gate: both terms must co-occur inside a NearWindow-token span;
  // corpus tokens are shuffled, so the window genuinely prunes conjunctive
  // matches (gate is non-vacuous: 0 < |near| < |conjunctive|)
  private val NearQuery = "import util_7"
  private val NearWindow = 4
  // ordered-proximity gate: same pair, chain must run import → util_7 —
  // shuffled corpus tokens make order genuinely selective (ordered ⊊
  // unordered at the same window)
  private val NearOrderedWindow = 6
  // regex gate: anchored full-term match; portable regex core only (same
  // semantics under Java regex and DuckDB's RE2) — expands to util_10..19
  private val RegexQuery = "util_1[0-9]"
  // wildcard gate: `?` = one char, `*` = any run — exercises both glyphs
  // plus the literal-prefix pushdown ("ut"); the oracle reuses the regex
  // oracle's shape over the translated pattern (one translation source:
  // Searcher.globToRegex, so engine and oracle can never diverge)
  private val WildcardQuery = "ut?l_1*"
  private val WildcardRegex = graft.query.Searcher.globToRegex(WildcardQuery)
  private val FuzzyQuery = "util_7"
  // dismax gate: three clauses of different shapes (plain term, AND pair,
  // boosted term) under one tiebreaker — exercises match-any + the
  // max/sum mix the oracle mirrors with greatest() + a coalesced fold
  private val DismaxQuery = "DISMAX 0.3 (util_7 (def val) class^1.5)"
  // phrase-in-boolean gate: a quoted exact-phrase leaf under OR, ANDed with
  // a plain term — the Lucene classic-parser composition; adjacency routes
  // the tree through the positional boolean kernel
  private val BoolPhraseQuery = "(\"import def\" OR util_3) val"
  private val MltSeedDoc = 42L
  // one live term, one 1-edit misspelling, one hopeless token
  private val SuggestQuery = "def utyl_7 zzqxnothingxx"

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ------------------------------------------------ §2.1 scans / sinks
    "q_scan_project" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") < to_timestamp(lit("1997-01-01")) &&
          col("l_quantity") < 5)
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber")
    }),

    "q_key_concat" -> ((s, dir) => {
      // KeysJoin composite-key discipline (psi/utils/key.cc:185-187)
      t(s, dir, "customer")
        .groupBy(concat_ws(",", col("c_mktsegment"),
          col("c_nationkey").cast("string")).as("joined_key"))
        .agg(count(lit(1)).as("n"))
        .orderBy("joined_key")
    }),

    // ------------------------------------------- §2.2 filters / predicates
    "q_membership_filter" -> ((s, dir) => {
      // broadcast hash semi-join membership probe (ec_point_store.cc:224-286)
      val small = broadcast(t(s, dir, "part").filter(col("p_size") < 10))
      val li = t(s, dir, "lineitem")
      li.join(small, li("l_partkey") === small("p_partkey"), "left_semi")
        .agg(count(lit(1)).as("n_rows"), sum("l_quantity").as("sum_qty"))
    }),

    "q_row_filter_anti" -> ((s, dir) => {
      // FilterFileByIndices complement (psi/legacy/bucket_psi.cc:125,177)
      t(s, dir, "customer")
        .join(t(s, dir, "orders").select(col("o_custkey").as("c_custkey")),
          Seq("c_custkey"), "left_anti")
        .agg(count(lit(1)).as("n"))
    }),

    // ---------------------------------------------------- §2.4 aggregation
    "q1_agg" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"),
          sum("l_quantity").as("sum_qty"),
          round(sum("l_extendedprice"), 4).as("sum_price"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    "q_agg_stats" -> ((s, dir) => {
      // distribution statistics per group: exact percentiles (sort-based, the
      // same p·(n-1) linear interpolation DuckDB's quantile_cont uses),
      // sample stddev, mean — the profiling aggregation a corpus-QA pass runs
      t(s, dir, "events")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          round(avg("value"), 6).as("mean_v"),
          round(stddev_samp("value"), 6).as("sd_v"),
          round(percentile(col("value"), lit(0.5)), 6).as("p50_v"),
          round(percentile(col("value"), lit(0.95)), 6).as("p95_v"))
        .orderBy("event_type")
    }),

    "q_keyinfo" -> ((s, dir) => {
      // KeyInfo run table (key, start_index, dup_cnt) — table_utils.cc:274-278
      t(s, dir, "orders")
        .groupBy(col("o_custkey").as("key"))
        .agg(min("o_orderkey").as("start_idx"),
          (count(lit(1)) - 1).as("dup_cnt"))
        .orderBy("key")
    }),

    "q_dup_check" -> ((s, dir) => {
      // duplicate detector (csv_checker.cc:126-146)
      t(s, dir, "orders")
        .groupBy(col("o_custkey").as("key"))
        .agg(count(lit(1)).as("n"))
        .filter(col("n") > 1)
        .orderBy("key")
    }),

    "q_rolling_digest" -> ((s, dir) => {
      // order-sensitive global digest (table_utils.cc:300,310,365)
      t(s, dir, "orders")
        .agg(sha2(concat_ws(",",
          transform(sort_array(collect_list(col("o_orderkey"))),
            x => x.cast("string"))), 256).as("digest"))
    }),

    "q_stat_info" -> ((s, dir) => {
      // PsiResultReport stats (table_utils.h:232-247) via PsiJoin.report
      val r = PsiJoin.report(t(s, dir, "customer"), t(s, dir, "orders")
        .select(col("o_custkey").as("c_custkey")), Seq("c_custkey"))
      import s.implicits._
      Seq((r.originalCount, r.intersectionCount,
        r.originalUniqueCount, r.intersectionUniqueCount))
        .toDF("original_count", "intersection_count",
          "original_unique", "intersection_unique")
    }),

    // --------------------------------------------------------- §2.3 joins
    "q_join_inner_dup" -> ((s, dir) => {
      // n×m duplicate cardinality (psi_v2.proto:174-319)
      val a = t(s, dir, "orders").filter(col("o_orderstatus") === "O")
        .select(col("o_custkey").as("key"))
      val b = t(s, dir, "orders").filter(col("o_orderstatus") === "F")
        .select(col("o_custkey").as("key"))
      PsiJoin.join(a, b, Seq("key"), PsiJoin.Inner)
        .groupBy("key").agg(count(lit(1)).as("n_pairs"))
        .orderBy("key")
    }),

    "q_join_left_pad" -> ((s, dir) => {
      // left outer with NULL-representation padding (join_processor.cc:305-320)
      val b = t(s, dir, "orders").groupBy(col("o_custkey").as("c_custkey"))
        .agg(max("o_orderpriority").as("best_priority"))
      PsiJoin.join(t(s, dir, "customer").select("c_custkey"), b,
        Seq("c_custkey"), PsiJoin.LeftOuter)
        .orderBy("c_custkey")
    }),

    "q_join_full_diff" -> ((s, dir) => {
      // difference join = full minus inner (join_processor.cc:156-167)
      val a = t(s, dir, "customer").filter(col("c_acctbal") < 0)
        .select(col("c_custkey").as("key")).distinct()
        .withColumn("from_a", lit("A"))
      val b = t(s, dir, "orders").filter(col("o_totalprice") > 150000)
        .select(col("o_custkey").as("key")).distinct()
        .withColumn("from_b", lit("B"))
      PsiJoin.join(a, b, Seq("key"), PsiJoin.Difference)
        .orderBy("key")
    }),

    "q_psi_indices" -> ((s, dir) => {
      // IndexWriter payload (psi_index, psi_peer_cnt) — index_store.cc:50-51
      PsiJoin.intersectIndices(t(s, dir, "customer"),
        t(s, dir, "orders").select(col("o_custkey").as("c_custkey")),
        Seq("c_custkey"), "c_custkey")
        .orderBy("psi_index")
    }),

    "q_dup_expand" -> ((s, dir) => {
      // ResultDumper ×(1+dup) row expansion (table_utils.cc:473-482)
      t(s, dir, "orders")
        .groupBy(col("o_custkey").as("key"))
        .agg((count(lit(1)) - 1).as("dup_cnt"))
        .filter(col("key") < 50)
        .withColumn("i", explode(sequence(lit(0), col("dup_cnt").cast("int"))))
        .select("key", "i")
        .orderBy("key", "i")
    }),

    "q_threshold" -> ((s, dir) => {
      // intersection_threshold truncation (psi_v2.proto:387-396)
      PsiJoin.thresholdIntersect(
        t(s, dir, "customer").select(col("c_custkey").as("key")),
        t(s, dir, "orders").select(col("o_custkey").as("key")),
        Seq("key"), 100)
    }),

    "q_kv_convert" -> ((s, dir) => {
      // APSI KV converter: label splice (0x1E) + per-key row merge (0x1F)
      // (psi/utils/csv_converter.h:31-80)
      KvConverter.mergeLabels(
        t(s, dir, "orders").filter(col("o_custkey") <= 200)
          .select(col("o_custkey"), col("o_orderstatus"), col("o_orderpriority")),
        "o_custkey", Seq("o_orderstatus", "o_orderpriority"))
        .orderBy("key")
    }),

    "q_kv_roundtrip" -> ((s, dir) => {
      // merge → extract inverse (ExtractResult, csv_converter.cc:251-256):
      // the roundtrip must reproduce the original rows exactly
      val src = t(s, dir, "orders").filter(col("o_custkey") <= 200)
        .select(col("o_custkey"), col("o_orderstatus"), col("o_orderpriority"))
      val kv = KvConverter.mergeLabels(src, "o_custkey",
        Seq("o_orderstatus", "o_orderpriority"))
      KvConverter.extractResult(kv, "o_custkey",
        Seq("o_orderstatus", "o_orderpriority"))
        .orderBy("o_custkey", "o_orderstatus", "o_orderpriority")
    }),

    // ------------------------------------------------- §2.6 sorts / top-k
    "q_multikey_sort" -> ((s, dir) => {
      // MultiKeySort (psi/utils/key.cc:122-183)
      t(s, dir, "lineitem")
        .select("l_returnflag", "l_linestatus", "l_orderkey", "l_linenumber")
        .orderBy("l_returnflag", "l_linestatus", "l_orderkey", "l_linenumber")
        .limit(50)
    }),

    "q_topk" -> ((s, dir) => {
      t(s, dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(25)
    }),

    // ------------------------------------------------------ §2.7 set ops
    "q_set_intersect" -> ((s, dir) => {
      t(s, dir, "customer").select(col("c_custkey").as("key"))
        .intersect(t(s, dir, "orders").select(col("o_custkey").as("key")))
        .orderBy("key")
    }),

    "q_set_except" -> ((s, dir) => {
      // customers minus open-order placers: the filter keeps the difference
      // non-empty at every sf (an empty EXCEPT gate proves nothing)
      t(s, dir, "customer").select(col("c_custkey").as("key"))
        .except(t(s, dir, "orders").filter(col("o_orderstatus") === "O")
          .select(col("o_custkey").as("key")))
        .orderBy("key")
    }),

    "q_multiparty_intersect" -> ((s, dir) => {
      // n-party PSI = fold of semi-joins (nparty_psi / nty_mp_psi analog)
      val parties = Seq(
        t(s, dir, "customer").select(col("c_custkey").as("key")),
        t(s, dir, "orders").select(col("o_custkey").as("key")),
        t(s, dir, "customer").filter(col("c_nationkey") < 12)
          .select(col("c_custkey").as("key")))
      parties.reduce((acc, p) => acc.join(p, Seq("key"), "left_semi"))
        .distinct().orderBy("key")
    }),

    // ------------------------------------------------------ §2.8 scalars
    "q_scalar_hash" -> ((s, dir) => {
      // sha256 + base64 (table_utils.cc:300, hash_bucket_cache.cc:54)
      t(s, dir, "customer")
        .filter(col("c_custkey") <= 100)
        .select(col("c_custkey"),
          sha2(col("c_name"), 256).as("sha"),
          base64(col("c_name").cast("binary")).as("b64"))
        .orderBy("c_custkey")
    }),

    "q_hash_partitioner" -> ((s, dir) => {
      // hash(key) % bins partitioner coverage (hash_bucket_cache.cc:56-57);
      // hash functions differ across engines but full 64-bucket coverage
      // is the invariant both must produce
      t(s, dir, "orders")
        .agg(countDistinct(pmod(hash(col("o_orderkey")), lit(64))).as("n_buckets"))
    }),

    // ------------------------------------------------------ §2.5 window
    "q_window_rank" -> ((s, dir) => {
      val w = Window.partitionBy("c_nationkey")
        .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
      t(s, dir, "customer")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select("c_nationkey", "c_custkey", "rn")
        .orderBy("c_nationkey", "rn")
    }),

    // ------------------------------------- north rule: index build + query
    "q_docid_assign" -> ((s, dir) => {
      CorpusFixture.ensure(s)
      s.read.parquet(s"${CorpusFixture.indexDir}/docs.parquet")
        .filter(pmod(col("docId"), lit(37)) === 0)
        .select("docId", "repo", "path", "commit", "dlen")
        .orderBy("docId")
    }),

    "q_dict_topdf" -> ((s, dir) => {
      CorpusFixture.ensure(s)
      s.read.parquet(s"${CorpusFixture.indexDir}/dict.parquet")
        .orderBy(col("df").desc, col("term").asc)
        .limit(50)
        .select("term", "df", "cf")
    }),

    "q_postings_roundtrip" -> ((s, dir) => {
      // decode via the native codegen'd Expressions (graft.functions) — the
      // whole decode runs inside WholeStageCodegen, no typed lambda
      CorpusFixture.ensure(s)
      graft.functions.VByteFunctions.register(s)
      s.read.parquet(s"${CorpusFixture.indexDir}/postings.parquet")
        .filter(col("term").isin(RoundtripTerms: _*))
        .select(col("term"), explode(arrays_zip(
          expr("vbyte_decode_deltas(docBytes, n)").as("d"),
          expr("vbyte_decode_ints(tfBytes, n)").as("f"))).as("p"))
        .select(col("term"), col("p.d").as("docId"), col("p.f").as("tf"))
        .orderBy("term", "docId")
    }),

    "q_bm25_topk" -> ((s, dir) => {
      CorpusFixture.ensure(s)
      new graft.query.Searcher(s, CorpusFixture.indexDir)
        .search(Bm25Query, 10)
        .select(col("docId"), round(col("score"), 9).as("score"))
    }),

    "q_bm25_or" -> ((s, dir) => {
      // disjunctive BM25 incl. a no-hit term (partial matching)
      CorpusFixture.ensure(s)
      new graft.query.Searcher(s, CorpusFixture.indexDir)
        .searchOr(s"$Bm25Query zzqx_nothing", 10)
        .select(col("docId"), round(col("score"), 9).as("score"))
    }),

    "q_bm25_bool" -> ((s, dir) => {
      // boolean-tree query (nested AND under OR): a doc matches either
      // conjunctive clause and scores the sum of its MATCHED clauses
      // (Searcher.searchBool; Lucene BooleanQuery semantics)
      CorpusFixture.ensure(s)
      new graft.query.Searcher(s, CorpusFixture.indexDir)
        .searchBool("(util_7 def) OR (util_3 val)", 10)
        .select(col("docId"), round(col("score"), 9).as("score"))
    }),

    "q_bm25_bool_not" -> ((s, dir) => {
      // boolean tree with a NEGATED leaf inside an OR group: matches docs
      // with util_7 and (def present OR val absent); NOT clauses filter,
      // never score
      CorpusFixture.ensure(s)
      new graft.query.Searcher(s, CorpusFixture.indexDir)
        .searchBool("util_7 (def OR -val)", 10)
        .select(col("docId"), round(col("score"), 9).as("score"))
    }),

    "q_facet_ranges" -> ((s, dir) => {
      // numeric range facets over the conjunctive match set: dlen buckets
      // (-inf,250) [250,300) [300,350) [350,inf) — bucket id is a codegen'd
      // comparison chain, one docs join + one hash agg (Solr range facets)
      CorpusFixture.ensure(s)
      new graft.query.Searcher(s, CorpusFixture.indexDir)
        .searchFacetRanges(Bm25Query, "dlen", Seq(250.0, 300.0, 350.0))
    }),

    "q_facet_stats" -> ((s, dir) => {
      // stats facet: exact count/min/max/sum + one-division mean of dlen
      // over the conjunctive match set (order-independent accumulation)
      CorpusFixture.ensure(s)
      new graft.query.Searcher(s, CorpusFixture.indexDir)
        .searchFacetStats(Bm25Query, "dlen")
    }),

    "q_bm25_bool_phrase" -> ((s, dir) => {
      // boolean tree with an exact-phrase leaf: matches docs with val AND
      // (the consecutive bigram "import def" OR util_3); a matched phrase
      // scores the sum of its distinct members' BM25 contributions
      CorpusFixture.ensure(s)
      new graft.query.Searcher(s, CorpusFixture.indexDir)
        .searchBool(BoolPhraseQuery, 10)
        .select(col("docId"), round(col("score"), 9).as("score"))
    }),

    "q_bm25_dismax" -> ((s, dir) => {
      // disjunction-max tree (Lucene DisjunctionMaxQuery): matches any of
      // {util_7, def AND val, class^1.5}; scores max + 0.3·(sum − max)
      // over the matched clauses — best-clause semantics with a tiebreak,
      // vs OR's disjunction-sum
      CorpusFixture.ensure(s)
      new graft.query.Searcher(s, CorpusFixture.indexDir)
        .searchBool(DismaxQuery, 10)
        .select(col("docId"), round(col("score"), 9).as("score"))
    }),

    "q_bm25_msm" -> ((s, dir) => {
      // minimum-should-match (Lucene minimumNumberShouldMatch): at least
      // 2 of {util_7, def, util_3} present; score = disjunction-sum of the
      // matched clauses in clause order
      CorpusFixture.ensure(s)
      new graft.query.Searcher(s, CorpusFixture.indexDir)
        .searchBool("MSM 2 (util_7 def util_3)", 10)
        .select(col("docId"), round(col("score"), 9).as("score"))
    }),

    "q_bm25_const" -> ((s, dir) => {
      // constant-score clause (Lucene ConstantScoreQuery): docs matching
      // util_7 AND (util_3 OR util_1) score 1.0 + BM25(util_7) — the
      // wrapped disjunction gates the match but contributes a constant
      CorpusFixture.ensure(s)
      new graft.query.Searcher(s, CorpusFixture.indexDir)
        .searchBool("CONST 1 (util_3 OR util_1) util_7", 10)
        .select(col("docId"), round(col("score"), 9).as("score"))
    }),

    "q_bm25_trange" -> ((s, dir) => {
      // term range query (Lucene TermRangeQuery, `[util_10 TO util_13]`):
      // lexicographic dictionary expansion (df desc, term asc, cap 64) →
      // disjunctive WAND scoring, the prefix/regex rewrite family
      CorpusFixture.ensure(s)
      new graft.query.Searcher(s, CorpusFixture.indexDir)
        .searchTermRange(Some("util_10"), Some("util_13"), 10)
        .select(col("docId"), round(col("score"), 9).as("score"))
    }),

    "q_bm25_sortby" -> ((s, dir) => {
      // field-sorted results (Lucene Sort(SortField)): the conjunctive
      // match set ordered by path asc with docId tiebreak, top 15 — a
      // TakeOrdered over one docs join, never a full sort
      CorpusFixture.ensure(s)
      new graft.query.Searcher(s, CorpusFixture.indexDir)
        .searchSortBy(Bm25Query, 15, "path", asc = true)
    }),

    "q_bm25_collapse" -> ((s, dir) => {
      // field collapse (Lucene grouping / Solr collapse): best-scoring doc
      // per lang over the FULL match set, groups ranked by their best hit;
      // scores from the AND kernel's per-shard stream (scoredMatches)
      CorpusFixture.ensure(s)
      new graft.query.Searcher(s, CorpusFixture.indexDir)
        .searchCollapse(Bm25Query, 10, "lang")
        .select(col("lang"), col("docId"), round(col("score"), 9).as("score"))
    }),

    "q_bm25_syn" -> ((s, dir) => {
      // synonym query (Lucene SynonymQuery): util_7 and util_17 score as
      // ONE term — per-doc tf summed, idf from the blended (max) df — so
      // a doc holding both spellings is never double-counted
      CorpusFixture.ensure(s)
      new graft.query.Searcher(s, CorpusFixture.indexDir)
        .searchSynonym(Seq("util_7", "util_17"), 10)
        .select(col("docId"), round(col("score"), 9).as("score"))
    }),

    "q_bm25_filtered" -> ((s, dir) => {
      // metadata-filtered BM25: the filter docId list rides the galloping
      // intersection as a zero-idf list (Searcher.searchWhere)
      CorpusFixture.ensure(s)
      new graft.query.Searcher(s, CorpusFixture.indexDir)
        .searchWhere(Bm25Query, 10, col("lang") === "scala")
        .select(col("docId"), round(col("score"), 9).as("score"))
    }),

    "q_bm25_phrase" -> ((s, dir) => {
      // exact-phrase top-k over the positional index (hot bigram)
      CorpusFixture.ensure(s)
      new graft.query.Searcher(s, CorpusFixture.indexDir)
        .searchPhrase(PhraseQuery.mkString(" "), 10)
        .select(col("docId"), round(col("score"), 9).as("score"))
    }),

    "q_bm25_phrase3" -> ((s, dir) => {
      // 3-token phrase (selective: adjacency thins the candidate set)
      CorpusFixture.ensure(s)
      new graft.query.Searcher(s, CorpusFixture.indexDir)
        .searchPhrase(Phrase3Query.mkString(" "), 10)
        .select(col("docId"), round(col("score"), 9).as("score"))
    }),

    "q_bm25_mphrase" -> ((s, dir) => {
      // multi-phrase (Lucene MultiPhraseQuery): alternatives per position,
      // chained over slot-union position lists; synonym-blended scoring
      CorpusFixture.ensure(s)
      new graft.query.Searcher(s, CorpusFixture.indexDir)
        .searchMultiPhrase(MultiPhraseSlots, 10)
        .select(col("docId"), round(col("score"), 9).as("score"))
    }),

    "q_sigterms" -> ((s, dir) => {
      // significant terms (ES significant_terms, JLH): terms unusually
      // frequent in the conjunctive match set vs the whole corpus
      CorpusFixture.ensure(s)
      new graft.query.Searcher(s, CorpusFixture.indexDir)
        .significantTerms(Bm25Query, 15)
    }),

    "q_bm25_bool_wild" -> ((s, dir) => {
      // wildcard leaf inside a boolean tree: `util_1*` rewrites to the OR
      // of its dictionary expansion (df desc, term asc, cap 64), then the
      // standard tree walk — Lucene SCORING_BOOLEAN_QUERY_REWRITE
      CorpusFixture.ensure(s)
      new graft.query.Searcher(s, CorpusFixture.indexDir)
        .searchBool(BoolWildQuery, 10)
        .select(col("docId"), round(col("score"), 9).as("score"))
    }),

    "q_bm25_bool_fuzzy" -> ((s, dir) => {
      // fuzzy leaf inside a boolean tree: `util_7~1` rewrites to the OR of
      // its Levenshtein-1 dictionary neighbors (dist asc, df desc, term asc)
      CorpusFixture.ensure(s)
      new graft.query.Searcher(s, CorpusFixture.indexDir)
        .searchBool(BoolFuzzyQuery, 10)
        .select(col("docId"), round(col("score"), 9).as("score"))
    }),

    "q_bm25_pphrase" -> ((s, dir) => {
      // phrase-prefix (ES match_phrase_prefix): last token is an open
      // prefix, expanded via the dictionary (df desc, term asc, cap 64)
      // into the final multi-phrase slot — search-as-you-type
      CorpusFixture.ensure(s)
      new graft.query.Searcher(s, CorpusFixture.indexDir)
        .searchPhrasePrefix(PhrasePrefixQuery, 10)
        .select(col("docId"), round(col("score"), 9).as("score"))
    }),

    "q_bm25_spannot" -> ((s, dir) => {
      // span-not (Lucene SpanNotQuery): phrase occurrences overlapping
      // (+/- 1 slack) the exclude term are dropped; survivors keep the
      // phrase scores
      CorpusFixture.ensure(s)
      new graft.query.Searcher(s, CorpusFixture.indexDir)
        .searchSpanNot(PhraseQuery.mkString(" "), SpanNotExclude._1, 10,
          SpanNotExclude._2, SpanNotExclude._3)
        .select(col("docId"), round(col("score"), 9).as("score"))
    }),

    "q_bm25_spanfirst" -> ((s, dir) => {
      // span-first (Lucene SpanFirstQuery): the phrase must end within the
      // first SpanFirstEnd token positions; survivors keep the phrase
      // query's exact conjunctive BM25 scores
      CorpusFixture.ensure(s)
      new graft.query.Searcher(s, CorpusFixture.indexDir)
        .searchSpanFirst(PhraseQuery.mkString(" "), 10, SpanFirstEnd)
        .select(col("docId"), round(col("score"), 9).as("score"))
    }),

    "q_bm25_near" -> ((s, dir) => {
      // proximity query (unordered NEAR/w): all distinct terms within a
      // min-cover window; survivors keep plain conjunctive scores
      CorpusFixture.ensure(s)
      new graft.query.Searcher(s, CorpusFixture.indexDir)
        .searchNear(NearQuery, 10, NearWindow)
        .select(col("docId"), round(col("score"), 9).as("score"))
    }),

    "q_bm25_batch" -> ((s, dir) => {
      // many queries, one Spark job; oracle = UNION ALL of per-query top-k
      CorpusFixture.ensure(s)
      new graft.query.Searcher(s, CorpusFixture.indexDir)
        .searchBatch(BatchQueries)
        .select(col("query_name"), col("docId"),
          round(col("score"), 9).as("score"), col("rank"))
        .orderBy("query_name", "rank")
    }),

    "q_bm25_deleted" -> ((s, dir) => {
      // tombstone deletion with Lucene statistics semantics: every 7th doc
      // is logically deleted (keys resolved → docIds), the query excludes
      // them, and SURVIVORS' scores are bit-identical to the undeleted
      // index (df/avgdl stay full-corpus until compaction — same contract
      // as Lucene's docFreq-includes-deletes); oracle = the full-corpus
      // BM25 with deleted docids filtered out of the final ranking
      CorpusFixture.ensure(s)
      val docs = s.read.parquet(s"${CorpusFixture.indexDir}/docs.parquet")
      val keys = docs.filter(col("docId") % 7 === 0)
        .select("repo", "path", "commit")
      val tombPath = s"${CorpusFixture.indexDir}_tombstones.parquet"
      graft.index.Tombstones.applyDeletes(s, keys,
        Seq(CorpusFixture.indexDir), tombPath) // idempotent across runs
      new graft.query.Searcher(s, CorpusFixture.indexDir,
        tombstones = Some(tombPath))
        .search(Bm25Query, 10)
        .select(col("docId"), round(col("score"), 9).as("score"))
    }),

    "q_bm25_near_ordered" -> ((s, dir) => {
      // inOrder SpanNear: some strictly-increasing position chain must
      // follow the query's token order inside the window; survivors score
      // plain conjunctive BM25 (bit-identical to the unwindowed query)
      CorpusFixture.ensure(s)
      new graft.query.Searcher(s, CorpusFixture.indexDir)
        .searchNear(NearQuery, 10, NearOrderedWindow, ordered = true)
        .select(col("docId"), round(col("score"), 9).as("score"))
    }),

    "q_bm25_not" -> ((s, dir) => {
      // negated-term query (import def util_7 AND NOT val AND NOT zzqx…):
      // negative posting lists ride the tombstone exclusion mechanism;
      // survivors keep bit-identical full-corpus scores; the absent
      // negative term must be a no-op
      CorpusFixture.ensure(s)
      new graft.query.Searcher(s, CorpusFixture.indexDir)
        .searchNot(Bm25Query, "val zzqx_nothing", 10)
        .select(col("docId"), round(col("score"), 9).as("score"))
    }),

    "q_bm25_regex" -> ((s, dir) => {
      // anchored regex term query: dictionary expansion (full-term match,
      // df desc, term asc, cap 64) → disjunctive WAND scoring, same rewrite
      // family as prefix; oracle reproduces the expansion via
      // regexp_full_match and left-folds scores in ascending-term order
      CorpusFixture.ensure(s)
      new graft.query.Searcher(s, CorpusFixture.indexDir)
        .searchRegex(RegexQuery, 10)
        .select(col("docId"), round(col("score"), 9).as("score"))
    }),

    "q_bm25_wildcard" -> ((s, dir) => {
      // wildcard (glob) term query: ? = one char, * = any run; rewritten
      // to the anchored-regex expansion (same cap rule: df desc, term asc,
      // 64) then disjunctive WAND scoring — Lucene's WildcardQuery rewrite
      CorpusFixture.ensure(s)
      new graft.query.Searcher(s, CorpusFixture.indexDir)
        .searchWildcard(WildcardQuery, 10)
        .select(col("docId"), round(col("score"), 9).as("score"))
    }),

    "q_suggest" -> ((s, dir) => {
      // did-you-mean: present terms suggest themselves (distance-0 nearest
      // neighbor), a misspelled term gets the closest dictionary term
      // (dist asc, df desc, term asc), a hopeless one gets NULL
      CorpusFixture.ensure(s)
      import s.implicits._
      new graft.query.Searcher(s, CorpusFixture.indexDir)
        .suggest(SuggestQuery).toDF("term", "suggestion")
    }),

    "q_bm25_mlt" -> ((s, dir) => {
      // more-like-this: representative terms of seed doc 42 (tf>=2, df>=5,
      // tf*idf desc / term asc, cap 25) run as an OR query, seed excluded;
      // the oracle re-derives the selection from raw text in SQL
      CorpusFixture.ensure(s)
      val files = s.read.parquet(s"${CorpusFixture.corpusDir}/files.parquet")
      new graft.query.Searcher(s, CorpusFixture.indexDir)
        .moreLikeThis(files, MltSeedDoc, 10)
        .select(col("docId"), round(col("score"), 9).as("score"))
    }),

    "q_bm25_explain" -> ((s, dir) => {
      // scoring explain (Lucene IndexSearcher.explain analog): one row per
      // (top-10 hit, query term) with tf/df/idf and the BM25 summand, all
      // reproduced independently by the oracle from raw text
      CorpusFixture.ensure(s)
      new graft.query.Searcher(s, CorpusFixture.indexDir)
        .explainHits(Bm25Query, 10)
        .select(col("docId"), round(col("score"), 9).as("score"),
          col("term"), col("tf"), col("df"),
          round(col("idf"), 9).as("idf"),
          round(col("contribution"), 9).as("contribution"))
    }),

    "q_bm25_count" -> ((s, dir) => {
      // total conjunctive hit count (the "N results" a search UI shows):
      // one distributed count over the codegen-decoded match set
      CorpusFixture.ensure(s)
      import s.implicits._
      new graft.query.Searcher(s, CorpusFixture.indexDir)
        .matchingDocs(Bm25Query).agg(count(lit(1)).as("n"))
    }),

    "q_bm25_fuzzy" -> ((s, dir) => {
      // fuzzy term query (Lucene FuzzyQuery analog): dictionary expansion
      // to all terms within Levenshtein distance 1 (dist asc, df desc,
      // term asc, cap 64) → disjunctive WAND scoring; oracle reproduces
      // the expansion with DuckDB's levenshtein and left-folds scores in
      // ascending-term order
      CorpusFixture.ensure(s)
      new graft.query.Searcher(s, CorpusFixture.indexDir)
        .searchFuzzy(FuzzyQuery, 10, maxEdits = 1)
        .select(col("docId"), round(col("score"), 9).as("score"))
    }),

    "q_bm25_boost" -> ((s, dir) => {
      // query-time boosts inside a boolean tree: matched sub-clauses sum
      // with their boost multipliers (util_7 doubled, val halved)
      CorpusFixture.ensure(s)
      new graft.query.Searcher(s, CorpusFixture.indexDir)
        .searchBool("(util_7^2 def) OR (util_3 val^0.5)", 10)
        .select(col("docId"), round(col("score"), 9).as("score"))
    }),

    "q_bm25_page" -> ((s, dir) => {
      // offset pagination: ranks 10..19 of the exact conjunctive ranking
      // (per-shard heaps + WAND threshold bounded by from+k)
      CorpusFixture.ensure(s)
      new graft.query.Searcher(s, CorpusFixture.indexDir)
        .searchPage(Bm25Query, 10, from = 10)
        .select(col("docId"), round(col("score"), 9).as("score"))
    }),

    "q_bm25_page_after" -> ((s, dir) => {
      // CURSOR pagination (searchAfter, r5): pages 2 and 3 (k = 5) of the
      // exact conjunctive ranking, each fetched with the previous page's
      // last hit as the cursor — per-shard heaps stay size k at any depth
      // (vs offset paging's from+k). The two pages must TILE ranks 5..14
      // exactly (oracle: LIMIT 10 OFFSET 5 of the full ranking).
      CorpusFixture.ensure(s)
      val se = new graft.query.Searcher(s, CorpusFixture.indexDir)
      val p1 = se.search(Bm25Query, 5).collect()
      val p2 = se.searchAfter(Bm25Query, 5, p1.last).collect()
      val p3 = se.searchAfter(Bm25Query, 5, p2.last).collect()
      import s.implicits._
      s.createDataset((p2 ++ p3).toSeq)
        .select(col("docId"), round(col("score"), 9).as("score"))
    }),

    "q_bm25_prefix" -> ((s, dir) => {
      // wildcard `util_1*`: dictionary range expansion (df desc, term asc,
      // cap 64) → disjunctive WAND scoring over the completions; the oracle
      // reproduces the expansion rule and left-folds per-doc scores in
      // ascending-term order (list_reduce) for bit-exact sums
      CorpusFixture.ensure(s)
      new graft.query.Searcher(s, CorpusFixture.indexDir)
        .searchPrefix("util_1", 10)
        .select(col("docId"), round(col("score"), 9).as("score"))
    }),

    "q_facet_counts" -> ((s, dir) => {
      // facet panel: per-lang counts over the FULL conjunctive match set,
      // match set computed by codegen'd vbyte decode + count-distinct
      CorpusFixture.ensure(s)
      new graft.query.Searcher(s, CorpusFixture.indexDir)
        .searchFacets(Bm25Query, "lang")
    }),

    "q_bm25_snippets" -> ((s, dir) => {
      // top-k with a deterministic snippet: the ±8-token context around the
      // FIRST occurrence of any query term (pure Column extraction; oracle
      // recomputes the identical window from the raw text)
      CorpusFixture.ensure(s)
      val files = s.read.parquet(s"${CorpusFixture.corpusDir}/files.parquet")
      new graft.query.Searcher(s, CorpusFixture.indexDir)
        .searchSnippets(Bm25Query, 10, files)
        .select(col("docId"), round(col("score"), 9).as("score"), col("snippet"))
    }),

    "q_corpus_langs" -> ((s, dir) => {
      CorpusFixture.ensure(s)
      s.read.parquet(s"${CorpusFixture.corpusDir}/files.parquet")
        .groupBy("lang").agg(count(lit(1)).as("n"))
        .orderBy("lang")
    }),

    // ------------------------------------------------ dedup (documents)
    "q_dedup_exact_stats" -> ((s, dir) =>
      Dedup.exactStats(t(s, dir, "documents"), "text")),

    "q_dedup_ngram" -> ((s, dir) => {
      Dedup.ngramJaccardPairs(t(s, dir, "documents"), "doc_id", "text",
        k = 3, minJaccard = 0.2, maxShingleDf = 200)
        .orderBy("doc_a", "doc_b")
    }),

    "q_dedup_clusters" -> ((s, dir) => {
      // pairs → connected components → canonical (min-id) cluster per doc:
      // the keep-one step after pair finding; oracle = recursive closure
      Dedup.clusterAssignments(
        Dedup.ngramJaccardPairs(t(s, dir, "documents"), "doc_id", "text",
          k = 3, minJaccard = 0.2, maxShingleDf = 200))
        .select(col("id").as("doc_id"), col("cluster").as("cluster_id"))
        .orderBy("doc_id")
    }),

    "q_split_leakfree" -> ((s, dir) => {
      // cluster-aware train/val/test split: near-dup cluster members share a
      // split (contamination prevention); split = sha256(cluster) hex bucket
      Dedup.leakFreeSplit(t(s, dir, "documents"), "doc_id",
        Dedup.ngramJaccardPairs(t(s, dir, "documents"), "doc_id", "text",
          k = 3, minJaccard = 0.2, maxShingleDf = 200))
        .select(col("id").as("doc_id"), col("cluster").as("cluster_id"),
          col("split"))
        .orderBy("doc_id")
    }),

    "q_dedup_minhash_lsh" -> ((s, dir) => {
      // VERIFIED output gated against the exact-Jaccard oracle: at these
      // params (16 bands × 2 rows) every pair with J ≥ 0.5 lands in some
      // band on this corpus family (near-dups are J ≥ 0.7, noise < 0.3 —
      // measured at sf0.001/0.01/0.1), so LSH-candidates + exact verify ==
      // the full exact-threshold pair set and the gate is hash-checkable;
      // the probabilistic recall property is separately asserted in OpsSpec
      Dedup.minhashLshPairs(t(s, dir, "documents"), "doc_id", "text",
        k = 3, numPerms = 32, rowsPerBand = 2, minJaccard = 0.5)
        .orderBy("doc_a", "doc_b")
    }),

    "q_dedup_simhash" -> ((s, dir) => {
      // HASH-CHECKED (r5; was rows-only): with the md5-derived 60-bit token
      // hash plugged in, the DuckDB oracle recomputes every simhash value —
      // tokenize, per-bit sign sums, and bit assembly are identical SQL on
      // both engines (Dedup.md5Hash60). The operator pipeline under test is
      // byte-for-byte the one the xxhash64 scale default runs.
      Dedup.simhash(t(s, dir, "documents"), "doc_id", "text",
        tokenHash = Dedup.md5Hash60)
        .orderBy("doc")
    }),

    "q_dedup_simhash_dups" -> ((s, dir) => {
      // hash-checked DERIVED gate for the (engine-specific-hash) SimHash
      // pipeline: the corpus is augmented with constructed exact duplicates
      // (every 10th doc copied under id+1_000_000 — the base table has no
      // exact dups, which would make a sha-equal restriction vacuous), and
      // simhashPairs restricted to sha-equal pairs must equal EXACTLY the
      // constructed dup-pair set: identical text → identical token stream →
      // identical simhash → every Manku band key equal → candidate found at
      // dist 0. Recall-at-distance-0 is thereby oracle-checkable even though
      // the xxhash64-based simhash values themselves are not.
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val aug = docs.unionByName(
        docs.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      val sha = aug.select(col("doc_id"), sha2(col("text"), 256).as("sha"))
      Dedup.simhashPairs(aug, "doc_id", "text")
        .join(sha.select(col("doc_id").as("doc_a"), col("sha").as("sha_a")), "doc_a")
        .join(sha.select(col("doc_id").as("doc_b"), col("sha").as("sha_b")), "doc_b")
        .filter(col("sha_a") === col("sha_b"))
        .select(col("doc_a"), col("doc_b"), col("dist"))
        .orderBy("doc_a", "doc_b")
    }),

    "q_embed_neardup_lsh" -> ((s, dir) => {
      // corpus×corpus embedding near-dup, the LSH scale path of
      // q_embed_neardup (recall vs brute force asserted in OpsSpec).
      // HASH-CHECKED (r5; was rows-only): with Md5Planes the DuckDB oracle
      // recomputes every hyperplane component, bucket code, and cosine —
      // the candidate set and verified pairs are value-checked end to end.
      // τ=0.4 with 4-plane/8-table codes keeps per-pair recall ~0.75 and
      // the found set non-empty at every sf (τ=0.5 had 0-1 true pairs below
      // sf0.1 and the r2 gate recorded ZERO rows — vacuous)
      Similarity.lshNearDupPairs(t(s, dir, "embeddings"), "vec_id", "embedding",
        minCos = 0.4, numPlanes = 4, numTables = 8,
        planes = Similarity.Md5Planes)
        .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos"))
        .orderBy("id_a", "id_b")
    }),

    "q_embed_neardup" -> ((s, dir) => {
      Dedup.embeddingNearDupPairs(t(s, dir, "embeddings"), "vec_id", "embedding",
        minCos = 0.0)
        .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos"))
        .filter(col("cos") >= 0.5)
        .orderBy("id_a", "id_b")
    }),

    // -------------------------------------------------- similarity search
    "q_ann_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 3)
      Similarity.bruteForceTopK(e, q, "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("neighbor_id"),
          round(col("cos"), 6).as("cos"), col("rank"))
        .orderBy("query_id", "rank")
    }),

    "q_ann_lsh" -> ((s, dir) => {
      // scale-path ANN; recall vs brute force asserted in SimilaritySpec.
      // HASH-CHECKED (r5; was rows-only): Md5Planes makes the bucket codes,
      // candidate set, cosines, and ranks all recomputable by the DuckDB
      // oracle — full value equality on the approximate result itself.
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 3)
      // numPlanes = 6 (not the 12 default): 2^6 buckets over 500 fixture
      // vectors keeps buckets populated, so the gate exercises real top-5
      // ranking instead of near-singleton candidate sets (1 row at 12)
      Similarity.lshTopK(e, q, "vec_id", "embedding", k = 5, numPlanes = 6,
        planes = Similarity.Md5Planes)
        .select(col("query_id"), col("neighbor_id"),
          round(col("cos"), 6).as("cos"), col("rank"))
        .orderBy("query_id", "rank")
    }),

    "q_ann_lsh_top1" -> ((s, dir) => {
      // hash-checked DERIVED twin for lshTopK itself: plant an exact copy
      // of every query vector in the corpus (id+1_000_000) — identical
      // vectors share every table's bucket code, so the copy is ALWAYS a
      // candidate, scores cos=1 (the Cauchy-Schwarz maximum), and wins
      // rank 1 under the (cos desc, id asc) tiebreak; the oracle writes the
      // expected top-1 rows down in closed form
      val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val q = e.filter(col("vec_id") < 3)
      val aug = e.unionByName(
        q.select((col("vec_id") + 1000000L).as("vec_id"), col("embedding")))
      Similarity.lshTopK(aug, q, "vec_id", "embedding", k = 3)
        .filter(col("rank") === 1)
        .select(col("query_id"), col("neighbor_id"),
          round(col("cos"), 6).as("cos"))
        .orderBy("query_id")
    }),

    "q_ann_lsh_dups" -> ((s, dir) => {
      // hash-checked DERIVED twin of the (engine-specific-hash) LSH path,
      // same trick as q_dedup_simhash_dups: the embeddings are augmented
      // with constructed exact-duplicate vectors (every 10th copied under
      // id+1_000_000); identical vectors project identically on EVERY
      // hyperplane, so every table assigns them the same bucket code and
      // the pair is ALWAYS found — recall at cos=1 is deterministic.
      // Restricting the found pairs to identical-vector pairs makes the
      // DuckDB array-equality self-join the exact oracle (and if the base
      // table happened to carry identical vectors, both sides include them).
      val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val aug = e.unionByName(
        e.filter(col("vec_id") % 10 === 0)
          .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding")))
      Similarity.lshNearDupPairs(aug, "vec_id", "embedding",
        minCos = 0.999, numPlanes = 8, numTables = 2)
        .join(aug.select(col("vec_id").as("id_a"), col("embedding").as("va")), "id_a")
        .join(aug.select(col("vec_id").as("id_b"), col("embedding").as("vb")), "id_b")
        .filter(col("va") === col("vb"))
        .select(col("id_a"), col("id_b"))
        .orderBy("id_a", "id_b")
    }),

    "q_ann_ivf" -> ((s, dir) => {
      // IVF-flat scale path (inverted lists from trained centroids); with
      // nprobe = nlist the probe covers every list, so the result equals the
      // exact brute-force top-k — oracle-checked against the same SQL as
      // q_ann_topk; partial-probe recall is asserted in OpsSpec
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 3)
      Similarity.ivfTopK(e, q, "vec_id", "embedding", k = 5,
        nlist = 8, nprobe = 8, iters = 2)
        .select(col("query_id"), col("neighbor_id"),
          round(col("cos"), 6).as("cos"), col("rank"))
        .orderBy("query_id", "rank")
    }),

    // -------------------------------------------------------- text analysis
    "q_token_counts" -> ((s, dir) => {
      TextAnalysis.tokenCounts(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    }),

    "q_text_quality" -> ((s, dir) => {
      TextAnalysis.qualityFeatures(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    }),

    "q_lang_id" -> ((s, dir) => {
      // heuristic language-ID; accuracy asserted in TextAnalysisSpec;
      // gate compares the deterministic per-doc prediction
      TextAnalysis.languageId(t(s, dir, "documents"), "doc_id", "text")
        .select(col("doc_id"), col("pred_lang"))
        .orderBy("doc_id")
    }),

    "q_fingerprint" -> ((s, dir) => {
      TextAnalysis.fingerprints(t(s, dir, "documents"), "doc_id", "text")
        .select("doc_id", "fingerprint_sha256")
        .orderBy("doc_id")
    }),

    "q_fingerprint_winnow" -> ((s, dir) => {
      // winnowed rolling-hash fingerprints (MOSS scheme); hash values are
      // engine-specific → rows-only gate, guarantees proven in OpsSpec
      TextAnalysis.winnowFingerprints(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id", "pos", "fp")
    }),

    "q_overlap_pairs" -> ((s, dir) => {
      // partial-overlap candidate pairs from shared winnowed fingerprints
      TextAnalysis.overlapPairs(t(s, dir, "documents"), "doc_id", "text",
        minShared = 1)
        .orderBy("doc_a", "doc_b")
    }),

    "q_overlap_dups" -> ((s, dir) => {
      // hash-checked DERIVED twin of q_overlap_pairs (winnow hash values
      // are engine-specific, the guarantee is not): identical text →
      // identical winnowed fingerprint set → an overlap pair is ALWAYS
      // found; restricted to sha-equal pairs over a corpus augmented with
      // constructed duplicates, the found set must equal exactly the
      // constructed dup-pair set (same derivation as q_dedup_simhash_dups)
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val aug = docs.unionByName(
        docs.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      val sha = aug.select(col("doc_id"), sha2(col("text"), 256).as("sha"))
      TextAnalysis.overlapPairs(aug, "doc_id", "text", minShared = 1)
        .join(sha.select(col("doc_id").as("doc_a"), col("sha").as("sha_a")), "doc_a")
        .join(sha.select(col("doc_id").as("doc_b"), col("sha").as("sha_b")), "doc_b")
        .filter(col("sha_a") === col("sha_b"))
        .select(col("doc_a"), col("doc_b"))
        .orderBy("doc_a", "doc_b")
    }),

    // ----------------------------------------------------------- multimodal
    "q_multimodal_stub" -> ((s, dir) => {
      val media = Multimodal.synthesizeMedia(t(s, dir, "documents"),
        "doc_id", "text", "source")
      Multimodal.extractFeatures(s, media)
        .select("media_id", "modality", "n_bytes", "fake_width",
          "fake_height", "fake_duration_ms")
        .orderBy("media_id")
    }),

    "q_multimodal_real" -> ((s, dir) => {
      // REAL container-header decode: synthesizeMediaReal emits structurally
      // valid PNG/JPEG/WAV bytes with id-derived dimensions/duration, and
      // decodeMedia parses them back from the actual byte format (IHDR,
      // SOFn scan, RIFF chunk walk) — the oracle recomputes every field
      // (including total byte size) from the id formulas
      val media = Multimodal.synthesizeMediaReal(t(s, dir, "documents"),
        "doc_id", "source")
      Multimodal.extractFeaturesReal(s, media)
        .select("media_id", "modality", "n_bytes", "width", "height",
          "duration_ms")
        .orderBy("media_id")
    }),

    // ------------------------------------------------------------ streaming
    "q_stream_window" -> ((s, dir) => {
      EventStream.windowedEventAgg(s, dir)
        .withColumn("win_start", col("win_start").cast("long"))
        .orderBy("win_start", "event_type")
    }),

    "q_stream_window_append" -> ((s, dir) => {
      // append-mode + watermark-eviction twin of q_stream_window — the
      // bounded-state scale shape; emits exactly the windows the final
      // watermark (max ts - 10 min) closed, oracle restricted identically
      EventStream.windowedEventAggAppend(s, dir)
        .withColumn("win_start", col("win_start").cast("long"))
        .orderBy("win_start", "event_type")
    }),

    "q_stream_users" -> ((s, dir) => {
      EventStream.perUserActivity(s, dir)
        .withColumn("win_start", col("win_start").cast("long"))
        .select("user_id", "win_start", "n")
        .orderBy("user_id", "win_start")
    }),

    "q_stream_users_append" -> ((s, dir) => {
      // append-mode + watermark-eviction twin of q_stream_users — the
      // bounded-state scale shape; emits exactly the (user, window) groups
      // the final watermark (max ts - 30 min) closed, oracle restricted
      // identically
      EventStream.perUserActivityAppend(s, dir)
        .withColumn("win_start", col("win_start").cast("long"))
        .select("user_id", "win_start", "n")
        .orderBy("user_id", "win_start")
    }),

    "q_sessionize" -> ((s, dir) => {
      // native session_window, 24h gap; stream form asserted identical in
      // EventStreamSpec — this gate checks the merged-session semantics
      EventStream.sessionize(s, dir)
        .withColumn("sess_start", col("sess_start").cast("long"))
        .withColumn("sess_end", col("sess_end").cast("long"))
        .orderBy("user_id", "sess_start")
    }),

    "q_stream_state" -> ((s, dir) => {
      // flatMapGroupsWithState running totals; one batch over the static
      // table → emission equals the batch groupBy the oracle computes
      EventStream.statefulUserTotals(s, dir)
    })
  )

  // ---------------------------------------------------------------------
  // DuckDB oracles. Table names resolve to the sfDir parquet files; corpus
  // queries read the fixed fixture path via read_parquet.
  // ---------------------------------------------------------------------

  private val FilesGlob = CorpusFixture.filesGlob

  /** Phrase-query oracle: adjacency via self-joins on token ordinals, then
    * the same BM25 formula as q_bm25_topk restricted to phrase-containing
    * docs (scores bit-exact: identical term set, identical ascending-term
    * sum order).
    */
  /** DuckDB oracle for multi-phrase: the adjacency chain accepts ANY member
    * of each slot's alternative set; survivors score the synonym contract
    * per distinct slot (tf summed over members, idf from the blended max
    * member df), summed in ascending slot-key order — the kernel's exact
    * accumulation (Searcher.scoreShardBoolPos over the multi-phrase span).
    */
  private def multiPhraseOracleSql(slots: Seq[Seq[String]], k: Int): String = {
    val slotTerms = slots.map(_.distinct.sorted)
    val allTerms = slotTerms.flatten.distinct.sorted
    def inList(ts: Seq[String]) = ts.map(t => s"'$t'").mkString(", ")
    val (k1, b) = (1.2, 0.75)
    // adjacency joins run over `occ` (occurrences of QUERY terms only) —
    // self-joining the raw per-token list spills unboundedly in DuckDB
    val adjJoins = slotTerms.zipWithIndex.drop(1).map { case (ts, j) =>
      s"JOIN occ p$j ON p$j.docid = p0.docid AND p$j.ord = p0.ord + $j AND p$j.tok IN (${inList(ts)})"
    }.mkString("\n  ")
    val distinctSlots = slotTerms.map(ms => ms.mkString("|") -> ms)
      .distinctBy(_._1).sortBy(_._1).map(_._2)
    // one tiny CTE per distinct slot for the blended idf and the summed tf —
    // everything downstream of the MATERIALIZED filtered CTEs (a correlated
    // scalar-subquery formulation re-derived the full-corpus token CTEs per
    // reference and per ORDER BY re-evaluation; DuckDB spilled unboundedly)
    val slotCtes = distinctSlots.zipWithIndex.map { case (ms, i) =>
      s"""idf$i AS (SELECT ln(1.0 + ((SELECT n FROM stats) - max(df) + 0.5) /
         |  (max(df) + 0.5)) AS v FROM dfs WHERE tok IN (${inList(ms)})),
         |slot$i AS (SELECT docid, sum(tf) AS tfs FROM tfm
         |  WHERE tok IN (${inList(ms)}) GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    val scoreSum = distinctSlots.indices.map { i =>
      s"""((SELECT v FROM idf$i) *
         |  (CAST(slot$i.tfs AS DOUBLE) * CAST($k1 + 1.0 AS DOUBLE)) /
         |  (CAST(slot$i.tfs AS DOUBLE) + $k1 * (1.0 - $b + $b * (CAST(dlm.dlen AS DOUBLE) / (SELECT avgdl FROM stats)))))""".stripMargin
    }.mkString(" +\n")
    val slotJoins = distinctSlots.indices
      .map(i => s"JOIN slot$i ON slot$i.docid = pdocs.docid").mkString("\n  ")
    s"""WITH $corpusCte,
       |ptoks AS (
       |  SELECT docid, unnest(regexp_extract_all(lower(content), '[a-z0-9_]+')) AS tok,
       |         generate_subscripts(regexp_extract_all(lower(content), '[a-z0-9_]+'), 1) AS ord
       |  FROM docs),
       |occ AS MATERIALIZED (SELECT docid, ord, tok FROM ptoks
       |  WHERE tok IN (${inList(allTerms)})),
       |pdocs AS (
       |  SELECT DISTINCT p0.docid FROM occ p0
       |  $adjJoins
       |  WHERE p0.tok IN (${inList(slotTerms.head)})),
       |tfm AS MATERIALIZED (SELECT docid, tok, tf FROM tf
       |  WHERE tok IN (${inList(allTerms)})),
       |dlm AS MATERIALIZED (SELECT docid, dlen FROM dl),
       |stats AS (SELECT (SELECT count(*) FROM docs) AS n,
       |  CAST((SELECT sum(dlen) FROM dlm) AS DOUBLE) / (SELECT count(*) FROM docs) AS avgdl),
       |dfs AS (SELECT tok, count(*) AS df FROM tfm GROUP BY 1),
       |$slotCtes,
       |scored AS (SELECT pdocs.docid AS docId, $scoreSum AS s
       |  FROM pdocs $slotJoins JOIN dlm ON dlm.docid = pdocs.docid)
       |SELECT docId, round(s, 9) AS score FROM scored
       |ORDER BY s DESC, docId LIMIT $k""".stripMargin
  }

  /** DuckDB oracle for phrase-prefix (Searcher.searchPhrasePrefix): the
    * engine's dictionary expansion rule is reproduced in SQL (df desc, term
    * asc, LIMIT cap — the q_bm25_prefix discipline, exact even when the cap
    * binds), then the multi-phrase contract runs with the expansion as the
    * final slot: adjacency over the slot-union occurrences, blended idf from
    * the expansion's max df, tf summed over expansion members, slot scores
    * summed in ascending slot-key order. Slot keys are data-dependent for
    * the prefix slot (they start with a completion of the prefix), so the
    * emitted sum order is decided by first characters — asserted distinct.
    */
  private def phrasePrefixOracleSql(tokens: Seq[String], cap: Int,
                                    k: Int): String = {
    val litTokens = tokens.init
    val prefix = tokens.last
    val distinctLits = litTokens.distinct.sorted
    // the engine sums slot scores in ascending live-member-key order; a
    // literal key vs the prefix slot's key (which starts with a completion
    // of `prefix`) is only statically orderable when first chars differ
    require((distinctLits :+ prefix).map(_.head).distinct.length ==
      distinctLits.length + 1,
      s"gate slots must differ in first char for a static sum order: $tokens")
    val ordered: Seq[Either[String, Unit]] =
      (distinctLits.map(Left(_): Either[String, Unit]) :+ Right(()))
        .sortBy { case Left(t) => t.head; case Right(_) => prefix.head }
    val (k1, b) = (1.2, 0.75)
    def litIn(ts: Seq[String]) = ts.map(t => s"'$t'").mkString(", ")
    val expPred = "tok IN (SELECT tok FROM expansion)"
    val allPred =
      (if (distinctLits.nonEmpty) s"tok IN (${litIn(distinctLits)}) OR " else "") +
        expPred
    def slotPred(i: Int): String =
      if (i == tokens.length - 1) expPred else s"tok = '${litTokens(i)}'"
    val adjJoins = (1 until tokens.length).map { j =>
      s"JOIN occ p$j ON p$j.docid = p0.docid AND p$j.ord = p0.ord + $j AND " +
        s"p$j.${slotPred(j)}"
    }.mkString("\n  ")
    val slotCtes = ordered.zipWithIndex.map {
      case (Left(t), i) =>
        s"""idf$i AS (SELECT ln(1.0 + ((SELECT n FROM stats) - max(df) + 0.5) /
           |  (max(df) + 0.5)) AS v FROM dfs WHERE tok = '$t'),
           |slot$i AS (SELECT docid, sum(tf) AS tfs FROM tfm
           |  WHERE tok = '$t' GROUP BY 1)""".stripMargin
      case (Right(_), i) =>
        s"""idf$i AS (SELECT ln(1.0 + ((SELECT n FROM stats) - max(df) + 0.5) /
           |  (max(df) + 0.5)) AS v FROM expansion),
           |slot$i AS (SELECT docid, sum(tf) AS tfs FROM tfm
           |  WHERE $expPred GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    val scoreSum = ordered.indices.map { i =>
      s"""((SELECT v FROM idf$i) *
         |  (CAST(slot$i.tfs AS DOUBLE) * CAST($k1 + 1.0 AS DOUBLE)) /
         |  (CAST(slot$i.tfs AS DOUBLE) + $k1 * (1.0 - $b + $b * (CAST(dlm.dlen AS DOUBLE) / (SELECT avgdl FROM stats)))))""".stripMargin
    }.mkString(" +\n")
    val slotJoins = ordered.indices
      .map(i => s"JOIN slot$i ON slot$i.docid = pdocs.docid").mkString("\n  ")
    s"""WITH $corpusCte,
       |ptoks AS (
       |  SELECT docid, unnest(regexp_extract_all(lower(content), '[a-z0-9_]+')) AS tok,
       |         generate_subscripts(regexp_extract_all(lower(content), '[a-z0-9_]+'), 1) AS ord
       |  FROM docs),
       |expansion AS MATERIALIZED (SELECT tok, count(*) AS df FROM tf
       |  WHERE starts_with(tok, '$prefix') GROUP BY 1
       |  ORDER BY count(*) DESC, tok LIMIT $cap),
       |occ AS MATERIALIZED (SELECT docid, ord, tok FROM ptoks
       |  WHERE $allPred),
       |pdocs AS (
       |  SELECT DISTINCT p0.docid FROM occ p0
       |  $adjJoins
       |  WHERE p0.${slotPred(0)}),
       |tfm AS MATERIALIZED (SELECT docid, tok, tf FROM tf
       |  WHERE $allPred),
       |dlm AS MATERIALIZED (SELECT docid, dlen FROM dl),
       |stats AS (SELECT (SELECT count(*) FROM docs) AS n,
       |  CAST((SELECT sum(dlen) FROM dlm) AS DOUBLE) / (SELECT count(*) FROM docs) AS avgdl),
       |dfs AS (SELECT tok, count(*) AS df FROM tfm GROUP BY 1),
       |$slotCtes,
       |scored AS (SELECT pdocs.docid AS docId, $scoreSum AS s
       |  FROM pdocs $slotJoins JOIN dlm ON dlm.docid = pdocs.docid)
       |SELECT docId, round(s, 9) AS score FROM scored
       |ORDER BY s DESC, docId LIMIT $k""".stripMargin
  }

  /** DuckDB oracle for `<multi-term leaf> OR <term>` boolean trees: the
    * leaf's dictionary expansion is reproduced in SQL (`expWhere` selects
    * the candidate tokens, `expOrder` is the engine's deterministic
    * expansion order, LIMIT cap — exact even when the cap binds), its OR
    * node folds per-doc scores in EXPANSION order (the rewritten tree's
    * child order — Searcher.rewriteBoolTree), and the outer OR adds the
    * plain term's contribution: coalesce-to-0.0 matches the engine's
    * skip-unmatched-children sum bit-exactly (0.0 + x = x in IEEE).
    */
  private def boolMultiTermOrOracleSql(expWhere: String, expOrder: String,
                                       orTerm: String, cap: Int,
                                       k: Int): String = {
    val (k1, b) = (1.2, 0.75)
    s"""WITH $corpusCte,
       |stats AS (SELECT (SELECT count(*) FROM docs) AS n,
       |  CAST((SELECT sum(dlen) FROM dl) AS DOUBLE) / (SELECT count(*) FROM docs) AS avgdl),
       |expansion AS (SELECT tok, count(*) AS df FROM tf
       |  WHERE $expWhere GROUP BY 1
       |  ORDER BY $expOrder LIMIT $cap),
       |es AS (SELECT tf.docid, tf.tok, e.df,
       |  ln(1.0 + ((SELECT n FROM stats) - e.df + 0.5) / (e.df + 0.5)) *
       |  (CAST(tf.tf AS DOUBLE) * CAST($k1 + 1.0 AS DOUBLE)) /
       |  (CAST(tf.tf AS DOUBLE) + $k1 * (1.0 - $b + $b * (CAST(dl.dlen AS DOUBLE) / (SELECT avgdl FROM stats)))) AS s
       |  FROM tf JOIN expansion e ON tf.tok = e.tok JOIN dl ON tf.docid = dl.docid),
       |eagg AS (SELECT docid,
       |  list_reduce(list(s ORDER BY df DESC, tok), (a, c) -> a + c) AS raw
       |  FROM es GROUP BY docid),
       |tdf AS (SELECT count(*) AS df FROM tf WHERE tok = '$orTerm'),
       |ts AS (SELECT tf.docid,
       |  ln(1.0 + ((SELECT n FROM stats) - (SELECT df FROM tdf) + 0.5) / ((SELECT df FROM tdf) + 0.5)) *
       |  (CAST(tf.tf AS DOUBLE) * CAST($k1 + 1.0 AS DOUBLE)) /
       |  (CAST(tf.tf AS DOUBLE) + $k1 * (1.0 - $b + $b * (CAST(dl.dlen AS DOUBLE) / (SELECT avgdl FROM stats)))) AS s
       |  FROM tf JOIN dl ON tf.docid = dl.docid WHERE tf.tok = '$orTerm'),
       |merged AS (SELECT coalesce(eagg.docid, ts.docid) AS docId,
       |  coalesce(eagg.raw, 0.0) + coalesce(ts.s, 0.0) AS s
       |  FROM eagg FULL OUTER JOIN ts ON eagg.docid = ts.docid)
       |SELECT docId, round(s, 9) AS score FROM merged
       |ORDER BY s DESC, docId LIMIT $k""".stripMargin
  }

  private def phraseOracleSql(phraseTokens: Seq[String], k: Int,
                              maxEnd: Int = Int.MaxValue,
                              exclude: Option[(String, Int, Int)] = None): String = {
    val terms = phraseTokens.distinct.sorted
    // span-not (Lucene SpanNotQuery): an occurrence starting at p0.ord
    // spans ords [p0.ord, p0.ord + m - 1]; it is dropped when the exclude
    // term occurs in [p0.ord - pre, p0.ord + m - 1 + post] (same window
    // arithmetic as the engine's span chain walk, shift-invariant so 1-based
    // SQL ords need no adjustment)
    val exBound = exclude.map { case (ex, pre, post) =>
      s""" AND NOT EXISTS (SELECT 1 FROM ptoks x
         |    WHERE x.docid = p0.docid AND x.tok = '$ex'
         |      AND x.ord >= p0.ord - $pre
         |      AND x.ord <= p0.ord + ${phraseTokens.length - 1} + $post)""".stripMargin
    }.getOrElse("")
    // span-first bound: engine positions are 0-based with exclusive end;
    // ptoks.ord is 1-based, so an m-token occurrence starting at p0.ord ends
    // (exclusive, 0-based) at p0.ord + m - 1 — that must be <= maxEnd
    val spanBound =
      if (maxEnd == Int.MaxValue) ""
      else s" AND p0.ord + ${phraseTokens.length - 1} <= $maxEnd"
    val (k1, b) = (1.2, 0.75)
    val termScores = terms.zipWithIndex.map { case (t, i) =>
      s"sum(CASE WHEN s.tok = '$t' THEN s.s END) AS s_$i"
    }.mkString(",\n  ")
    val scoreSum = terms.indices.map(i => s"s_$i").mkString(" + ")
    val adjJoins = phraseTokens.zipWithIndex.drop(1).map { case (t, j) =>
      s"JOIN ptoks p$j ON p$j.docid = p0.docid AND p$j.ord = p0.ord + $j AND p$j.tok = '$t'"
    }.mkString("\n  ")
    s"""WITH $corpusCte,
       |ptoks AS (
       |  SELECT docid, unnest(regexp_extract_all(lower(content), '[a-z0-9_]+')) AS tok,
       |         generate_subscripts(regexp_extract_all(lower(content), '[a-z0-9_]+'), 1) AS ord
       |  FROM docs),
       |pdocs AS (
       |  SELECT DISTINCT p0.docid FROM ptoks p0
       |  $adjJoins
       |  WHERE p0.tok = '${phraseTokens.head}'$spanBound$exBound),
       |stats AS (SELECT (SELECT count(*) FROM docs) AS n,
       |  CAST((SELECT sum(dlen) FROM dl) AS DOUBLE) / (SELECT count(*) FROM docs) AS avgdl),
       |dfs AS (SELECT tok, count(*) AS df FROM tf
       |  WHERE tok IN (${terms.map(t => s"'$t'").mkString(", ")}) GROUP BY 1),
       |s AS (SELECT tf.docid, tf.tok,
       |  ln(1.0 + ((SELECT n FROM stats) - dfs.df + 0.5) / (dfs.df + 0.5)) *
       |  (CAST(tf.tf AS DOUBLE) * CAST($k1 + 1.0 AS DOUBLE)) /
       |  (CAST(tf.tf AS DOUBLE) + $k1 * (1.0 - $b + $b * (CAST(dl.dlen AS DOUBLE) / (SELECT avgdl FROM stats)))) AS s
       |  FROM tf JOIN dfs ON tf.tok = dfs.tok JOIN dl ON tf.docid = dl.docid),
       |agg AS (SELECT docid, count(*) AS nt, $termScores
       |  FROM s GROUP BY docid HAVING count(*) = ${terms.length})
       |SELECT agg.docid AS docId, round($scoreSum, 9) AS score
       |FROM agg JOIN pdocs ON agg.docid = pdocs.docid
       |ORDER BY $scoreSum DESC, docId LIMIT $k""".stripMargin
  }

  /** Proximity-query oracle: exact MIN-COVER via window functions — for each
    * occurrence of any query term at ordinal `ord`, the smallest cover ENDING
    * there spans from the least of the per-term running "last occurrence ≤
    * ord" maxima to `ord`; a doc matches when some such cover fits the
    * window — then the q_bm25_topk conjunctive BM25 restricted to covering
    * docs (scores bit-exact: identical term set, ascending-term sum order).
    * Matches `Searcher.searchNear` / `OracleBm25.topKNear`.
    */
  private def nearOracleSql(query: String, window: Int, k: Int): String = {
    val terms = query.split(" ").distinct.sorted
    val (k1, b) = (1.2, 0.75)
    val termScores = terms.zipWithIndex.map { case (t, i) =>
      s"sum(CASE WHEN s.tok = '$t' THEN s.s END) AS s_$i"
    }.mkString(",\n  ")
    val scoreSum = terms.indices.map(i => s"s_$i").mkString(" + ")
    val lastCols = terms.zipWithIndex.map { case (t, i) =>
      s"max(CASE WHEN tok = '$t' THEN ord END) OVER w AS l_$i"
    }.mkString(",\n  ")
    val allSeen = terms.indices.map(i => s"l_$i IS NOT NULL").mkString(" AND ")
    val minLast =
      if (terms.length == 1) "l_0"
      else terms.indices.map(i => s"l_$i").mkString("least(", ", ", ")")
    s"""WITH $corpusCte,
       |ptoks AS (
       |  SELECT docid, unnest(regexp_extract_all(lower(content), '[a-z0-9_]+')) AS tok,
       |         generate_subscripts(regexp_extract_all(lower(content), '[a-z0-9_]+'), 1) AS ord
       |  FROM docs),
       |occ AS (SELECT docid, ord, tok FROM ptoks
       |  WHERE tok IN (${terms.map(t => s"'$t'").mkString(", ")})),
       |filled AS (SELECT docid, ord, $lastCols FROM occ
       |  WINDOW w AS (PARTITION BY docid ORDER BY ord ROWS UNBOUNDED PRECEDING)),
       |ndocs AS (SELECT DISTINCT docid FROM filled
       |  WHERE $allSeen AND ord - $minLast + 1 <= $window),
       |stats AS (SELECT (SELECT count(*) FROM docs) AS n,
       |  CAST((SELECT sum(dlen) FROM dl) AS DOUBLE) / (SELECT count(*) FROM docs) AS avgdl),
       |dfs AS (SELECT tok, count(*) AS df FROM tf
       |  WHERE tok IN (${terms.map(t => s"'$t'").mkString(", ")}) GROUP BY 1),
       |s AS (SELECT tf.docid, tf.tok,
       |  ln(1.0 + ((SELECT n FROM stats) - dfs.df + 0.5) / (dfs.df + 0.5)) *
       |  (CAST(tf.tf AS DOUBLE) * CAST($k1 + 1.0 AS DOUBLE)) /
       |  (CAST(tf.tf AS DOUBLE) + $k1 * (1.0 - $b + $b * (CAST(dl.dlen AS DOUBLE) / (SELECT avgdl FROM stats)))) AS s
       |  FROM tf JOIN dfs ON tf.tok = dfs.tok JOIN dl ON tf.docid = dl.docid),
       |agg AS (SELECT docid, count(*) AS nt, $termScores
       |  FROM s GROUP BY docid HAVING count(*) = ${terms.length})
       |SELECT agg.docid AS docId, round($scoreSum, 9) AS score
       |FROM agg JOIN ndocs ON agg.docid = ndocs.docid
       |ORDER BY $scoreSum DESC, docId LIMIT $k""".stripMargin
  }

  /** Ordered-proximity (inOrder SpanNear) oracle: per query SLOT an
    * occurrence table, joined into a literal strictly-increasing chain in
    * query order with the span bound on the ends — existence of ANY chain
    * is equivalent to the engine's greedy sweep. Survivors score the
    * standard conjunctive BM25 (same expression as nearOracleSql).
    */
  private def nearOrderedOracleSql(query: String, window: Int, k: Int): String = {
    val seq = query.split(" ").toSeq
    val terms = seq.distinct.sorted
    val (k1, b) = (1.2, 0.75)
    val termScores = terms.zipWithIndex.map { case (t, i) =>
      s"sum(CASE WHEN s.tok = '$t' THEN s.s END) AS s_$i"
    }.mkString(",\n  ")
    val scoreSum = terms.indices.map(i => s"s_$i").mkString(" + ")
    val occCtes = seq.zipWithIndex.map { case (t, i) =>
      s"o$i AS (SELECT docid, ord FROM ptoks WHERE tok = '$t')"
    }.mkString(",\n")
    val joins = (1 until seq.length).map { i =>
      s"JOIN o$i ON o$i.docid = o0.docid AND o$i.ord > o${i - 1}.ord"
    }.mkString("\n  ")
    val last = s"o${seq.length - 1}.ord"
    s"""WITH $corpusCte,
       |ptoks AS (
       |  SELECT docid, unnest(regexp_extract_all(lower(content), '[a-z0-9_]+')) AS tok,
       |         generate_subscripts(regexp_extract_all(lower(content), '[a-z0-9_]+'), 1) AS ord
       |  FROM docs),
       |$occCtes,
       |ndocs AS (SELECT DISTINCT o0.docid FROM o0
       |  $joins
       |  WHERE $last - o0.ord + 1 <= $window),
       |stats AS (SELECT (SELECT count(*) FROM docs) AS n,
       |  CAST((SELECT sum(dlen) FROM dl) AS DOUBLE) / (SELECT count(*) FROM docs) AS avgdl),
       |dfs AS (SELECT tok, count(*) AS df FROM tf
       |  WHERE tok IN (${terms.map(t => s"'$t'").mkString(", ")}) GROUP BY 1),
       |s AS (SELECT tf.docid, tf.tok,
       |  ln(1.0 + ((SELECT n FROM stats) - dfs.df + 0.5) / (dfs.df + 0.5)) *
       |  (CAST(tf.tf AS DOUBLE) * CAST($k1 + 1.0 AS DOUBLE)) /
       |  (CAST(tf.tf AS DOUBLE) + $k1 * (1.0 - $b + $b * (CAST(dl.dlen AS DOUBLE) / (SELECT avgdl FROM stats)))) AS s
       |  FROM tf JOIN dfs ON tf.tok = dfs.tok JOIN dl ON tf.docid = dl.docid),
       |agg AS (SELECT docid, count(*) AS nt, $termScores
       |  FROM s GROUP BY docid HAVING count(*) = ${terms.length})
       |SELECT agg.docid AS docId, round($scoreSum, 9) AS score
       |FROM agg JOIN ndocs ON agg.docid = ndocs.docid
       |ORDER BY $scoreSum DESC, docId LIMIT $k""".stripMargin
  }

  /** Exact cosine top-5 for query vectors vec_id < 3 — the oracle for both
    * the brute-force ANN gate and the full-probe IVF gate.
    */
  private val annTop5OracleSql =
    """WITH scored AS (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |  (SELECT sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) FROM (SELECT unnest(q.embedding) AS x, unnest(c.embedding) AS y)) /
      |  (sqrt((SELECT sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) FROM (SELECT unnest(q.embedding) AS x))) *
      |   sqrt((SELECT sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) FROM (SELECT unnest(c.embedding) AS y)))) AS cos
      |  FROM embeddings q JOIN embeddings c ON q.vec_id < 3 AND q.vec_id <> c.vec_id),
      |ranked AS (SELECT query_id, neighbor_id, cos,
      |  row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
      |  FROM scored)
      |SELECT query_id, neighbor_id, round(cos, 6) AS cos, CAST(rank AS INT) AS rank
      |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** Batched-search oracle: UNION ALL of per-query conjunctive BM25 top-k,
    * each scored with the identical ascending-term sum order as the Spark
    * kernel (bit-exact, same as q_bm25_topk) plus a per-query rank column.
    */
  private def batchOracleSql(queries: Seq[(String, String, Int)]): String = {
    val (k1, b) = (1.2, 0.75)
    val allTerms = queries.flatMap(_._2.split(" ")).distinct.sorted
    val perQuery = queries.map { case (name, q, k) =>
      val terms = q.split(" ").distinct.sorted
      val termScores = terms.zipWithIndex.map { case (t, i) =>
        s"sum(CASE WHEN s.tok = '$t' THEN s.s END) AS s_$i"
      }.mkString(", ")
      val scoreSum = terms.indices.map(i => s"s_$i").mkString(" + ")
      val cte =
        s"""agg_$name AS (SELECT docid, $termScores
           |  FROM s WHERE s.tok IN (${terms.map(t => s"'$t'").mkString(", ")})
           |  GROUP BY docid HAVING count(*) = ${terms.length}),
           |top_$name AS (SELECT * FROM (
           |  SELECT '$name' AS query_name, docid, $scoreSum AS raw,
           |         CAST(row_number() OVER (ORDER BY $scoreSum DESC, docid) AS INT) AS rank
           |  FROM agg_$name) WHERE rank <= $k)""".stripMargin
      (cte, s"SELECT * FROM top_$name")
    }
    s"""WITH $corpusCte,
       |stats AS (SELECT (SELECT count(*) FROM docs) AS n,
       |  CAST((SELECT sum(dlen) FROM dl) AS DOUBLE) / (SELECT count(*) FROM docs) AS avgdl),
       |dfs AS (SELECT tok, count(*) AS df FROM tf
       |  WHERE tok IN (${allTerms.map(t => s"'$t'").mkString(", ")}) GROUP BY 1),
       |s AS (SELECT tf.docid, tf.tok,
       |  ln(1.0 + ((SELECT n FROM stats) - dfs.df + 0.5) / (dfs.df + 0.5)) *
       |  (CAST(tf.tf AS DOUBLE) * CAST($k1 + 1.0 AS DOUBLE)) /
       |  (CAST(tf.tf AS DOUBLE) + $k1 * (1.0 - $b + $b * (CAST(dl.dlen AS DOUBLE) / (SELECT avgdl FROM stats)))) AS s
       |  FROM tf JOIN dfs ON tf.tok = dfs.tok JOIN dl ON tf.docid = dl.docid),
       |${perQuery.map(_._1).mkString(",\n")}
       |SELECT query_name, docid AS docId, round(raw, 9) AS score, rank
       |FROM (${perQuery.map(_._2).mkString(" UNION ALL ")})
       |ORDER BY query_name, rank""".stripMargin
  }

  /** Tokenized corpus CTE shared by the index oracles (identical semantics
    * to graft.index.Tokenize).
    */
  private def corpusCte: String =
    s"""docs AS (
       |  SELECT row_number() OVER (ORDER BY repo, path, "commit") - 1 AS docid,
       |         repo, path, "commit", lang, content
       |  FROM read_parquet('$FilesGlob')),
       |toks AS (
       |  SELECT docid, unnest(regexp_extract_all(lower(content), '[a-z0-9_]+')) AS tok
       |  FROM docs),
       |tf AS (SELECT docid, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
       |dl AS (SELECT docid, sum(tf) AS dlen FROM tf GROUP BY 1)""".stripMargin

  /** B^e mod 2^64 for the winnow Karp–Rabin oracle, e = 0..24, as unsigned
    * decimal literals — computed with the SAME Long wraparound arithmetic
    * the engine's rolling hash uses (TextAnalysis.winnow), so the DuckDB
    * HUGEINT polynomial `sum(ord(char) * B^(k-1-j)) mod 2^64` reproduces
    * every fingerprint value bit-identically (the rolling recurrence IS the
    * direct polynomial in mod-2^64 arithmetic).
    */
  private val winnowPowers: Seq[String] =
    (1 until 25).scanLeft(1L)((a, _) => a * 1000003L)
      .map(java.lang.Long.toUnsignedString)

  /** Shared CTE chain recomputing TextAnalysis.winnowFingerprints(k=25,w=16)
    * in DuckDB: normalized text → per-gram Karp–Rabin hash (HUGEINT mod
    * 2^64, converted to signed to match the engine's Long comparisons) →
    * rightmost-window-min selection (struct-min with (h asc, pos desc)
    * tiebreak via negated pos) → distinct selected positions. The
    * `ngrams <= w` branch mirrors the engine's single-window special case.
    */
  private def winnowCtes: String = {
    val pwVals = winnowPowers.zipWithIndex
      .map { case (p, e) => s"($e, CAST('$p' AS HUGEINT))" }.mkString(", ")
    s"""pw(e, p) AS (VALUES $pwVals),
       |nm AS (SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS s FROM documents),
       |grams AS (
       |  SELECT doc_id, i.i AS pos,
       |    sum(CAST(ord(substr(nm.s, i.i + j.j + 1, 1)) AS HUGEINT) * pw.p) % CAST('18446744073709551616' AS HUGEINT) AS hu
       |  FROM nm,
       |       LATERAL (SELECT unnest(range(0, length(nm.s) - 24)) AS i) i,
       |       (SELECT unnest(range(0, 25)) AS j) j
       |  JOIN pw ON pw.e = 24 - j.j
       |  WHERE length(nm.s) >= 25
       |  GROUP BY doc_id, i.i),
       |win AS (
       |  SELECT doc_id, pos,
       |    CASE WHEN hu >= CAST('9223372036854775808' AS HUGEINT)
       |         THEN CAST(hu - CAST('18446744073709551616' AS HUGEINT) AS BIGINT)
       |         ELSE CAST(hu AS BIGINT) END AS h,
       |    count(*) OVER (PARTITION BY doc_id) AS ngrams
       |  FROM grams),
       |slid AS (
       |  SELECT doc_id, pos, ngrams,
       |    min(struct_pack(h := h, np := -pos)) OVER
       |      (PARTITION BY doc_id ORDER BY pos ROWS BETWEEN CURRENT ROW AND 15 FOLLOWING) AS m
       |  FROM win)""".stripMargin
  }

  /** CTE chain recomputing Similarity.lshCode bucket codes with Md5Planes in
    * DuckDB: plane components from the md5-60-bit prefix of "plane_dim"
    * (cast to double — correctly rounded identically on both engines), the
    * projection as an ORDERED left fold over dims (list_reduce matches the
    * engine's `aggregate` fold exactly, so the sign decisions agree
    * bit-for-bit; measured min |proj| on the fixture ≈ 8e-6, nine orders
    * above fold-order noise), code = OR of sign bits.
    */
  private def lshCodesCtes(numTables: Int, numPlanes: Int): String =
    s"""pl AS (SELECT t.t, p.p, d.d,
       |  CAST(CAST('0x' || substr(md5((t.t*1024 + p.p) || '_' || d.d), 1, 15) AS BIGINT) AS DOUBLE) / 576460752303423488.0 - 1.0 AS comp
       |  FROM range(0,$numTables) t(t), range(0,$numPlanes) p(p), range(0,64) d(d)),
       |prj AS (SELECT e.vec_id, pl.t, pl.p,
       |  list_reduce(list(CAST(e.embedding[pl.d+1] AS DOUBLE) * pl.comp ORDER BY pl.d), (a,b) -> a + b) AS proj
       |  FROM embeddings e JOIN pl ON pl.d < len(e.embedding) GROUP BY e.vec_id, pl.t, pl.p),
       |codes AS (SELECT vec_id, t, CAST(sum(CASE WHEN proj >= 0 THEN (CAST(1 AS BIGINT) << p) ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS code
       |  FROM prj GROUP BY vec_id, t),
       |v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv FROM embeddings)""".stripMargin

  /** Exact cosine between the pre-cast double vectors of the `v` CTE. */
  private val lshCosSql: String =
    """(SELECT sum(x * y) FROM (SELECT unnest(a.cv) AS x, unnest(b.cv) AS y)) /
      | (sqrt((SELECT sum(x * x) FROM (SELECT unnest(a.cv) AS x))) *
      |  sqrt((SELECT sum(y * y) FROM (SELECT unnest(b.cv) AS y))))""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "q_scan_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |WHERE l_shipdate < TIMESTAMP '1997-01-01' AND l_quantity < 5
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q_key_concat" ->
      """SELECT concat_ws(',', c_mktsegment, CAST(c_nationkey AS VARCHAR)) AS joined_key,
        |count(*) AS n FROM customer GROUP BY 1 ORDER BY joined_key""".stripMargin,

    "q_membership_filter" ->
      """SELECT count(*) AS n_rows, sum(l_quantity) AS sum_qty FROM lineitem
        |WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_size < 10)""".stripMargin,

    "q_row_filter_anti" ->
      """SELECT count(*) AS n FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)""".stripMargin,

    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |sum(l_quantity) AS sum_qty, round(sum(l_extendedprice), 4) AS sum_price
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_agg_stats" ->
      """SELECT event_type, count(*) AS n,
        |round(avg(value), 6) AS mean_v,
        |round(stddev_samp(value), 6) AS sd_v,
        |round(quantile_cont(value, 0.5), 6) AS p50_v,
        |round(quantile_cont(value, 0.95), 6) AS p95_v
        |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin,

    "q_keyinfo" ->
      """SELECT o_custkey AS key, min(o_orderkey) AS start_idx,
        |count(*) - 1 AS dup_cnt FROM orders GROUP BY 1 ORDER BY key""".stripMargin,

    "q_dup_check" ->
      """SELECT o_custkey AS key, count(*) AS n FROM orders
        |GROUP BY 1 HAVING count(*) > 1 ORDER BY key""".stripMargin,

    "q_rolling_digest" ->
      """SELECT sha256(string_agg(CAST(o_orderkey AS VARCHAR), ',' ORDER BY o_orderkey)) AS digest
        |FROM orders""".stripMargin,

    "q_stat_info" ->
      """SELECT (SELECT count(*) FROM customer) AS original_count,
        |(SELECT count(*) FROM customer WHERE c_custkey IN (SELECT o_custkey FROM orders)) AS intersection_count,
        |(SELECT count(DISTINCT c_custkey) FROM customer) AS original_unique,
        |(SELECT count(DISTINCT c_custkey) FROM customer WHERE c_custkey IN (SELECT o_custkey FROM orders)) AS intersection_unique""".stripMargin,

    "q_join_inner_dup" ->
      """SELECT a.key AS key, count(*) AS n_pairs FROM
        |(SELECT o_custkey AS key FROM orders WHERE o_orderstatus = 'O') a
        |JOIN (SELECT o_custkey AS key FROM orders WHERE o_orderstatus = 'F') b
        |ON a.key = b.key GROUP BY 1 ORDER BY key""".stripMargin,

    "q_join_left_pad" ->
      """SELECT c.c_custkey, coalesce(b.best_priority, 'NULL') AS best_priority
        |FROM customer c LEFT JOIN
        |(SELECT o_custkey, max(o_orderpriority) AS best_priority FROM orders GROUP BY 1) b
        |ON c.c_custkey = b.o_custkey ORDER BY c.c_custkey""".stripMargin,

    "q_join_full_diff" ->
      """SELECT coalesce(a.key, b.key) AS key,
        |coalesce(a.from_a, 'NULL') AS from_a, coalesce(b.from_b, 'NULL') AS from_b
        |FROM (SELECT DISTINCT c_custkey AS key, 'A' AS from_a FROM customer WHERE c_acctbal < 0) a
        |FULL JOIN (SELECT DISTINCT o_custkey AS key, 'B' AS from_b FROM orders WHERE o_totalprice > 150000) b
        |ON a.key = b.key
        |WHERE a.key IS NULL OR b.key IS NULL ORDER BY key""".stripMargin,

    "q_psi_indices" ->
      """SELECT c.c_custkey AS psi_index, o.cnt - 1 AS psi_peer_cnt FROM customer c
        |JOIN (SELECT o_custkey, count(*) AS cnt FROM orders GROUP BY 1) o
        |ON c.c_custkey = o.o_custkey ORDER BY psi_index""".stripMargin,

    "q_dup_expand" ->
      """SELECT key, unnest(generate_series(0, dup_cnt)) AS i FROM
        |(SELECT o_custkey AS key, count(*) - 1 AS dup_cnt FROM orders
        | WHERE o_custkey < 50 GROUP BY 1) ORDER BY key, i""".stripMargin,

    "q_threshold" ->
      """SELECT DISTINCT c_custkey AS key FROM customer
        |WHERE c_custkey IN (SELECT o_custkey FROM orders)
        |ORDER BY key LIMIT 100""".stripMargin,

    "q_kv_convert" ->
      """SELECT o_custkey AS key,
        |string_agg(o_orderstatus || chr(30) || o_orderpriority, chr(31)
        |  ORDER BY o_orderstatus || chr(30) || o_orderpriority) AS value,
        |count(*) AS key_count
        |FROM orders WHERE o_custkey <= 200 GROUP BY 1 ORDER BY key""".stripMargin,

    "q_kv_roundtrip" ->
      """SELECT o_custkey, o_orderstatus, o_orderpriority FROM orders
        |WHERE o_custkey <= 200 ORDER BY 1, 2, 3""".stripMargin,

    "q_multikey_sort" ->
      """SELECT l_returnflag, l_linestatus, l_orderkey, l_linenumber FROM lineitem
        |ORDER BY 1, 2, 3, 4 LIMIT 50""".stripMargin,

    "q_topk" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 25""".stripMargin,

    "q_set_intersect" ->
      """SELECT c_custkey AS key FROM customer
        |INTERSECT SELECT o_custkey FROM orders ORDER BY key""".stripMargin,

    "q_set_except" ->
      """SELECT c_custkey AS key FROM customer
        |EXCEPT SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        |ORDER BY key""".stripMargin,

    "q_multiparty_intersect" ->
      """SELECT DISTINCT c_custkey AS key FROM customer
        |WHERE c_custkey IN (SELECT o_custkey FROM orders)
        |AND c_custkey IN (SELECT c_custkey FROM customer WHERE c_nationkey < 12)
        |ORDER BY key""".stripMargin,

    "q_scalar_hash" ->
      """SELECT c_custkey, sha256(c_name) AS sha, base64(encode(c_name)) AS b64
        |FROM customer WHERE c_custkey <= 100 ORDER BY c_custkey""".stripMargin,

    "q_hash_partitioner" ->
      """SELECT count(DISTINCT hash(o_orderkey) % 64) AS n_buckets FROM orders""".stripMargin,

    "q_window_rank" ->
      """SELECT c_nationkey, c_custkey, rn FROM
        |(SELECT c_nationkey, c_custkey,
        |  row_number() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS rn
        | FROM customer) WHERE rn <= 3 ORDER BY c_nationkey, rn""".stripMargin,

    "q_docid_assign" ->
      s"""WITH $corpusCte
         |SELECT d.docid AS "docId", d.repo, d.path, d."commit" AS "commit",
         |CAST(dl.dlen AS INT) AS dlen
         |FROM docs d JOIN dl ON d.docid = dl.docid
         |WHERE d.docid % 37 = 0 ORDER BY d.docid""".stripMargin,

    "q_dict_topdf" ->
      // CAST(sum(...) AS BIGINT): DuckDB's sum over BIGINT widens to
      // HUGEINT (int128), which the driver's pandas bridge reads as float64
      // — numerically equal to Spark's int64 cf but hash-UNEQUAL. This type
      // coercion (not a fixture race) was the r01 q_dict_topdf failure.
      s"""WITH $corpusCte
         |SELECT tok AS term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS cf FROM tf
         |GROUP BY 1 ORDER BY df DESC, term LIMIT 50""".stripMargin,

    "q_postings_roundtrip" ->
      s"""WITH $corpusCte
         |SELECT tok AS term, docid AS docId, CAST(tf AS INT) AS tf FROM tf
         |WHERE tok IN (${RoundtripTerms.map(t => s"'$t'").mkString(", ")})
         |ORDER BY term, docId""".stripMargin,

    "q_bm25_topk" -> {
      val terms = Bm25Query.split(" ").distinct.sorted
      val (k1, b) = (1.2, 0.75)
      val termScores = terms.zipWithIndex.map { case (t, i) =>
        s"""sum(CASE WHEN s.tok = '$t' THEN s.s END) AS s_$i"""
      }.mkString(",\n  ")
      val scoreSum = terms.indices.map(i => s"s_$i").mkString(" + ")
      s"""WITH $corpusCte,
         |stats AS (SELECT (SELECT count(*) FROM docs) AS n,
         |  CAST((SELECT sum(dlen) FROM dl) AS DOUBLE) / (SELECT count(*) FROM docs) AS avgdl),
         |dfs AS (SELECT tok, count(*) AS df FROM tf
         |  WHERE tok IN (${terms.map(t => s"'$t'").mkString(", ")}) GROUP BY 1),
         |s AS (SELECT tf.docid, tf.tok,
         |  ln(1.0 + ((SELECT n FROM stats) - dfs.df + 0.5) / (dfs.df + 0.5)) *
         |  (CAST(tf.tf AS DOUBLE) * CAST($k1 + 1.0 AS DOUBLE)) /
         |  (CAST(tf.tf AS DOUBLE) + $k1 * (1.0 - $b + $b * (CAST(dl.dlen AS DOUBLE) / (SELECT avgdl FROM stats)))) AS s
         |  FROM tf JOIN dfs ON tf.tok = dfs.tok JOIN dl ON tf.docid = dl.docid),
         |agg AS (SELECT docid, count(*) AS nt, $termScores
         |  FROM s GROUP BY docid HAVING count(*) = ${terms.length})
         |SELECT docid AS docId, round($scoreSum, 9) AS score FROM agg
         |ORDER BY $scoreSum DESC, docId LIMIT 10""".stripMargin
    },

    // Lucene-semantics deletion oracle: identical full-corpus statistics
    // and per-term scores as q_bm25_topk, deleted docids (docid % 7 = 0)
    // filtered out of the FINAL ranking only
    "q_bm25_deleted" -> {
      val terms = Bm25Query.split(" ").distinct.sorted
      val (k1, b) = (1.2, 0.75)
      val termScores = terms.zipWithIndex.map { case (t, i) =>
        s"""sum(CASE WHEN s.tok = '$t' THEN s.s END) AS s_$i"""
      }.mkString(",\n  ")
      val scoreSum = terms.indices.map(i => s"s_$i").mkString(" + ")
      s"""WITH $corpusCte,
         |stats AS (SELECT (SELECT count(*) FROM docs) AS n,
         |  CAST((SELECT sum(dlen) FROM dl) AS DOUBLE) / (SELECT count(*) FROM docs) AS avgdl),
         |dfs AS (SELECT tok, count(*) AS df FROM tf
         |  WHERE tok IN (${terms.map(t => s"'$t'").mkString(", ")}) GROUP BY 1),
         |s AS (SELECT tf.docid, tf.tok,
         |  ln(1.0 + ((SELECT n FROM stats) - dfs.df + 0.5) / (dfs.df + 0.5)) *
         |  (CAST(tf.tf AS DOUBLE) * CAST($k1 + 1.0 AS DOUBLE)) /
         |  (CAST(tf.tf AS DOUBLE) + $k1 * (1.0 - $b + $b * (CAST(dl.dlen AS DOUBLE) / (SELECT avgdl FROM stats)))) AS s
         |  FROM tf JOIN dfs ON tf.tok = dfs.tok JOIN dl ON tf.docid = dl.docid),
         |agg AS (SELECT docid, count(*) AS nt, $termScores
         |  FROM s GROUP BY docid HAVING count(*) = ${terms.length})
         |SELECT docid AS docId, round($scoreSum, 9) AS score FROM agg
         |WHERE docid % 7 <> 0
         |ORDER BY $scoreSum DESC, docId LIMIT 10""".stripMargin
    },

    // NOT-query oracle: identical full-corpus statistics and per-term scores
    // as q_bm25_topk, docs containing the live negative term dropped from
    // the candidate set (the absent negative term excludes nothing)
    "q_bm25_not" -> {
      val terms = Bm25Query.split(" ").distinct.sorted
      val (k1, b) = (1.2, 0.75)
      val termScores = terms.zipWithIndex.map { case (t, i) =>
        s"""sum(CASE WHEN s.tok = '$t' THEN s.s END) AS s_$i"""
      }.mkString(",\n  ")
      val scoreSum = terms.indices.map(i => s"s_$i").mkString(" + ")
      s"""WITH $corpusCte,
         |stats AS (SELECT (SELECT count(*) FROM docs) AS n,
         |  CAST((SELECT sum(dlen) FROM dl) AS DOUBLE) / (SELECT count(*) FROM docs) AS avgdl),
         |dfs AS (SELECT tok, count(*) AS df FROM tf
         |  WHERE tok IN (${terms.map(t => s"'$t'").mkString(", ")}) GROUP BY 1),
         |s AS (SELECT tf.docid, tf.tok,
         |  ln(1.0 + ((SELECT n FROM stats) - dfs.df + 0.5) / (dfs.df + 0.5)) *
         |  (CAST(tf.tf AS DOUBLE) * CAST($k1 + 1.0 AS DOUBLE)) /
         |  (CAST(tf.tf AS DOUBLE) + $k1 * (1.0 - $b + $b * (CAST(dl.dlen AS DOUBLE) / (SELECT avgdl FROM stats)))) AS s
         |  FROM tf JOIN dfs ON tf.tok = dfs.tok JOIN dl ON tf.docid = dl.docid),
         |agg AS (SELECT docid, count(*) AS nt, $termScores
         |  FROM s GROUP BY docid HAVING count(*) = ${terms.length})
         |SELECT docid AS docId, round($scoreSum, 9) AS score FROM agg
         |WHERE docid NOT IN (SELECT docid FROM tf WHERE tok IN ('val', 'zzqx_nothing'))
         |ORDER BY $scoreSum DESC, docId LIMIT 10""".stripMargin
    },

    "q_bm25_or" -> {
      val terms = s"$Bm25Query zzqx_nothing".split(" ").distinct.sorted
      val (k1, b) = (1.2, 0.75)
      val termScores = terms.zipWithIndex.map { case (t, i) =>
        s"""sum(CASE WHEN s.tok = '$t' THEN s.s END) AS s_$i"""
      }.mkString(",\n  ")
      // summing in ascending-term order with coalesce(…, 0): adding the
      // additive identity preserves bit-exactness for finite positive scores
      val scoreSum = terms.indices.map(i => s"coalesce(s_$i, 0.0)").mkString(" + ")
      s"""WITH $corpusCte,
         |stats AS (SELECT (SELECT count(*) FROM docs) AS n,
         |  CAST((SELECT sum(dlen) FROM dl) AS DOUBLE) / (SELECT count(*) FROM docs) AS avgdl),
         |dfs AS (SELECT tok, count(*) AS df FROM tf
         |  WHERE tok IN (${terms.map(t => s"'$t'").mkString(", ")}) GROUP BY 1),
         |s AS (SELECT tf.docid, tf.tok,
         |  ln(1.0 + ((SELECT n FROM stats) - dfs.df + 0.5) / (dfs.df + 0.5)) *
         |  (CAST(tf.tf AS DOUBLE) * CAST($k1 + 1.0 AS DOUBLE)) /
         |  (CAST(tf.tf AS DOUBLE) + $k1 * (1.0 - $b + $b * (CAST(dl.dlen AS DOUBLE) / (SELECT avgdl FROM stats)))) AS s
         |  FROM tf JOIN dfs ON tf.tok = dfs.tok JOIN dl ON tf.docid = dl.docid),
         |agg AS (SELECT docid, $termScores FROM s GROUP BY docid)
         |SELECT docid AS docId, round($scoreSum, 9) AS score FROM agg
         |ORDER BY $scoreSum DESC, docId LIMIT 10""".stripMargin
    },

    // boolean-tree oracle for `(util_7 def) OR (util_3 val)`: per-term
    // scores as in q_bm25_topk; the match predicate and the clause-sum
    // mirror the engine's depth-first evaluation order EXACTLY — each
    // conjunctive clause sums its terms in child order, the OR sums its
    // MATCHED clauses left to right (an unmatched clause contributes the
    // additive identity 0.0, bit-exact for finite positive scores)
    "q_bm25_bool" -> {
      val terms = Seq("util_7", "def", "util_3", "val")
      val (k1, b) = (1.2, 0.75)
      val termScores = terms.map { t =>
        s"""sum(CASE WHEN s.tok = '$t' THEN s.s END) AS s_$t"""
      }.mkString(",\n  ")
      val c1 = "s_util_7 IS NOT NULL AND s_def IS NOT NULL"
      val c2 = "s_util_3 IS NOT NULL AND s_val IS NOT NULL"
      val scoreSum = s"(CASE WHEN $c1 THEN s_util_7 + s_def ELSE 0.0 END) + " +
        s"(CASE WHEN $c2 THEN s_util_3 + s_val ELSE 0.0 END)"
      s"""WITH $corpusCte,
         |stats AS (SELECT (SELECT count(*) FROM docs) AS n,
         |  CAST((SELECT sum(dlen) FROM dl) AS DOUBLE) / (SELECT count(*) FROM docs) AS avgdl),
         |dfs AS (SELECT tok, count(*) AS df FROM tf
         |  WHERE tok IN (${terms.map(t => s"'$t'").mkString(", ")}) GROUP BY 1),
         |s AS (SELECT tf.docid, tf.tok,
         |  ln(1.0 + ((SELECT n FROM stats) - dfs.df + 0.5) / (dfs.df + 0.5)) *
         |  (CAST(tf.tf AS DOUBLE) * CAST($k1 + 1.0 AS DOUBLE)) /
         |  (CAST(tf.tf AS DOUBLE) + $k1 * (1.0 - $b + $b * (CAST(dl.dlen AS DOUBLE) / (SELECT avgdl FROM stats)))) AS s
         |  FROM tf JOIN dfs ON tf.tok = dfs.tok JOIN dl ON tf.docid = dl.docid),
         |agg AS (SELECT docid, $termScores FROM s GROUP BY docid)
         |SELECT docid AS docId, round($scoreSum, 9) AS score FROM agg
         |WHERE ($c1) OR ($c2)
         |ORDER BY $scoreSum DESC, docId LIMIT 10""".stripMargin
    },

    // boolean tree with a negated leaf: `util_7 (def OR -val)` — candidates
    // hold util_7 and (def, or no val); NOT contributes no score mass, so
    // the sum is s_util_7 + (s_def when present else 0.0)
    "q_bm25_bool_not" -> {
      val terms = Seq("util_7", "def", "val")
      val (k1, b) = (1.2, 0.75)
      val termScores = terms.map { t =>
        s"""sum(CASE WHEN s.tok = '$t' THEN s.s END) AS s_$t"""
      }.mkString(",\n  ")
      val scoreSum =
        "s_util_7 + (CASE WHEN s_def IS NOT NULL THEN s_def ELSE 0.0 END)"
      s"""WITH $corpusCte,
         |stats AS (SELECT (SELECT count(*) FROM docs) AS n,
         |  CAST((SELECT sum(dlen) FROM dl) AS DOUBLE) / (SELECT count(*) FROM docs) AS avgdl),
         |dfs AS (SELECT tok, count(*) AS df FROM tf
         |  WHERE tok IN (${terms.map(t => s"'$t'").mkString(", ")}) GROUP BY 1),
         |s AS (SELECT tf.docid, tf.tok,
         |  ln(1.0 + ((SELECT n FROM stats) - dfs.df + 0.5) / (dfs.df + 0.5)) *
         |  (CAST(tf.tf AS DOUBLE) * CAST($k1 + 1.0 AS DOUBLE)) /
         |  (CAST(tf.tf AS DOUBLE) + $k1 * (1.0 - $b + $b * (CAST(dl.dlen AS DOUBLE) / (SELECT avgdl FROM stats)))) AS s
         |  FROM tf JOIN dfs ON tf.tok = dfs.tok JOIN dl ON tf.docid = dl.docid),
         |agg AS (SELECT docid, $termScores FROM s GROUP BY docid)
         |SELECT docid AS docId, round($scoreSum, 9) AS score FROM agg
         |WHERE s_util_7 IS NOT NULL AND (s_def IS NOT NULL OR s_val IS NULL)
         |ORDER BY $scoreSum DESC, docId LIMIT 10""".stripMargin
    },

    // phrase-in-boolean oracle for `("import def" OR util_3) val`: the
    // phrase's doc set is an adjacency self-join over token ordinals
    // (b.ord = a.ord + 1); per-term scores as the other bool gates; the
    // clause sum mirrors the engine's depth-first order — the OR folds
    // (phrase ? s_def + s_import : 0.0) + (util_3 ? s_util_3 : 0.0), the
    // phrase summing its DISTINCT members in ascending-term order — then
    // the root AND adds s_val
    "q_bm25_bool_phrase" -> {
      val terms = Seq("import", "def", "util_3", "val")
      val (k1, b) = (1.2, 0.75)
      val termScores = terms.map { t =>
        s"""sum(CASE WHEN s.tok = '$t' THEN s.s END) AS s_$t"""
      }.mkString(",\n  ")
      s"""WITH $corpusCte,
         |ptoks AS (
         |  SELECT docid, unnest(regexp_extract_all(lower(content), '[a-z0-9_]+')) AS tok,
         |         generate_subscripts(regexp_extract_all(lower(content), '[a-z0-9_]+'), 1) AS ord
         |  FROM docs),
         |ph AS (SELECT DISTINCT a.docid FROM ptoks a
         |  JOIN ptoks b ON b.docid = a.docid AND b.ord = a.ord + 1
         |  WHERE a.tok = 'import' AND b.tok = 'def'),
         |stats AS (SELECT (SELECT count(*) FROM docs) AS n,
         |  CAST((SELECT sum(dlen) FROM dl) AS DOUBLE) / (SELECT count(*) FROM docs) AS avgdl),
         |dfs AS (SELECT tok, count(*) AS df FROM tf
         |  WHERE tok IN (${terms.map(t => s"'$t'").mkString(", ")}) GROUP BY 1),
         |s AS (SELECT tf.docid, tf.tok,
         |  ln(1.0 + ((SELECT n FROM stats) - dfs.df + 0.5) / (dfs.df + 0.5)) *
         |  (CAST(tf.tf AS DOUBLE) * CAST($k1 + 1.0 AS DOUBLE)) /
         |  (CAST(tf.tf AS DOUBLE) + $k1 * (1.0 - $b + $b * (CAST(dl.dlen AS DOUBLE) / (SELECT avgdl FROM stats)))) AS s
         |  FROM tf JOIN dfs ON tf.tok = dfs.tok JOIN dl ON tf.docid = dl.docid),
         |agg AS (SELECT docid, $termScores FROM s GROUP BY docid),
         |j AS (SELECT agg.*, ph.docid AS phd FROM agg LEFT JOIN ph ON agg.docid = ph.docid)
         |SELECT j.docid AS docId,
         |  round((CASE WHEN phd IS NOT NULL THEN s_def + s_import ELSE 0.0 END +
         |    CASE WHEN s_util_3 IS NOT NULL THEN s_util_3 ELSE 0.0 END) + s_val, 9) AS score
         |FROM j
         |WHERE (phd IS NOT NULL OR s_util_3 IS NOT NULL) AND s_val IS NOT NULL
         |ORDER BY (CASE WHEN phd IS NOT NULL THEN s_def + s_import ELSE 0.0 END +
         |    CASE WHEN s_util_3 IS NOT NULL THEN s_util_3 ELSE 0.0 END) + s_val DESC, docId
         |LIMIT 10""".stripMargin
    },

    // dismax oracle for `DISMAX 0.3 (util_7 (def val) class^1.5)`: per-term
    // scores as q_bm25_bool; clause scores c0/c1/c2 mirror the engine's
    // child evaluation (AND pair sums in child order, boost is one IEEE
    // multiply, NULL = unmatched); the dismax mix is EXACTLY the engine's
    // `max + (sum − max)·tie` with max = greatest (NULLs ignored) and
    // sum = the coalesced left fold (adding the identity 0.0 for an
    // unmatched clause is bit-exact for finite positive scores)
    "q_bm25_dismax" -> {
      val terms = Seq("util_7", "def", "val", "class")
      val (k1, b) = (1.2, 0.75)
      val termScores = terms.map { t =>
        s"""sum(CASE WHEN s.tok = '$t' THEN s.s END) AS s_$t"""
      }.mkString(",\n  ")
      val clauses = Seq(
        "s_util_7 AS c0",
        "CASE WHEN s_def IS NOT NULL AND s_val IS NOT NULL THEN s_def + s_val END AS c1",
        "s_class * CAST(1.5 AS DOUBLE) AS c2").mkString(",\n  ")
      val mix = "greatest(c0, c1, c2) + " +
        "((COALESCE(c0, 0.0) + COALESCE(c1, 0.0) + COALESCE(c2, 0.0)) - " +
        "greatest(c0, c1, c2)) * CAST(0.3 AS DOUBLE)"
      s"""WITH $corpusCte,
         |stats AS (SELECT (SELECT count(*) FROM docs) AS n,
         |  CAST((SELECT sum(dlen) FROM dl) AS DOUBLE) / (SELECT count(*) FROM docs) AS avgdl),
         |dfs AS (SELECT tok, count(*) AS df FROM tf
         |  WHERE tok IN (${terms.map(t => s"'$t'").mkString(", ")}) GROUP BY 1),
         |s AS (SELECT tf.docid, tf.tok,
         |  ln(1.0 + ((SELECT n FROM stats) - dfs.df + 0.5) / (dfs.df + 0.5)) *
         |  (CAST(tf.tf AS DOUBLE) * CAST($k1 + 1.0 AS DOUBLE)) /
         |  (CAST(tf.tf AS DOUBLE) + $k1 * (1.0 - $b + $b * (CAST(dl.dlen AS DOUBLE) / (SELECT avgdl FROM stats)))) AS s
         |  FROM tf JOIN dfs ON tf.tok = dfs.tok JOIN dl ON tf.docid = dl.docid),
         |agg AS (SELECT docid, $termScores FROM s GROUP BY docid),
         |cl AS (SELECT docid, $clauses FROM agg)
         |SELECT docid AS docId, round($mix, 9) AS score FROM cl
         |WHERE c0 IS NOT NULL OR c1 IS NOT NULL OR c2 IS NOT NULL
         |ORDER BY $mix DESC, docId LIMIT 10""".stripMargin
    },

    // MSM 2 (util_7 def util_3): at least 2 clause hits; score is the
    // coalesced clause-order sum — adding 0.0 for an unmatched clause is
    // an exact IEEE identity for the positive BM25 summands, so the fold
    // mirrors the engine's skip-unmatched accumulation bit-exactly
    "q_bm25_msm" -> {
      val terms = Seq("util_7", "def", "util_3")
      val (k1, b) = (1.2, 0.75)
      val termScores = terms.map { t =>
        s"""sum(CASE WHEN s.tok = '$t' THEN s.s END) AS s_$t"""
      }.mkString(",\n  ")
      val matched = terms.map(t =>
        s"(CASE WHEN s_$t IS NOT NULL THEN 1 ELSE 0 END)").mkString(" + ")
      val scoreSum = terms.map(t => s"COALESCE(s_$t, 0.0)").mkString(" + ")
      s"""WITH $corpusCte,
         |stats AS (SELECT (SELECT count(*) FROM docs) AS n,
         |  CAST((SELECT sum(dlen) FROM dl) AS DOUBLE) / (SELECT count(*) FROM docs) AS avgdl),
         |dfs AS (SELECT tok, count(*) AS df FROM tf
         |  WHERE tok IN (${terms.map(t => s"'$t'").mkString(", ")}) GROUP BY 1),
         |s AS (SELECT tf.docid, tf.tok,
         |  ln(1.0 + ((SELECT n FROM stats) - dfs.df + 0.5) / (dfs.df + 0.5)) *
         |  (CAST(tf.tf AS DOUBLE) * CAST($k1 + 1.0 AS DOUBLE)) /
         |  (CAST(tf.tf AS DOUBLE) + $k1 * (1.0 - $b + $b * (CAST(dl.dlen AS DOUBLE) / (SELECT avgdl FROM stats)))) AS s
         |  FROM tf JOIN dfs ON tf.tok = dfs.tok JOIN dl ON tf.docid = dl.docid),
         |agg AS (SELECT docid, $termScores FROM s GROUP BY docid)
         |SELECT docid AS docId, round($scoreSum, 9) AS score FROM agg
         |WHERE ($matched) >= 2
         |ORDER BY $scoreSum DESC, docId LIMIT 10""".stripMargin
    },

    // CONST 1 (util_3 OR util_1) util_7: the wrapped disjunction gates the
    // match and contributes exactly 1.0; engine AND-fold = (0.0 + 1.0) +
    // s_util_7, mirrored as 1.0 + s_util_7
    "q_bm25_const" -> {
      val terms = Seq("util_7", "util_3", "util_1")
      val (k1, b) = (1.2, 0.75)
      val termScores = terms.map { t =>
        s"""sum(CASE WHEN s.tok = '$t' THEN s.s END) AS s_$t"""
      }.mkString(",\n  ")
      s"""WITH $corpusCte,
         |stats AS (SELECT (SELECT count(*) FROM docs) AS n,
         |  CAST((SELECT sum(dlen) FROM dl) AS DOUBLE) / (SELECT count(*) FROM docs) AS avgdl),
         |dfs AS (SELECT tok, count(*) AS df FROM tf
         |  WHERE tok IN (${terms.map(t => s"'$t'").mkString(", ")}) GROUP BY 1),
         |s AS (SELECT tf.docid, tf.tok,
         |  ln(1.0 + ((SELECT n FROM stats) - dfs.df + 0.5) / (dfs.df + 0.5)) *
         |  (CAST(tf.tf AS DOUBLE) * CAST($k1 + 1.0 AS DOUBLE)) /
         |  (CAST(tf.tf AS DOUBLE) + $k1 * (1.0 - $b + $b * (CAST(dl.dlen AS DOUBLE) / (SELECT avgdl FROM stats)))) AS s
         |  FROM tf JOIN dfs ON tf.tok = dfs.tok JOIN dl ON tf.docid = dl.docid),
         |agg AS (SELECT docid, $termScores FROM s GROUP BY docid)
         |SELECT docid AS docId,
         |  round(CAST(1.0 AS DOUBLE) + s_util_7, 9) AS score FROM agg
         |WHERE s_util_7 IS NOT NULL
         |  AND (s_util_3 IS NOT NULL OR s_util_1 IS NOT NULL)
         |ORDER BY CAST(1.0 AS DOUBLE) + s_util_7 DESC, docId LIMIT 10""".stripMargin
    },

    // term range [util_10, util_13] reproduced in SQL (same expansion
    // rule: lexicographic window, df desc, term asc, LIMIT 64), then the
    // OR-mode ascending-term list_reduce fold — the rewrite-family oracle
    "q_bm25_trange" -> {
      val (k1, b) = (1.2, 0.75)
      s"""WITH $corpusCte,
         |stats AS (SELECT (SELECT count(*) FROM docs) AS n,
         |  CAST((SELECT sum(dlen) FROM dl) AS DOUBLE) / (SELECT count(*) FROM docs) AS avgdl),
         |expansion AS (SELECT tok, count(*) AS df FROM tf
         |  WHERE tok >= 'util_10' AND tok <= 'util_13' GROUP BY 1
         |  ORDER BY count(*) DESC, tok LIMIT 64),
         |s AS (SELECT tf.docid, tf.tok,
         |  ln(1.0 + ((SELECT n FROM stats) - e.df + 0.5) / (e.df + 0.5)) *
         |  (CAST(tf.tf AS DOUBLE) * CAST($k1 + 1.0 AS DOUBLE)) /
         |  (CAST(tf.tf AS DOUBLE) + $k1 * (1.0 - $b + $b * (CAST(dl.dlen AS DOUBLE) / (SELECT avgdl FROM stats)))) AS s
         |  FROM tf JOIN expansion e ON tf.tok = e.tok JOIN dl ON tf.docid = dl.docid),
         |agg AS (SELECT docid, list_reduce(list(s ORDER BY tok), (a, b) -> a + b) AS raw
         |  FROM s GROUP BY docid)
         |SELECT docid AS docId, round(raw, 9) AS score FROM agg
         |ORDER BY raw DESC, docId LIMIT 10""".stripMargin
    },

    // field sort: the conjunctive match set ordered by (path, docId) —
    // no scores involved, pure match set + docs join
    "q_bm25_sortby" -> {
      val terms = Bm25Query.split(" ").distinct.sorted
      s"""WITH $corpusCte,
         |m AS (SELECT docid FROM tf
         |  WHERE tok IN (${terms.map(t => s"'$t'").mkString(", ")})
         |  GROUP BY docid HAVING count(*) = ${terms.length})
         |SELECT m.docid AS docId, d.path AS path
         |FROM m JOIN docs d ON m.docid = d.docid
         |ORDER BY d.path, m.docid LIMIT 15""".stripMargin
    },

    // collapse-by-lang: conjunctive per-doc scores (ascending-term
    // list_reduce, the engine's fold order), best doc per lang by
    // (score desc, docId asc), groups ranked by their best hit
    "q_bm25_collapse" -> {
      val terms = Bm25Query.split(" ").distinct.sorted
      val (k1, b) = (1.2, 0.75)
      s"""WITH $corpusCte,
         |stats AS (SELECT (SELECT count(*) FROM docs) AS n,
         |  CAST((SELECT sum(dlen) FROM dl) AS DOUBLE) / (SELECT count(*) FROM docs) AS avgdl),
         |dfs AS (SELECT tok, count(*) AS df FROM tf
         |  WHERE tok IN (${terms.map(t => s"'$t'").mkString(", ")}) GROUP BY 1),
         |s AS (SELECT tf.docid, tf.tok,
         |  ln(1.0 + ((SELECT n FROM stats) - dfs.df + 0.5) / (dfs.df + 0.5)) *
         |  (CAST(tf.tf AS DOUBLE) * CAST($k1 + 1.0 AS DOUBLE)) /
         |  (CAST(tf.tf AS DOUBLE) + $k1 * (1.0 - $b + $b * (CAST(dl.dlen AS DOUBLE) / (SELECT avgdl FROM stats)))) AS s
         |  FROM tf JOIN dfs ON tf.tok = dfs.tok JOIN dl ON tf.docid = dl.docid),
         |agg AS (SELECT docid, list_reduce(list(s ORDER BY tok), (a, b) -> a + b) AS raw
         |  FROM s GROUP BY docid HAVING count(*) = ${terms.length}),
         |j AS (SELECT d.lang, agg.docid, agg.raw,
         |  row_number() OVER (PARTITION BY d.lang ORDER BY agg.raw DESC, agg.docid) AS rn
         |  FROM agg JOIN docs d ON agg.docid = d.docid)
         |SELECT lang, docid AS docId, round(raw, 9) AS score FROM j
         |WHERE rn = 1 ORDER BY raw DESC, docId LIMIT 10""".stripMargin
    },

    // synonym oracle: per-doc tf SUM over the variants (exact integer sum,
    // order-independent), idf from the blended df (max over variants),
    // the engine's exact IEEE expression shape
    "q_bm25_syn" -> {
      val variants = Seq("util_17", "util_7") // sorted
      val (k1, b) = (1.2, 0.75)
      val inList = variants.map(t => s"'$t'").mkString(", ")
      val score =
        s"""ln(1.0 + ((SELECT n FROM stats) - (SELECT df FROM blend) + 0.5) / ((SELECT df FROM blend) + 0.5)) *
           |  (CAST(tfsum AS DOUBLE) * CAST($k1 + 1.0 AS DOUBLE)) /
           |  (CAST(tfsum AS DOUBLE) + $k1 * (1.0 - $b + $b * (CAST(dl.dlen AS DOUBLE) / (SELECT avgdl FROM stats))))""".stripMargin
      s"""WITH $corpusCte,
         |stats AS (SELECT (SELECT count(*) FROM docs) AS n,
         |  CAST((SELECT sum(dlen) FROM dl) AS DOUBLE) / (SELECT count(*) FROM docs) AS avgdl),
         |blend AS (SELECT max(df) AS df FROM (
         |  SELECT tok, count(*) AS df FROM tf WHERE tok IN ($inList) GROUP BY 1)),
         |syn AS (SELECT docid, sum(tf) AS tfsum FROM tf
         |  WHERE tok IN ($inList) GROUP BY docid)
         |SELECT syn.docid AS docId, round($score, 9) AS score
         |FROM syn JOIN dl ON syn.docid = dl.docid
         |ORDER BY $score DESC, docId LIMIT 10""".stripMargin
    },

    "q_bm25_batch" -> batchOracleSql(BatchQueries),

    // did-you-mean oracle: per query token, the nearest dictionary term by
    // (levenshtein asc, df desc, term asc) within 2 edits — one rule covers
    // present terms too (a live term is its own unique distance-0 winner)
    "q_suggest" -> {
      val toks = SuggestQuery.split(" ").distinct.sorted
      s"""WITH $corpusCte,
         |dict AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
         |qs AS (SELECT unnest([${toks.map(t => s"'$t'").mkString(", ")}]) AS term)
         |SELECT q.term,
         |  (SELECT d.tok FROM dict d WHERE levenshtein(d.tok, q.term) <= 2
         |   ORDER BY levenshtein(d.tok, q.term) ASC, d.df DESC, d.tok ASC
         |   LIMIT 1) AS suggestion
         |FROM qs q ORDER BY q.term""".stripMargin
    },

    // more-like-this oracle: the representative-term selection re-derived
    // in SQL (tf >= 2, df >= 5, tf*idf desc / tok asc, LIMIT 25 over the
    // seed doc's tokens), then OR-mode BM25 over the selection with the
    // same ascending-term left-fold as the prefix/regex/fuzzy oracles,
    // seed doc excluded from the final ranking only
    "q_bm25_mlt" -> {
      val (k1, b) = (1.2, 0.75)
      s"""WITH $corpusCte,
         |stats AS (SELECT (SELECT count(*) FROM docs) AS n,
         |  CAST((SELECT sum(dlen) FROM dl) AS DOUBLE) / (SELECT count(*) FROM docs) AS avgdl),
         |alldf AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
         |sel AS (SELECT s.tok FROM tf s JOIN alldf d ON s.tok = d.tok
         |  WHERE s.docid = $MltSeedDoc AND s.tf >= 2 AND d.df >= 5
         |  ORDER BY CAST(s.tf AS DOUBLE) *
         |    ln(1.0 + ((SELECT n FROM stats) - d.df + 0.5) / (d.df + 0.5)) DESC,
         |    s.tok ASC
         |  LIMIT 25),
         |expansion AS (SELECT tok, df FROM alldf WHERE tok IN (SELECT tok FROM sel)),
         |s AS (SELECT tf.docid, tf.tok,
         |  ln(1.0 + ((SELECT n FROM stats) - e.df + 0.5) / (e.df + 0.5)) *
         |  (CAST(tf.tf AS DOUBLE) * CAST($k1 + 1.0 AS DOUBLE)) /
         |  (CAST(tf.tf AS DOUBLE) + $k1 * (1.0 - $b + $b * (CAST(dl.dlen AS DOUBLE) / (SELECT avgdl FROM stats)))) AS s
         |  FROM tf JOIN expansion e ON tf.tok = e.tok JOIN dl ON tf.docid = dl.docid),
         |agg AS (SELECT docid, list_reduce(list(s ORDER BY tok), (a, b) -> a + b) AS raw
         |  FROM s GROUP BY docid)
         |SELECT docid AS docId, round(raw, 9) AS score FROM agg
         |WHERE docid <> $MltSeedDoc
         |ORDER BY raw DESC, docId LIMIT 10""".stripMargin
    },

    // explain oracle: the q_bm25_topk per-term score table, restricted to
    // the top-10 ranking, with tf/df/idf projected alongside the summand
    // (the idf and contribution expressions are the exact shapes every
    // other BM25 gate already bit-matches)
    "q_bm25_explain" -> {
      val terms = Bm25Query.split(" ").distinct.sorted
      val (k1, b) = (1.2, 0.75)
      val idfExpr =
        "ln(1.0 + ((SELECT n FROM stats) - dfs.df + 0.5) / (dfs.df + 0.5))"
      val termScores = terms.zipWithIndex.map { case (t, i) =>
        s"""sum(CASE WHEN s.tok = '$t' THEN s.s END) AS s_$i"""
      }.mkString(",\n  ")
      val scoreSum = terms.indices.map(i => s"s_$i").mkString(" + ")
      s"""WITH $corpusCte,
         |stats AS (SELECT (SELECT count(*) FROM docs) AS n,
         |  CAST((SELECT sum(dlen) FROM dl) AS DOUBLE) / (SELECT count(*) FROM docs) AS avgdl),
         |dfs AS (SELECT tok, count(*) AS df FROM tf
         |  WHERE tok IN (${terms.map(t => s"'$t'").mkString(", ")}) GROUP BY 1),
         |s AS (SELECT tf.docid, tf.tok, tf.tf, dfs.df, $idfExpr AS idf,
         |  $idfExpr *
         |  (CAST(tf.tf AS DOUBLE) * CAST($k1 + 1.0 AS DOUBLE)) /
         |  (CAST(tf.tf AS DOUBLE) + $k1 * (1.0 - $b + $b * (CAST(dl.dlen AS DOUBLE) / (SELECT avgdl FROM stats)))) AS s
         |  FROM tf JOIN dfs ON tf.tok = dfs.tok JOIN dl ON tf.docid = dl.docid),
         |top AS (SELECT docid, $scoreSum AS raw FROM
         |  (SELECT docid, count(*) AS nt, $termScores
         |   FROM s GROUP BY docid HAVING count(*) = ${terms.length})
         |  ORDER BY raw DESC, docid LIMIT 10)
         |SELECT s.docid AS docId, round(top.raw, 9) AS score, s.tok AS term,
         |  CAST(s.tf AS INT) AS tf, s.df AS df, round(s.idf, 9) AS idf,
         |  round(s.s, 9) AS contribution
         |FROM s JOIN top ON s.docid = top.docid
         |ORDER BY docId, term""".stripMargin
    },

    // conjunctive hit count: docs containing every query term
    "q_bm25_count" -> {
      val terms = Bm25Query.split(" ").distinct.sorted
      s"""WITH $corpusCte
         |SELECT count(*) AS n FROM (
         |  SELECT docid FROM tf
         |  WHERE tok IN (${terms.map(t => s"'$t'").mkString(", ")})
         |  GROUP BY docid HAVING count(DISTINCT tok) = ${terms.length})""".stripMargin
    },

    // fuzzy expansion reproduced in SQL (classic Levenshtein ≤ 1 — DuckDB's
    // levenshtein matches Spark's; same cap rule: dist asc, df desc, term
    // asc, LIMIT 64), then OR-mode BM25 with the ascending-term left-fold
    "q_bm25_fuzzy" -> {
      val (k1, b) = (1.2, 0.75)
      s"""WITH $corpusCte,
         |stats AS (SELECT (SELECT count(*) FROM docs) AS n,
         |  CAST((SELECT sum(dlen) FROM dl) AS DOUBLE) / (SELECT count(*) FROM docs) AS avgdl),
         |expansion AS (SELECT tok, count(*) AS df FROM tf
         |  WHERE levenshtein(tok, '$FuzzyQuery') <= 1 GROUP BY 1
         |  ORDER BY levenshtein(tok, '$FuzzyQuery') ASC, count(*) DESC, tok LIMIT 64),
         |s AS (SELECT tf.docid, tf.tok,
         |  ln(1.0 + ((SELECT n FROM stats) - e.df + 0.5) / (e.df + 0.5)) *
         |  (CAST(tf.tf AS DOUBLE) * CAST($k1 + 1.0 AS DOUBLE)) /
         |  (CAST(tf.tf AS DOUBLE) + $k1 * (1.0 - $b + $b * (CAST(dl.dlen AS DOUBLE) / (SELECT avgdl FROM stats)))) AS s
         |  FROM tf JOIN expansion e ON tf.tok = e.tok JOIN dl ON tf.docid = dl.docid),
         |agg AS (SELECT docid, list_reduce(list(s ORDER BY tok), (a, b) -> a + b) AS raw
         |  FROM s GROUP BY docid)
         |SELECT docid AS docId, round(raw, 9) AS score FROM agg
         |ORDER BY raw DESC, docId LIMIT 10""".stripMargin
    },

    // boosted boolean tree `(util_7^2 def) OR (util_3 val^0.5)`: identical
    // per-term scores as q_bm25_bool; each boost is ONE IEEE multiply on
    // the matched leaf score, clause sums mirror the engine's depth-first
    // order (boosted leaf first within its AND)
    "q_bm25_boost" -> {
      val terms = Seq("util_7", "def", "util_3", "val")
      val (k1, b) = (1.2, 0.75)
      val termScores = terms.map { t =>
        s"""sum(CASE WHEN s.tok = '$t' THEN s.s END) AS s_$t"""
      }.mkString(",\n  ")
      val c1 = "s_util_7 IS NOT NULL AND s_def IS NOT NULL"
      val c2 = "s_util_3 IS NOT NULL AND s_val IS NOT NULL"
      val scoreSum =
        s"(CASE WHEN $c1 THEN s_util_7 * 2.0 + s_def ELSE 0.0 END) + " +
        s"(CASE WHEN $c2 THEN s_util_3 + s_val * 0.5 ELSE 0.0 END)"
      s"""WITH $corpusCte,
         |stats AS (SELECT (SELECT count(*) FROM docs) AS n,
         |  CAST((SELECT sum(dlen) FROM dl) AS DOUBLE) / (SELECT count(*) FROM docs) AS avgdl),
         |dfs AS (SELECT tok, count(*) AS df FROM tf
         |  WHERE tok IN (${terms.map(t => s"'$t'").mkString(", ")}) GROUP BY 1),
         |s AS (SELECT tf.docid, tf.tok,
         |  ln(1.0 + ((SELECT n FROM stats) - dfs.df + 0.5) / (dfs.df + 0.5)) *
         |  (CAST(tf.tf AS DOUBLE) * CAST($k1 + 1.0 AS DOUBLE)) /
         |  (CAST(tf.tf AS DOUBLE) + $k1 * (1.0 - $b + $b * (CAST(dl.dlen AS DOUBLE) / (SELECT avgdl FROM stats)))) AS s
         |  FROM tf JOIN dfs ON tf.tok = dfs.tok JOIN dl ON tf.docid = dl.docid),
         |agg AS (SELECT docid, $termScores FROM s GROUP BY docid)
         |SELECT docid AS docId, round($scoreSum, 9) AS score FROM agg
         |WHERE ($c1) OR ($c2)
         |ORDER BY $scoreSum DESC, docId LIMIT 10""".stripMargin
    },

    // paged oracle: the exact q_bm25_topk ranking, ranks 10..19
    "q_bm25_page" -> {
      val terms = Bm25Query.split(" ").distinct.sorted
      val (k1, b) = (1.2, 0.75)
      val termScores = terms.zipWithIndex.map { case (t, i) =>
        s"""sum(CASE WHEN s.tok = '$t' THEN s.s END) AS s_$i"""
      }.mkString(",\n  ")
      val scoreSum = terms.indices.map(i => s"s_$i").mkString(" + ")
      s"""WITH $corpusCte,
         |stats AS (SELECT (SELECT count(*) FROM docs) AS n,
         |  CAST((SELECT sum(dlen) FROM dl) AS DOUBLE) / (SELECT count(*) FROM docs) AS avgdl),
         |dfs AS (SELECT tok, count(*) AS df FROM tf
         |  WHERE tok IN (${terms.map(t => s"'$t'").mkString(", ")}) GROUP BY 1),
         |s AS (SELECT tf.docid, tf.tok,
         |  ln(1.0 + ((SELECT n FROM stats) - dfs.df + 0.5) / (dfs.df + 0.5)) *
         |  (CAST(tf.tf AS DOUBLE) * CAST($k1 + 1.0 AS DOUBLE)) /
         |  (CAST(tf.tf AS DOUBLE) + $k1 * (1.0 - $b + $b * (CAST(dl.dlen AS DOUBLE) / (SELECT avgdl FROM stats)))) AS s
         |  FROM tf JOIN dfs ON tf.tok = dfs.tok JOIN dl ON tf.docid = dl.docid),
         |agg AS (SELECT docid, count(*) AS nt, $termScores
         |  FROM s GROUP BY docid HAVING count(*) = ${terms.length})
         |SELECT docid AS docId, round($scoreSum, 9) AS score FROM agg
         |ORDER BY $scoreSum DESC, docId LIMIT 10 OFFSET 10""".stripMargin
    },

    // cursor-paged oracle: searchAfter pages 2+3 (k=5) tile ranks 5..14 of
    // the exact q_bm25_topk ranking
    "q_bm25_page_after" -> {
      val terms = Bm25Query.split(" ").distinct.sorted
      val (k1, b) = (1.2, 0.75)
      val termScores = terms.zipWithIndex.map { case (t, i) =>
        s"""sum(CASE WHEN s.tok = '$t' THEN s.s END) AS s_$i"""
      }.mkString(",\n  ")
      val scoreSum = terms.indices.map(i => s"s_$i").mkString(" + ")
      s"""WITH $corpusCte,
         |stats AS (SELECT (SELECT count(*) FROM docs) AS n,
         |  CAST((SELECT sum(dlen) FROM dl) AS DOUBLE) / (SELECT count(*) FROM docs) AS avgdl),
         |dfs AS (SELECT tok, count(*) AS df FROM tf
         |  WHERE tok IN (${terms.map(t => s"'$t'").mkString(", ")}) GROUP BY 1),
         |s AS (SELECT tf.docid, tf.tok,
         |  ln(1.0 + ((SELECT n FROM stats) - dfs.df + 0.5) / (dfs.df + 0.5)) *
         |  (CAST(tf.tf AS DOUBLE) * CAST($k1 + 1.0 AS DOUBLE)) /
         |  (CAST(tf.tf AS DOUBLE) + $k1 * (1.0 - $b + $b * (CAST(dl.dlen AS DOUBLE) / (SELECT avgdl FROM stats)))) AS s
         |  FROM tf JOIN dfs ON tf.tok = dfs.tok JOIN dl ON tf.docid = dl.docid),
         |agg AS (SELECT docid, count(*) AS nt, $termScores
         |  FROM s GROUP BY docid HAVING count(*) = ${terms.length})
         |SELECT docid AS docId, round($scoreSum, 9) AS score FROM agg
         |ORDER BY $scoreSum DESC, docId LIMIT 10 OFFSET 5""".stripMargin
    },

    // regex expansion reproduced in SQL (anchored full-term match, same cap
    // rule: df desc, term asc, LIMIT 64), then OR-mode BM25 with the same
    // ascending-term left-fold as the prefix oracle — bit-exact sums
    "q_bm25_regex" -> {
      val (k1, b) = (1.2, 0.75)
      s"""WITH $corpusCte,
         |stats AS (SELECT (SELECT count(*) FROM docs) AS n,
         |  CAST((SELECT sum(dlen) FROM dl) AS DOUBLE) / (SELECT count(*) FROM docs) AS avgdl),
         |expansion AS (SELECT tok, count(*) AS df FROM tf
         |  WHERE regexp_full_match(tok, '$RegexQuery') GROUP BY 1
         |  ORDER BY count(*) DESC, tok LIMIT 64),
         |s AS (SELECT tf.docid, tf.tok,
         |  ln(1.0 + ((SELECT n FROM stats) - e.df + 0.5) / (e.df + 0.5)) *
         |  (CAST(tf.tf AS DOUBLE) * CAST($k1 + 1.0 AS DOUBLE)) /
         |  (CAST(tf.tf AS DOUBLE) + $k1 * (1.0 - $b + $b * (CAST(dl.dlen AS DOUBLE) / (SELECT avgdl FROM stats)))) AS s
         |  FROM tf JOIN expansion e ON tf.tok = e.tok JOIN dl ON tf.docid = dl.docid),
         |agg AS (SELECT docid, list_reduce(list(s ORDER BY tok), (a, b) -> a + b) AS raw
         |  FROM s GROUP BY docid)
         |SELECT docid AS docId, round(raw, 9) AS score FROM agg
         |ORDER BY raw DESC, docId LIMIT 10""".stripMargin
    },

    // wildcard = the regex oracle over the glob's translation (the SAME
    // translation the engine used — WildcardRegex comes from globToRegex,
    // so a translator bug cannot hide): anchored full-term match, df desc /
    // term asc / LIMIT 64 expansion, ascending-term left-fold scoring
    "q_bm25_wildcard" -> {
      val (k1, b) = (1.2, 0.75)
      s"""WITH $corpusCte,
         |stats AS (SELECT (SELECT count(*) FROM docs) AS n,
         |  CAST((SELECT sum(dlen) FROM dl) AS DOUBLE) / (SELECT count(*) FROM docs) AS avgdl),
         |expansion AS (SELECT tok, count(*) AS df FROM tf
         |  WHERE regexp_full_match(tok, '$WildcardRegex') GROUP BY 1
         |  ORDER BY count(*) DESC, tok LIMIT 64),
         |s AS (SELECT tf.docid, tf.tok,
         |  ln(1.0 + ((SELECT n FROM stats) - e.df + 0.5) / (e.df + 0.5)) *
         |  (CAST(tf.tf AS DOUBLE) * CAST($k1 + 1.0 AS DOUBLE)) /
         |  (CAST(tf.tf AS DOUBLE) + $k1 * (1.0 - $b + $b * (CAST(dl.dlen AS DOUBLE) / (SELECT avgdl FROM stats)))) AS s
         |  FROM tf JOIN expansion e ON tf.tok = e.tok JOIN dl ON tf.docid = dl.docid),
         |agg AS (SELECT docid, list_reduce(list(s ORDER BY tok), (a, b) -> a + b) AS raw
         |  FROM s GROUP BY docid)
         |SELECT docid AS docId, round(raw, 9) AS score FROM agg
         |ORDER BY raw DESC, docId LIMIT 10""".stripMargin
    },

    // prefix expansion reproduced in SQL (same rule: df desc, term asc,
    // LIMIT 64), then OR-mode BM25 where each doc's term scores are
    // left-folded in ascending-term order via list_reduce — the same
    // accumulation order as the Spark kernel, so sums are bit-exact
    "q_bm25_prefix" -> {
      val (k1, b) = (1.2, 0.75)
      s"""WITH $corpusCte,
         |stats AS (SELECT (SELECT count(*) FROM docs) AS n,
         |  CAST((SELECT sum(dlen) FROM dl) AS DOUBLE) / (SELECT count(*) FROM docs) AS avgdl),
         |expansion AS (SELECT tok, count(*) AS df FROM tf
         |  WHERE starts_with(tok, 'util_1') GROUP BY 1
         |  ORDER BY count(*) DESC, tok LIMIT 64),
         |s AS (SELECT tf.docid, tf.tok,
         |  ln(1.0 + ((SELECT n FROM stats) - e.df + 0.5) / (e.df + 0.5)) *
         |  (CAST(tf.tf AS DOUBLE) * CAST($k1 + 1.0 AS DOUBLE)) /
         |  (CAST(tf.tf AS DOUBLE) + $k1 * (1.0 - $b + $b * (CAST(dl.dlen AS DOUBLE) / (SELECT avgdl FROM stats)))) AS s
         |  FROM tf JOIN expansion e ON tf.tok = e.tok JOIN dl ON tf.docid = dl.docid),
         |agg AS (SELECT docid, list_reduce(list(s ORDER BY tok), (a, b) -> a + b) AS raw
         |  FROM s GROUP BY docid)
         |SELECT docid AS docId, round(raw, 9) AS score FROM agg
         |ORDER BY raw DESC, docId LIMIT 10""".stripMargin
    },

    // snippet oracle: the q_bm25_topk ranking joined back to the raw text,
    // snippet = tokens[first-hit - 8 .. first-hit + 8] (identical
    // tokenization and window rule as the engine's Column extraction)
    "q_bm25_snippets" -> {
      val terms = Bm25Query.split(" ").distinct.sorted
      val (k1, b) = (1.2, 0.75)
      val termScores = terms.zipWithIndex.map { case (t, i) =>
        s"""sum(CASE WHEN s.tok = '$t' THEN s.s END) AS s_$i"""
      }.mkString(",\n  ")
      val scoreSum = terms.indices.map(i => s"s_$i").mkString(" + ")
      val firstPos = terms.map(t => s"nullif(list_position(toks, '$t'), 0)")
        .mkString("least(", ", ", ")")
      s"""WITH $corpusCte,
         |stats AS (SELECT (SELECT count(*) FROM docs) AS n,
         |  CAST((SELECT sum(dlen) FROM dl) AS DOUBLE) / (SELECT count(*) FROM docs) AS avgdl),
         |dfs AS (SELECT tok, count(*) AS df FROM tf
         |  WHERE tok IN (${terms.map(t => s"'$t'").mkString(", ")}) GROUP BY 1),
         |s AS (SELECT tf.docid, tf.tok,
         |  ln(1.0 + ((SELECT n FROM stats) - dfs.df + 0.5) / (dfs.df + 0.5)) *
         |  (CAST(tf.tf AS DOUBLE) * CAST($k1 + 1.0 AS DOUBLE)) /
         |  (CAST(tf.tf AS DOUBLE) + $k1 * (1.0 - $b + $b * (CAST(dl.dlen AS DOUBLE) / (SELECT avgdl FROM stats)))) AS s
         |  FROM tf JOIN dfs ON tf.tok = dfs.tok JOIN dl ON tf.docid = dl.docid),
         |agg AS (SELECT docid, count(*) AS nt, $termScores
         |  FROM s GROUP BY docid HAVING count(*) = ${terms.length}),
         |top AS (SELECT docid, round($scoreSum, 9) AS score FROM agg
         |  ORDER BY $scoreSum DESC, docid LIMIT 10),
         |sn AS (SELECT top.docid, top.score,
         |  regexp_extract_all(lower(d.content), '[a-z0-9_]+') AS toks
         |  FROM top JOIN docs d ON top.docid = d.docid),
         |pos AS (SELECT docid, score, toks, $firstPos AS firstpos FROM sn)
         |SELECT docid AS docId, score,
         |  array_to_string(toks[CAST(greatest(firstpos - 8, 1) AS BIGINT):CAST(greatest(firstpos - 8, 1) + 16 AS BIGINT)], ' ') AS snippet
         |FROM pos ORDER BY score DESC, docId""".stripMargin
    },

    // facet counts over the full conjunctive match set
    "q_facet_counts" -> {
      val terms = Bm25Query.split(" ").distinct.sorted
      s"""WITH $corpusCte,
         |m AS (SELECT docid FROM tf
         |  WHERE tok IN (${terms.map(t => s"'$t'").mkString(", ")})
         |  GROUP BY docid HAVING count(*) = ${terms.length})
         |SELECT d.lang, count(*) AS n FROM m JOIN docs d ON m.docid = d.docid
         |GROUP BY 1 ORDER BY lang""".stripMargin
    },

    // stats-facet oracle: exact integer aggregates over the match set's
    // dlens + the same single terminal division for the mean
    "q_facet_stats" -> {
      val terms = Bm25Query.split(" ").distinct.sorted
      s"""WITH $corpusCte,
         |m AS (SELECT docid FROM tf
         |  WHERE tok IN (${terms.map(t => s"'$t'").mkString(", ")})
         |  GROUP BY docid HAVING count(*) = ${terms.length})
         |SELECT count(*) AS n, min(dl.dlen) AS mn, max(dl.dlen) AS mx,
         |  sum(dl.dlen) AS sm,
         |  round(CAST(sum(dl.dlen) AS DOUBLE) / count(*), 9) AS mean
         |FROM m JOIN dl ON m.docid = dl.docid""".stripMargin
    },

    // range-facet oracle: same conjunctive match set as q_facet_counts,
    // bucket = number of boundaries ≤ dlen (the engine's comparison chain),
    // lo/hi looked up per bucket (NULL on the unbounded ends)
    "q_facet_ranges" -> {
      val terms = Bm25Query.split(" ").distinct.sorted
      val bs = Seq(250.0, 300.0, 350.0)
      val bucket = bs.map(b => s"(CASE WHEN dl.dlen >= $b THEN 1 ELSE 0 END)")
        .mkString(" + ")
      val lo = bs.zipWithIndex.map { case (b, i) =>
        s"WHEN ${i + 1} THEN CAST($b AS DOUBLE)" }.mkString(" ")
      val hi = bs.zipWithIndex.map { case (b, i) =>
        s"WHEN $i THEN CAST($b AS DOUBLE)" }.mkString(" ")
      s"""WITH $corpusCte,
         |m AS (SELECT docid FROM tf
         |  WHERE tok IN (${terms.map(t => s"'$t'").mkString(", ")})
         |  GROUP BY docid HAVING count(*) = ${terms.length}),
         |j AS (SELECT ($bucket) AS bucket
         |  FROM m JOIN dl ON m.docid = dl.docid)
         |SELECT bucket, CASE bucket $lo END AS lo, CASE bucket $hi END AS hi,
         |  count(*) AS n
         |FROM j GROUP BY 1 ORDER BY bucket""".stripMargin
    },

    "q_bm25_filtered" -> {
      val terms = Bm25Query.split(" ").distinct.sorted
      val (k1, b) = (1.2, 0.75)
      val termScores = terms.zipWithIndex.map { case (t, i) =>
        s"""sum(CASE WHEN s.tok = '$t' THEN s.s END) AS s_$i"""
      }.mkString(",\n  ")
      val scoreSum = terms.indices.map(i => s"s_$i").mkString(" + ")
      s"""WITH $corpusCte,
         |stats AS (SELECT (SELECT count(*) FROM docs) AS n,
         |  CAST((SELECT sum(dlen) FROM dl) AS DOUBLE) / (SELECT count(*) FROM docs) AS avgdl),
         |dfs AS (SELECT tok, count(*) AS df FROM tf
         |  WHERE tok IN (${terms.map(t => s"'$t'").mkString(", ")}) GROUP BY 1),
         |s AS (SELECT tf.docid, tf.tok,
         |  ln(1.0 + ((SELECT n FROM stats) - dfs.df + 0.5) / (dfs.df + 0.5)) *
         |  (CAST(tf.tf AS DOUBLE) * CAST($k1 + 1.0 AS DOUBLE)) /
         |  (CAST(tf.tf AS DOUBLE) + $k1 * (1.0 - $b + $b * (CAST(dl.dlen AS DOUBLE) / (SELECT avgdl FROM stats)))) AS s
         |  FROM tf JOIN dfs ON tf.tok = dfs.tok JOIN dl ON tf.docid = dl.docid),
         |agg AS (SELECT docid, count(*) AS nt, $termScores
         |  FROM s GROUP BY docid HAVING count(*) = ${terms.length})
         |SELECT agg.docid AS docId, round($scoreSum, 9) AS score
         |FROM agg JOIN docs d ON agg.docid = d.docid AND d.lang = 'scala'
         |ORDER BY $scoreSum DESC, docId LIMIT 10""".stripMargin
    },

    "q_bm25_phrase" -> phraseOracleSql(PhraseQuery, 10),

    "q_bm25_near" -> nearOracleSql(NearQuery, NearWindow, 10),
    "q_bm25_near_ordered" -> nearOrderedOracleSql(NearQuery, NearOrderedWindow, 10),

    "q_bm25_phrase3" -> phraseOracleSql(Phrase3Query, 10),
    "q_bm25_spanfirst" -> phraseOracleSql(PhraseQuery, 10, SpanFirstEnd),
    "q_bm25_spannot" ->
      phraseOracleSql(PhraseQuery, 10, exclude = Some(SpanNotExclude)),
    "q_bm25_mphrase" -> multiPhraseOracleSql(MultiPhraseSlots, 10),
    "q_bm25_pphrase" ->
      phrasePrefixOracleSql(PhrasePrefixQuery.split(" ").toSeq, 64, 10),
    // significant-terms oracle: the exact match set, per-term foreground
    // counts, corpus background df, and the engine's JLH expression
    // `(fg − bg)·(fg/bg)` with the same double-division order
    "q_sigterms" -> {
      val terms = Bm25Query.split(" ").toSeq.distinct.sorted
      val inList = terms.map(t => s"'$t'").mkString(", ")
      s"""WITH $corpusCte,
         |m AS (SELECT docid FROM tf WHERE tok IN ($inList)
         |  GROUP BY docid HAVING count(*) = ${terms.length}),
         |tot AS (SELECT CAST(count(*) AS DOUBLE) AS fg_total FROM m),
         |bgn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM docs),
         |fg AS (SELECT tok, count(*) AS fg_df FROM tf JOIN m USING (docid)
         |  GROUP BY tok),
         |bg AS (SELECT tok, count(*) AS bg_df FROM tf GROUP BY tok),
         |scored AS (SELECT fg.tok AS term, fg.fg_df, bg.bg_df,
         |  (CAST(fg.fg_df AS DOUBLE) / (SELECT fg_total FROM tot) -
         |   CAST(bg.bg_df AS DOUBLE) / (SELECT n FROM bgn)) *
         |  ((CAST(fg.fg_df AS DOUBLE) / (SELECT fg_total FROM tot)) /
         |   (CAST(bg.bg_df AS DOUBLE) / (SELECT n FROM bgn))) AS s
         |  FROM fg JOIN bg ON fg.tok = bg.tok)
         |SELECT term, fg_df, bg_df, round(s, 9) AS score FROM scored
         |ORDER BY s DESC, term LIMIT 15""".stripMargin
    },

    "q_bm25_bool_wild" -> boolMultiTermOrOracleSql(
      "starts_with(tok, 'util_1')", "count(*) DESC, tok", "def", 64, 10),
    "q_bm25_bool_fuzzy" -> boolMultiTermOrOracleSql(
      "levenshtein(tok, 'util_7') <= 1",
      "levenshtein(tok, 'util_7'), count(*) DESC, tok", "def", 64, 10),

    "q_corpus_langs" ->
      s"""SELECT lang, count(*) AS n FROM read_parquet('$FilesGlob')
         |GROUP BY 1 ORDER BY lang""".stripMargin,

    "q_dedup_exact_stats" ->
      """SELECT count(*) AS n_docs, count(DISTINCT text) AS n_distinct FROM documents""".stripMargin,

    "q_dedup_ngram" -> {
      """WITH toks AS (
        |  SELECT doc_id AS doc, unnest(regexp_extract_all(lower(text), '[a-z0-9_]+')) AS tok,
        |  generate_subscripts(regexp_extract_all(lower(text), '[a-z0-9_]+'), 1) AS ord
        |  FROM documents),
        |sh AS (SELECT DISTINCT doc, shingle FROM (
        |  SELECT doc, tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w AS shingle
        |  FROM toks WINDOW w AS (PARTITION BY doc ORDER BY ord)
        |) WHERE shingle IS NOT NULL),
        |rare AS (SELECT shingle FROM sh GROUP BY 1 HAVING count(*) <= 200),
        |shr AS (SELECT doc, sh.shingle FROM sh JOIN rare ON sh.shingle = rare.shingle),
        |sizes AS (SELECT doc, count(*) AS n_sh FROM sh GROUP BY 1),
        |inter AS (SELECT a.doc AS doc_a, b.doc AS doc_b, count(*) AS n_inter
        |  FROM shr a JOIN shr b ON a.shingle = b.shingle AND a.doc < b.doc GROUP BY 1, 2)
        |SELECT doc_a, doc_b,
        |  CAST(n_inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE) AS jaccard
        |FROM inter JOIN sizes sa ON doc_a = sa.doc JOIN sizes sb ON doc_b = sb.doc
        |WHERE CAST(n_inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE) >= 0.2
        |ORDER BY doc_a, doc_b""".stripMargin
    },

    // connected components over the ngram pair graph via recursive closure
    // (same pair CTEs as q_dedup_ngram); cluster = min reachable doc id
    "q_dedup_clusters" ->
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id AS doc, unnest(regexp_extract_all(lower(text), '[a-z0-9_]+')) AS tok,
        |  generate_subscripts(regexp_extract_all(lower(text), '[a-z0-9_]+'), 1) AS ord
        |  FROM documents),
        |sh AS (SELECT DISTINCT doc, shingle FROM (
        |  SELECT doc, tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w AS shingle
        |  FROM toks WINDOW w AS (PARTITION BY doc ORDER BY ord)
        |) WHERE shingle IS NOT NULL),
        |rare AS (SELECT shingle FROM sh GROUP BY 1 HAVING count(*) <= 200),
        |shr AS (SELECT doc, sh.shingle FROM sh JOIN rare ON sh.shingle = rare.shingle),
        |sizes AS (SELECT doc, count(*) AS n_sh FROM sh GROUP BY 1),
        |inter AS (SELECT a.doc AS doc_a, b.doc AS doc_b, count(*) AS n_inter
        |  FROM shr a JOIN shr b ON a.shingle = b.shingle AND a.doc < b.doc GROUP BY 1, 2),
        |pairs AS (SELECT doc_a, doc_b FROM inter JOIN sizes sa ON doc_a = sa.doc JOIN sizes sb ON doc_b = sb.doc
        |  WHERE CAST(n_inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE) >= 0.2),
        |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs UNION SELECT doc_b, doc_a FROM pairs),
        |reach AS (SELECT src AS id, dst AS r FROM edges
        |  UNION SELECT reach.id, e.dst FROM reach JOIN edges e ON reach.r = e.src)
        |SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY 1 ORDER BY doc_id""".stripMargin,

    // cluster-aware split oracle: the recursive-closure clusters LEFT-joined
    // to all docs (singletons = own cluster), split by the first sha256 hex
    // byte of the cluster id — identical string both engines
    "q_split_leakfree" ->
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id AS doc, unnest(regexp_extract_all(lower(text), '[a-z0-9_]+')) AS tok,
        |  generate_subscripts(regexp_extract_all(lower(text), '[a-z0-9_]+'), 1) AS ord
        |  FROM documents),
        |sh AS (SELECT DISTINCT doc, shingle FROM (
        |  SELECT doc, tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w AS shingle
        |  FROM toks WINDOW w AS (PARTITION BY doc ORDER BY ord)
        |) WHERE shingle IS NOT NULL),
        |rare AS (SELECT shingle FROM sh GROUP BY 1 HAVING count(*) <= 200),
        |shr AS (SELECT doc, sh.shingle FROM sh JOIN rare ON sh.shingle = rare.shingle),
        |sizes AS (SELECT doc, count(*) AS n_sh FROM sh GROUP BY 1),
        |inter AS (SELECT a.doc AS doc_a, b.doc AS doc_b, count(*) AS n_inter
        |  FROM shr a JOIN shr b ON a.shingle = b.shingle AND a.doc < b.doc GROUP BY 1, 2),
        |pairs AS (SELECT doc_a, doc_b FROM inter JOIN sizes sa ON doc_a = sa.doc JOIN sizes sb ON doc_b = sb.doc
        |  WHERE CAST(n_inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE) >= 0.2),
        |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs UNION SELECT doc_b, doc_a FROM pairs),
        |reach AS (SELECT src AS id, dst AS r FROM edges
        |  UNION SELECT reach.id, e.dst FROM reach JOIN edges e ON reach.r = e.src),
        |cc AS (SELECT id, min(r) AS cluster FROM reach GROUP BY 1),
        |assigned AS (SELECT d.doc_id, coalesce(cc.cluster, d.doc_id) AS cluster_id
        |  FROM documents d LEFT JOIN cc ON d.doc_id = cc.id)
        |SELECT doc_id, cluster_id,
        |  CASE WHEN substr(sha256(CAST(cluster_id AS VARCHAR)), 1, 2) < 'cc' THEN 'train'
        |       WHEN substr(sha256(CAST(cluster_id AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
        |       ELSE 'test' END AS split
        |FROM assigned ORDER BY doc_id""".stripMargin,

    "q_embed_neardup" ->
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |round(
        | (SELECT sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) FROM (SELECT unnest(a.embedding) AS x, unnest(b.embedding) AS y)) /
        | (sqrt((SELECT sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) FROM (SELECT unnest(a.embedding) AS x))) *
        |  sqrt((SELECT sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) FROM (SELECT unnest(b.embedding) AS y)))), 6) AS cos
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE round(
        | (SELECT sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) FROM (SELECT unnest(a.embedding) AS x, unnest(b.embedding) AS y)) /
        | (sqrt((SELECT sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) FROM (SELECT unnest(a.embedding) AS x))) *
        |  sqrt((SELECT sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) FROM (SELECT unnest(b.embedding) AS y)))), 6) >= 0.5
        |ORDER BY id_a, id_b""".stripMargin,

    "q_ann_topk" -> annTop5OracleSql,

    // IVF with nprobe = nlist probes every inverted list → exact top-k, so
    // the brute-force oracle applies verbatim
    "q_ann_ivf" -> annTop5OracleSql,

    "q_token_counts" ->
      """SELECT doc_id,
        |CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS INT) AS ws_tokens,
        |CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\s]')) AS INT) AS bpe_ish_tokens,
        |CAST(length(text) AS INT) AS n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_text_quality" -> {
      val stop = TextAnalysis.DefaultStopwords.map(s => s"'$s'").mkString(", ")
      s"""WITH f AS (SELECT doc_id, text,
         |  regexp_extract_all(lower(text), '[a-z0-9_]+') AS toks
         |  FROM documents)
         |SELECT doc_id,
         |CAST(length(text) AS INT) AS n_chars,
         |CAST(len(toks) AS INT) AS n_tokens,
         |CASE WHEN len(toks) > 0 THEN
         |  CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / CAST(len(toks) AS DOUBLE)
         |  ELSE 0.0 END AS mean_tok_len,
         |CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE) /
         |  CAST(greatest(length(text), 1) AS DOUBLE) AS punct_ratio,
         |CASE WHEN len(toks) > 0 THEN
         |  CAST(len(list_filter(toks, x -> list_contains([$stop], x))) AS DOUBLE) / CAST(len(toks) AS DOUBLE)
         |  ELSE 0.0 END AS stopword_ratio,
         |CAST(length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')) AS DOUBLE) /
         |  CAST(greatest(length(text), 1) AS DOUBLE) AS upper_ratio
         |FROM f ORDER BY doc_id""".stripMargin
    },

    "q_lang_id" ->
      """WITH f AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9_]+') AS toks
        |  FROM documents),
        |p(ord, lang, markers) AS (VALUES
        |  (0, 'en', ['the','and','of','to','is']),
        |  (1, 'es', ['el','la','de','que','y']),
        |  (2, 'fr', ['le','la','de','et','les']),
        |  (3, 'de', ['der','die','und','das','ist'])),
        |sc AS (SELECT doc_id, ord, lang,
        |  CAST(len(list_filter(toks, x -> list_contains(markers, x))) AS DOUBLE) /
        |  CAST(greatest(len(toks), 1) AS DOUBLE) AS score
        |  FROM f CROSS JOIN p),
        |best AS (SELECT doc_id, lang,
        |  row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, ord) AS rn FROM sc)
        |SELECT doc_id, lang AS pred_lang FROM best WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    "q_dedup_minhash_lsh" ->
      """WITH toks AS (
        |  SELECT doc_id AS doc, unnest(regexp_extract_all(lower(text), '[a-z0-9_]+')) AS tok,
        |  generate_subscripts(regexp_extract_all(lower(text), '[a-z0-9_]+'), 1) AS ord
        |  FROM documents),
        |sh AS (SELECT DISTINCT doc, shingle FROM (
        |  SELECT doc, tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w AS shingle
        |  FROM toks WINDOW w AS (PARTITION BY doc ORDER BY ord)
        |) WHERE shingle IS NOT NULL),
        |sizes AS (SELECT doc, count(*) AS n_sh FROM sh GROUP BY 1),
        |inter AS (SELECT a.doc AS doc_a, b.doc AS doc_b, count(*) AS n_inter
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc < b.doc GROUP BY 1, 2)
        |SELECT doc_a, doc_b,
        |  CAST(n_inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE) AS jaccard
        |FROM inter JOIN sizes sa ON doc_a = sa.doc JOIN sizes sb ON doc_b = sb.doc
        |WHERE CAST(n_inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE) >= 0.5
        |ORDER BY doc_a, doc_b""".stripMargin,

    "q_fingerprint" ->
      """SELECT doc_id, sha256(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint_sha256
        |FROM documents ORDER BY doc_id""".stripMargin,

    // winnow recall-on-duplicates: constructed exact dups must ALL surface
    // as overlap pairs (identical fingerprint sets)
    "q_overlap_dups" ->
      """WITH aug AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |FROM aug a JOIN aug b ON a.text = b.text AND a.doc_id < b.doc_id
        |ORDER BY doc_a, doc_b""".stripMargin,

    // SimHash recall-at-distance-0: constructed exact dups (same augmentation
    // as the Spark side) must ALL be recovered by the banded pair join
    "q_dedup_simhash_dups" ->
      """WITH aug AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(0 AS INT) AS dist
        |FROM aug a JOIN aug b ON a.text = b.text AND a.doc_id < b.doc_id
        |ORDER BY doc_a, doc_b""".stripMargin,

    // lshTopK recall-at-cos=1: every query's planted exact copy must win
    // rank 1 with cos=1 — the expected top-1 set in closed form
    "q_ann_lsh_top1" ->
      """SELECT vec_id AS query_id, vec_id + 1000000 AS neighbor_id,
        |CAST(1.0 AS DOUBLE) AS cos
        |FROM embeddings WHERE vec_id < 3 ORDER BY query_id""".stripMargin,

    // LSH recall-at-cos=1: constructed exact-duplicate vectors must ALL be
    // recovered by the hyperplane-bucket pair join (identical vector →
    // identical code in every table); oracle = array-equality self-join
    "q_ann_lsh_dups" ->
      """WITH aug AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 1000000, embedding FROM embeddings WHERE vec_id % 10 = 0)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |FROM aug a JOIN aug b ON a.embedding = b.embedding AND a.vec_id < b.vec_id
        |ORDER BY id_a, id_b""".stripMargin,

    // HASH-CHECKED r5 (was rows-only): full value recomputation of the
    // winnowed MOSS fingerprints in DuckDB — Karp–Rabin polynomial mod 2^64
    // in HUGEINT arithmetic + rightmost window-min selection (winnowCtes)
    "q_fingerprint_winnow" ->
      s"""WITH $winnowCtes,
         |fp1 AS (
         |  SELECT DISTINCT doc_id, m.h AS fp, -m.np AS pos
         |  FROM slid WHERE ngrams > 16 AND pos <= ngrams - 16),
         |fp2 AS (
         |  SELECT doc_id, min(struct_pack(h := h, np := -pos)).h AS fp,
         |         -min(struct_pack(h := h, np := -pos)).np AS pos
         |  FROM win WHERE ngrams <= 16 GROUP BY doc_id)
         |SELECT doc_id, fp, CAST(pos AS INT) AS pos FROM fp1
         |UNION ALL SELECT doc_id, fp, CAST(pos AS INT) AS pos FROM fp2
         |ORDER BY doc_id, pos, fp""".stripMargin,

    // HASH-CHECKED r5 (was rows-only): overlap pairs rebuilt from the same
    // winnow recomputation — distinct fps per doc, df-cap <= 200, self-join
    "q_overlap_pairs" ->
      s"""WITH $winnowCtes,
         |fps AS (
         |  SELECT DISTINCT doc_id AS doc, m.h AS fp
         |  FROM slid WHERE ngrams > 16 AND pos <= ngrams - 16
         |  UNION
         |  SELECT doc_id AS doc, min(struct_pack(h := h, np := -pos)).h AS fp
         |  FROM win WHERE ngrams <= 16 GROUP BY doc_id),
         |rare AS (SELECT fp FROM fps GROUP BY fp HAVING count(*) <= 200),
         |fpr AS (SELECT doc, fps.fp FROM fps JOIN rare ON fps.fp = rare.fp)
         |SELECT a.doc AS doc_a, b.doc AS doc_b, count(*) AS shared_fps
         |FROM fpr a JOIN fpr b ON a.fp = b.fp AND a.doc < b.doc
         |GROUP BY 1, 2 HAVING count(*) >= 1
         |ORDER BY doc_a, doc_b""".stripMargin,

    // HASH-CHECKED r5 (was rows-only): every simhash value recomputed in
    // DuckDB from the md5-60-bit token hash (Dedup.md5Hash60) — tokenize,
    // 64 per-bit sign sums, bit assembly
    "q_dedup_simhash" ->
      """WITH toks AS (SELECT doc_id AS doc, unnest(regexp_extract_all(lower(text), '[a-z0-9_]+')) AS tok FROM documents),
        |h AS (SELECT doc, CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS h FROM toks),
        |bits AS (SELECT doc, b.i AS i, sum(CASE WHEN (h >> b.i) & 1 = 1 THEN 1 ELSE -1 END) AS s
        |         FROM h, (SELECT unnest(range(0, 64)) AS i) b GROUP BY doc, b.i)
        |SELECT doc, CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << i) ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS simhash
        |FROM bits GROUP BY doc ORDER BY doc""".stripMargin,

    // HASH-CHECKED r5 (was rows-only): the LSH ANN result itself — bucket
    // codes from Md5Planes, candidate set, cosines, and ranks all
    // recomputed in DuckDB (lshCodesCtes); 6 planes x 4 tables keeps
    // buckets populated so top-5 ranking is actually exercised
    "q_ann_lsh" ->
      s"""WITH ${lshCodesCtes(4, 6)},
         |cand AS (
         |  SELECT DISTINCT qc.vec_id AS query_id, cc.vec_id AS neighbor_id
         |  FROM codes qc JOIN codes cc ON qc.t = cc.t AND qc.code = cc.code
         |  WHERE qc.vec_id < 3 AND qc.vec_id <> cc.vec_id),
         |scored AS (
         |  SELECT cand.query_id, cand.neighbor_id, $lshCosSql AS cos
         |  FROM cand JOIN v a ON a.vec_id = cand.query_id JOIN v b ON b.vec_id = cand.neighbor_id),
         |ranked AS (SELECT query_id, neighbor_id, cos,
         |  row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank FROM scored)
         |SELECT query_id, neighbor_id, round(cos, 6) AS cos, CAST(rank AS INT) AS rank
         |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // HASH-CHECKED r5 (was rows-only): LSH near-dup pair set recomputed in
    // DuckDB — same Md5Planes codes (8 tables x 4 planes), verified at
    // cos >= 0.4 (measured fixture margin |cos - 0.4| >= 1.3e-4)
    "q_embed_neardup_lsh" ->
      s"""WITH ${lshCodesCtes(8, 4)},
         |cand AS (
         |  SELECT DISTINCT ac.vec_id AS id_a, bc.vec_id AS id_b
         |  FROM codes ac JOIN codes bc ON ac.t = bc.t AND ac.code = bc.code
         |  WHERE ac.vec_id < bc.vec_id),
         |scored AS (
         |  SELECT cand.id_a, cand.id_b, $lshCosSql AS cos
         |  FROM cand JOIN v a ON a.vec_id = cand.id_a JOIN v b ON b.vec_id = cand.id_b)
         |SELECT id_a, id_b, round(cos, 6) AS cos FROM scored WHERE cos >= 0.4
         |ORDER BY id_a, id_b""".stripMargin,

    "q_multimodal_stub" ->
      """SELECT CAST(doc_id AS BIGINT) AS media_id,
        |CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS modality,
        |CAST(octet_length(encode(text)) AS INT) AS n_bytes,
        |CAST(64 + octet_length(encode(text)) % 576 AS INT) AS fake_width,
        |CAST(64 + (octet_length(encode(text)) // 7) % 296 AS INT) AS fake_height,
        |CAST(CASE WHEN doc_id % 3 = 0 THEN 0 ELSE 1000 + octet_length(encode(text)) % 59000 END AS INT) AS fake_duration_ms
        |FROM documents ORDER BY media_id""".stripMargin,

    // real header decode: every field recomputable from the id formulas in
    // Multimodal.synthesizeMediaReal (png=45 B fixed, jpeg=17 B fixed,
    // wav=44 B header + 2 B/sample at 1000 Hz mono 16-bit)
    "q_multimodal_real" ->
      """SELECT CAST(doc_id AS BIGINT) AS media_id,
        |CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'wav' ELSE 'jpeg' END AS modality,
        |CAST(CASE doc_id % 3 WHEN 0 THEN 45 WHEN 1 THEN 44 + 2000 * (1 + doc_id % 30) ELSE 17 END AS INT) AS n_bytes,
        |CAST(CASE WHEN doc_id % 3 = 1 THEN 0 ELSE 64 + doc_id % 576 END AS INT) AS width,
        |CAST(CASE WHEN doc_id % 3 = 1 THEN 0 ELSE 64 + doc_id % 296 END AS INT) AS height,
        |CAST(CASE WHEN doc_id % 3 = 1 THEN 1000 * (1 + doc_id % 30) ELSE 0 END AS INT) AS duration_ms
        |FROM documents ORDER BY media_id""".stripMargin,

    "q_stream_window" ->
      """SELECT CAST(floor(epoch(ts) / 300) * 300 AS BIGINT) AS win_start,
        |event_type, count(*) AS n_events, round(sum(value), 4) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY win_start, event_type""".stripMargin,

    // append-mode twin: the same windows restricted to those the final
    // watermark (max ts - 10 min) has CLOSED — Spark evicts/emits a window
    // when window.end <= watermark (same predicate EventStreamSpec pins for
    // session windows)
    "q_stream_window_append" ->
      """SELECT win_start, event_type, n_events, sum_value FROM (
        |  SELECT CAST(floor(epoch(ts) / 300) * 300 AS BIGINT) AS win_start,
        |  event_type, count(*) AS n_events, round(sum(value), 4) AS sum_value
        |  FROM events GROUP BY 1, 2)
        |WHERE win_start + 300 <= (SELECT epoch(max(ts)) - 600 FROM events)
        |ORDER BY win_start, event_type""".stripMargin,

    "q_stream_users" ->
      """SELECT user_id, CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS win_start,
        |count(*) AS n FROM events GROUP BY 1, 2 ORDER BY user_id, win_start""".stripMargin,

    // append-mode twin: the same per-user windows restricted to those the
    // final watermark (max ts - 30 min) has CLOSED — Spark evicts/emits a
    // window when window.end <= watermark
    "q_stream_users_append" ->
      """SELECT user_id, win_start, n FROM (
        |  SELECT user_id, CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS win_start,
        |  count(*) AS n FROM events GROUP BY 1, 2)
        |WHERE win_start + 3600 <= (SELECT epoch(max(ts)) - 1800 FROM events)
        |ORDER BY user_id, win_start""".stripMargin,

    // gap-sessionization oracle: classic lag + cumulative break-flag session
    // ids; session end = last event + gap (Spark merged-session semantics);
    // a new session starts only when ts > prev + gap (session end INCLUSIVE:
    // an event at exactly prev + gap extends the session — EventStreamSpec)
    "q_sessionize" ->
      """WITH e AS (SELECT user_id, ts, value,
        |  lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev FROM events),
        |f AS (SELECT user_id, ts, value,
        |  CASE WHEN prev IS NULL OR ts > prev + INTERVAL 24 HOUR THEN 1 ELSE 0 END AS brk FROM e),
        |g AS (SELECT user_id, ts, value,
        |  sum(brk) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid FROM f)
        |SELECT user_id,
        |  CAST(floor(epoch(min(ts))) AS BIGINT) AS sess_start,
        |  CAST(floor(epoch(max(ts) + INTERVAL 24 HOUR)) AS BIGINT) AS sess_end,
        |  count(*) AS n_events, round(sum(value), 4) AS sum_value
        |FROM g GROUP BY user_id, sid ORDER BY user_id, sess_start""".stripMargin,

    "q_stream_state" ->
      """SELECT user_id, count(*) AS n_events, round(sum(value), 4) AS sum_value
        |FROM events GROUP BY 1 ORDER BY user_id""".stripMargin
  )
}
