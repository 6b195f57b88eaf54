package graft.oracle

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.index.Tokenize

/** Brute-force conjunctive BM25 with plain DataFrame ops — no index, no
  * custom kernels. The trusted reference scorer, the analog of the
  * reference's set-based test oracle (psi/utils/test_utils.h:40-51).
  *
  * Determinism contract shared with the engine (SURVEY.md §7.4 (1)):
  *   - docId = rank in the total order of (repo, path, commit)
  *   - per-doc score = Σ over query terms in ascending term order, in Double
  *   - tiebreak: (score desc, docId asc)
  * With identical (N, df, tf, dlen) longs both sides produce bit-identical
  * doubles, so rank identity is exact, not approximate.
  *
  * Uses a global window for docIds — fine at test scale only; the engine uses
  * the two-pass offset technique instead (SURVEY.md §2.5).
  */
object OracleBm25 {

  def idf(numDocs: Long, df: Long): Double =
    math.log(1.0 + (numDocs - df + 0.5) / (df + 0.5))

  /** Top-k (docId, score) for an AND query. */
  def topK(files: DataFrame, query: String, k: Int,
           k1: Double = 1.2, b: Double = 0.75): DataFrame =
    topKImpl(files, query, k, k1, b, conjunctive = true)

  /** Top-k for an OR query (docs score on whichever terms they contain). */
  def topKOr(files: DataFrame, query: String, k: Int,
             k1: Double = 1.2, b: Double = 0.75): DataFrame =
    topKImpl(files, query, k, k1, b, conjunctive = false)

  /** Window-free oracle for LARGE corpora, where the single-partition
    * row_number window above is infeasible: the caller supplies docIds
    * (e.g. the engine's published docs table joined back to the raw corpus
    * on the composite key — the mapping itself is independently verified
    * against SQL row_number at fixture scale). Same formula, same
    * determinism contract, bit-identical scores; query-term tf is filtered
    * BEFORE aggregation and dlen computed per-row, so the oracle itself
    * scales.
    */
  def topKScalable(filesWithId: DataFrame, query: String, k: Int,
                   k1: Double = 1.2, b: Double = 0.75,
                   conjunctive: Boolean = true,
                   restrictTo: Option[DataFrame] = None): DataFrame = {
    val spark = filesWithId.sparkSession
    import spark.implicits._
    val terms = Tokenize.tokenize(query).distinct.sorted
    val empty = Seq.empty[(Long, Double)].toDF("docId", "score")
    if (terms.isEmpty) return empty
    val dlen = filesWithId.select($"docId",
      size(Tokenize.termsCol($"content")).cast("int").as("dlen"))
    val tf = filesWithId
      .select($"docId", explode(Tokenize.termsCol($"content")).as("term"))
      .filter($"term".isin(terms: _*))
      .groupBy("docId", "term").agg(count(lit(1)).cast("int").as("tf"))
    val numDocs = filesWithId.count()
    val totalTokens = dlen.agg(sum($"dlen".cast("long"))).as[Long].head()
    val avgdl = totalTokens.toDouble / numDocs
    val dfByTerm = tf.groupBy("term").agg(count(lit(1)).as("df"))
      .as[(String, Long)].collect().toMap
    // AND: any absent term empties the result; OR: absent terms just drop out
    if (conjunctive && terms.exists(t => !dfByTerm.contains(t))) return empty
    if (dfByTerm.isEmpty) return empty
    val idfDf = broadcast(
      dfByTerm.keys.toSeq.sorted.map(t => (t, idf(numDocs, dfByTerm(t))))
        .toDF("term", "idf"))
    val scored = tf
      .join(dlen, "docId")
      .join(idfDf, "term")
      .withColumn("s",
        ($"idf" * ($"tf".cast("double") * lit(k1 + 1.0))) /
          ($"tf".cast("double") +
            lit(k1) * (lit(1.0) - lit(b) + lit(b) * ($"dlen".cast("double") / lit(avgdl)))))
    // restriction (e.g. phrase-containing docs) applies AFTER the global
    // stats (numDocs/avgdl/df) — the formula always uses corpus-wide stats
    val restricted = restrictTo.fold(scored)(r =>
      scored.join(r.select($"docId"), Seq("docId"), "left_semi"))
    restricted.groupBy("docId")
      .agg(count(lit(1)).as("nTerms"),
        aggregate(sort_array(collect_list(struct($"term", $"s"))),
          lit(0.0), (acc, x) => acc + x.getField("s")).as("score"))
      .filter(if (conjunctive) $"nTerms" === terms.length else lit(true))
      .select("docId", "score")
      .orderBy($"score".desc, $"docId".asc)
      .limit(k)
  }

  /** Window-free phrase oracle for LARGE corpora: ordered-adjacency candidate
    * docs via the posexplode join-chain (carried rows are only the PHRASE
    * terms' positions, so the chain scales with phrase-term frequency, not
    * corpus size), then the standard conjunctive scalable BM25 over the
    * phrase's distinct terms restricted to those docs — identical semantics
    * to [[topKPhrase]], identical determinism contract to [[topKScalable]].
    */
  def topKPhraseScalable(filesWithId: DataFrame, phrase: String, k: Int,
                         k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val spark = filesWithId.sparkSession
    import spark.implicits._
    val tokens = Tokenize.tokenize(phrase).toSeq
    val empty = Seq.empty[(Long, Double)].toDF("docId", "score")
    if (tokens.isEmpty) return empty
    val ptoks = filesWithId
      .select($"docId", posexplode(Tokenize.termsCol($"content")).as(Seq("ord", "term")))
      .filter($"term".isin(tokens.distinct: _*))
    var cand = ptoks.filter($"term" === tokens.head).select($"docId", $"ord")
    tokens.zipWithIndex.drop(1).foreach { case (t, j) =>
      val next = ptoks.filter($"term" === t)
        .select($"docId".as("d2"), $"ord".as("o2"))
      cand = cand.join(next, cand("docId") === $"d2" && $"o2" === cand("ord") + j)
        .select(cand("docId"), cand("ord"))
    }
    topKScalable(filesWithId, tokens.distinct.sorted.mkString(" "), k, k1, b,
      conjunctive = true, restrictTo = Some(cand.select("docId").distinct()))
  }

  /** Top-k AND query restricted to docs satisfying a metadata predicate. */
  /** Top-k for a conjunctive query with NEGATED terms: docs containing any
    * `exclude` term are dropped from the candidate set; scores/statistics
    * are the full-corpus ones (Lucene NOT semantics — matches
    * `Searcher.searchNot`).
    */
  def topKNot(files: DataFrame, query: String, exclude: String, k: Int,
              k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val negTerms = graft.index.Tokenize.tokenize(exclude).distinct
    if (negTerms.isEmpty) return topK(files, query, k, k1, b)
    val withId = files.withColumn("docId",
      (row_number().over(Window.orderBy("repo", "path", "commit")) - 1).cast("long"))
    val keep = withId.filter(!negTerms
      .map(t => array_contains(Tokenize.termsCol(col("content")), t))
      .reduce(_ || _)).select("docId")
    topKImpl(files, query, k, k1, b, conjunctive = true, restrictTo = Some(keep))
  }

  def topKWhere(files: DataFrame, query: String, k: Int,
                predicate: org.apache.spark.sql.Column,
                k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val withId = files.withColumn("docId",
      (row_number().over(Window.orderBy("repo", "path", "commit")) - 1).cast("long"))
    topKImpl(files, query, k, k1, b, conjunctive = true,
      restrictTo = Some(withId.filter(predicate).select("docId")))
  }

  /** Top-k for an exact-phrase query: ordered-adjacency via posexplode +
    * self-joins on token ordinals (plain DataFrame ops), then the standard
    * conjunctive BM25 over the phrase's distinct terms restricted to
    * phrase-containing docs — same determinism contract.
    */
  def topKPhrase(files: DataFrame, phrase: String, k: Int,
                 k1: Double = 1.2, b: Double = 0.75,
                 maxEnd: Int = Int.MaxValue): DataFrame = {
    val spark = files.sparkSession
    import spark.implicits._
    val tokens = Tokenize.tokenize(phrase).toSeq
    val empty = Seq.empty[(Long, Double)].toDF("docId", "score")
    if (tokens.isEmpty || maxEnd < tokens.length) return empty
    val withId = files.withColumn("docId",
      (row_number().over(Window.orderBy("repo", "path", "commit")) - 1).cast("long"))
    val ptoks = withId
      .select($"docId", posexplode(Tokenize.termsCol($"content")).as(Seq("ord", "term")))
    var cand = ptoks.filter($"term" === tokens.head).select($"docId", $"ord")
    tokens.zipWithIndex.drop(1).foreach { case (t, j) =>
      val next = ptoks.filter($"term" === t)
        .select($"docId".as("d2"), $"ord".as("o2"))
      cand = cand.join(next, cand("docId") === $"d2" && $"o2" === cand("ord") + j)
        .select(cand("docId"), cand("ord"))
    }
    // span-first bound: posexplode ords are 0-based, so an occurrence
    // starting at `ord` has exclusive span end ord + m — Lucene
    // SpanFirstQuery keeps it iff that end is <= maxEnd
    if (maxEnd != Int.MaxValue)
      cand = cand.filter(cand("ord") + tokens.length <= maxEnd)
    val phraseDocs = cand.select("docId").distinct()
    topKImpl(files, tokens.distinct.sorted.mkString(" "), k, k1, b,
      conjunctive = true, restrictTo = Some(phraseDocs))
  }

  /** Span-not oracle (Lucene SpanNotQuery): phrase occurrences whose token
    * window `[start − pre, end − 1 + post]` holds NO occurrence of the
    * exclude term survive; docs with ≥ 1 survivor score the standard
    * phrase contract — matches `Searcher.searchSpanNot`.
    */
  def topKSpanNot(files: DataFrame, phrase: String, exclude: String, k: Int,
                  pre: Int = 0, post: Int = 0,
                  k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val spark = files.sparkSession
    import spark.implicits._
    val tokens = Tokenize.tokenize(phrase).toSeq
    val exToks = Tokenize.tokenize(exclude)
    val empty = Seq.empty[(Long, Double)].toDF("docId", "score")
    if (tokens.isEmpty) return empty
    if (exToks.isEmpty) return topKPhrase(files, phrase, k, k1, b)
    // mirror the engine's searchSpanNot contract: a multi-token exclude is
    // rejected loudly rather than silently narrowing to its first token
    require(exToks.length == 1,
      s"span-not exclude must normalize to one token, got ${exToks.toSeq} from '$exclude'")
    val withId = files.withColumn("docId",
      (row_number().over(Window.orderBy("repo", "path", "commit")) - 1).cast("long"))
    val ptoks = withId
      .select($"docId", posexplode(Tokenize.termsCol($"content")).as(Seq("ord", "term")))
    var cand = ptoks.filter($"term" === tokens.head).select($"docId", $"ord")
    tokens.zipWithIndex.drop(1).foreach { case (t, j) =>
      val next = ptoks.filter($"term" === t)
        .select($"docId".as("d2"), $"ord".as("o2"))
      cand = cand.join(next, cand("docId") === $"d2" && $"o2" === cand("ord") + j)
        .select(cand("docId"), cand("ord"))
    }
    val exOcc = ptoks.filter($"term" === exToks.head)
      .select($"docId".as("xd"), $"ord".as("xo"))
    val kept = cand.join(exOcc,
      cand("docId") === $"xd" &&
        $"xo" >= cand("ord") - pre &&
        $"xo" <= cand("ord") + (tokens.length - 1) + post,
      "left_anti")
    topKImpl(files, tokens.distinct.sorted.mkString(" "), k, k1, b,
      conjunctive = true, restrictTo = Some(kept.select("docId").distinct()))
  }

  /** Top-k for a proximity query: docs where some span of ≤ `window`
    * consecutive tokens contains every distinct query term (exact MIN-COVER,
    * computed with plain window functions: for each occurrence of any query
    * term at ordinal `ord`, the smallest cover ENDING there spans from the
    * least of the per-term running "last occurrence ≤ ord" maxima to `ord`),
    * then the standard conjunctive BM25 restricted to those docs — matches
    * `Searcher.searchNear`.
    */
  def topKNear(files: DataFrame, query: String, window: Int, k: Int,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val spark = files.sparkSession
    import spark.implicits._
    val terms = Tokenize.tokenize(query).distinct.sorted
    val empty = Seq.empty[(Long, Double)].toDF("docId", "score")
    if (terms.isEmpty || window < terms.length) return empty
    val withId = files.withColumn("docId",
      (row_number().over(Window.orderBy("repo", "path", "commit")) - 1).cast("long"))
    val occ = withId
      .select($"docId", posexplode(Tokenize.termsCol($"content")).as(Seq("ord", "term")))
      .filter($"term".isin(terms: _*))
    val w = Window.partitionBy("docId").orderBy("ord")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val lastCols = terms.zipWithIndex.map { case (t, i) =>
      max(when($"term" === t, $"ord")).over(w).as(s"l_$i") }
    val filled = occ.select(($"docId" +: $"ord" +: lastCols): _*)
    val allSeen = terms.indices.map(i => col(s"l_$i").isNotNull).reduce(_ && _)
    val minLast = if (terms.length == 1) col("l_0")
                  else least(terms.indices.map(i => col(s"l_$i")): _*)
    val nearDocs = filled
      .filter(allSeen && ($"ord" - minLast + 1 <= window))
      .select("docId").distinct()
    topKImpl(files, query, k, k1, b, conjunctive = true,
      restrictTo = Some(nearDocs))
  }

  /** Ordered-proximity oracle (inOrder SpanNear): a doc matches when SOME
    * strictly-increasing position chain follows the query's token order
    * (duplicates meaningful) inside a span ≤ window. Existence is checked
    * by a literal join chain over the per-slot occurrence tables — any
    * chain, not the engine's greedy one, which is equivalent for
    * existence. Survivors score plain conjunctive BM25, identically to
    * [[topKNear]].
    */
  def topKNearOrdered(files: DataFrame, query: String, window: Int, k: Int,
                      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val spark = files.sparkSession
    import spark.implicits._
    val seq = Tokenize.tokenize(query)
    val empty = Seq.empty[(Long, Double)].toDF("docId", "score")
    if (seq.isEmpty || window < seq.length) return empty
    val withId = files.withColumn("docId",
      (row_number().over(Window.orderBy("repo", "path", "commit")) - 1).cast("long"))
    val occ = withId
      .select($"docId", posexplode(Tokenize.termsCol($"content")).as(Seq("ord", "term")))
      .filter($"term".isin(seq.distinct: _*))
    var chain = occ.filter($"term" === seq.head)
      .select($"docId", $"ord".as("ord0"))
    for (i <- 1 until seq.length) {
      val oi = occ.filter($"term" === seq(i))
        .select($"docId".as(s"d$i"), $"ord".as(s"ord$i"))
      chain = chain.join(oi,
        chain("docId") === oi(s"d$i") && col(s"ord$i") > col(s"ord${i - 1}"))
        .drop(s"d$i")
    }
    val nearDocs = chain
      .filter(col(s"ord${seq.length - 1}") - $"ord0" + 1 <= window)
      .select("docId").distinct()
    topKImpl(files, query, k, k1, b, conjunctive = true,
      restrictTo = Some(nearDocs))
  }

  /** Top-k for a boolean tree (AND/OR/NOT nesting): per-term BM25 scores
    * are computed with the same DataFrame ops as [[topK]]; the match test
    * and clause-sum score then reuse the ENGINE's own tree walker
    * ([[graft.query.BoolQuery.evalScore]]) over a per-doc term→score map —
    * so the depth-first summation order is identical by construction and
    * only the per-term doubles (checked bit-exact by every other gate) are
    * independently derived.
    */
  def topKBool(files: DataFrame, tree: graft.query.BoolQ, k: Int,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val spark = files.sparkSession
    import spark.implicits._
    import graft.query.BoolQuery
    val terms = BoolQuery.leafTerms(tree)
    val empty = Seq.empty[(Long, Double)].toDF("docId", "score")
    if (terms.isEmpty) return empty
    val withId = files.withColumn("docId",
      (row_number().over(Window.orderBy("repo", "path", "commit")) - 1).cast("long"))
    val tf = withId
      .select($"docId", explode(Tokenize.termsCol($"content")).as("term"))
      .groupBy("docId", "term").agg(count(lit(1)).cast("int").as("tf"))
    val dlen = tf.groupBy("docId").agg(sum("tf").cast("int").as("dlen"))
    val numDocs = files.count()
    val totalTokens = dlen.agg(sum($"dlen".cast("long"))).as[Long].head()
    val avgdl = totalTokens.toDouble / numDocs
    val dfByTerm = tf.filter($"term".isin(terms: _*))
      .groupBy("term").agg(count(lit(1)).as("df"))
      .as[(String, Long)].collect().toMap
    if (dfByTerm.isEmpty) return empty
    val idfDf = broadcast(
      dfByTerm.keys.toSeq.sorted.map(t => (t, idf(numDocs, dfByTerm(t))))
        .toDF("term", "idf"))
    // phrase leaves: the adjacency doc set per phrase, derived with the
    // same chain-join as topKPhrase (independent of the engine's chain walk)
    val phraseDocs: Map[graft.query.BoolQ.Span, Set[Long]] =
      BoolQuery.spanLeaves(tree).map { p =>
        val ts = p match {
          case graft.query.BoolQ.Phrase(ts) => ts
          case _ => throw new IllegalArgumentException(
            s"topKBool checks phrase leaves only, got the span $p")
        }
        val ptoks = withId.select($"docId",
          posexplode(Tokenize.termsCol($"content")).as(Seq("ord", "term")))
        var cand = ptoks.filter($"term" === ts.head).select($"docId", $"ord")
        ts.zipWithIndex.drop(1).foreach { case (t, j) =>
          val next = ptoks.filter($"term" === t)
            .select($"docId".as("d2"), $"ord".as("o2"))
          cand = cand.join(next,
            cand("docId") === $"d2" && $"o2" === cand("ord") + j)
            .select(cand("docId"), cand("ord"))
        }
        p -> cand.select("docId").distinct().as[Long].collect().toSet
      }.toMap
    val perDoc = tf.filter($"term".isin(terms: _*))
      .join(dlen, "docId")
      .join(idfDf, "term")
      .withColumn("s",
        ($"idf" * ($"tf".cast("double") * lit(k1 + 1.0))) /
          ($"tf".cast("double") +
            lit(k1) * (lit(1.0) - lit(b) + lit(b) * ($"dlen".cast("double") / lit(avgdl)))))
      .groupBy("docId")
      .agg(map_from_entries(collect_list(struct($"term", $"s"))).as("m"))
      .as[(Long, Map[String, Double])]
    perDoc.map { case (d, m) =>
        (d, BoolQuery.evalScore(tree, m.contains, m(_),
          p => phraseDocs(p).contains(d)))
      }
      .filter(!_._2.isNaN)
      .toDF("docId", "score")
      .orderBy($"score".desc, $"docId".asc)
      .limit(k)
  }

  /** Top-k for more-like-this: the representative-term selection (tf ≥
    * minTermFreq, df ≥ minDocFreq, tf·idf desc / term asc, cap
    * maxQueryTerms) is re-derived INDEPENDENTLY from the raw text, then
    * scored as a plain OR query with the seed excluded — mirroring
    * [[graft.query.Searcher.moreLikeThis]]'s contract.
    */
  def topKMlt(files: DataFrame, seedDocId: Long, k: Int,
              maxQueryTerms: Int = 25, minTermFreq: Int = 2,
              minDocFreq: Int = 5): DataFrame = {
    val spark = files.sparkSession
    import spark.implicits._
    val withId = files.withColumn("docId",
      (row_number().over(Window.orderBy("repo", "path", "commit")) - 1).cast("long"))
    val tf = withId
      .select($"docId", explode(Tokenize.termsCol($"content")).as("term"))
      .groupBy("docId", "term").agg(count(lit(1)).cast("int").as("tf"))
    val seedTf = tf.filter($"docId" === seedDocId && $"tf" >= minTermFreq)
      .select("term", "tf").as[(String, Int)].collect().toMap
    val numDocs = files.count()
    val dfByTerm = tf.filter($"term".isin(seedTf.keys.toSeq: _*))
      .groupBy("term").agg(count(lit(1)).as("df"))
      .as[(String, Long)].collect().toMap
    val selected = seedTf.keys.toSeq.sorted
      .filter(t => dfByTerm.getOrElse(t, 0L) >= minDocFreq)
      .map(t => (t, seedTf(t).toDouble * idf(numDocs, dfByTerm(t))))
      .sortBy { case (t, s) => (-s, t) }
      .take(maxQueryTerms).map(_._1)
    if (selected.isEmpty)
      return Seq.empty[(Long, Double)].toDF("docId", "score")
    topKOr(files, selected.mkString(" "), k + 1)
      .filter($"docId" =!= seedDocId)
      .orderBy($"score".desc, $"docId".asc).limit(k)
  }

  /** Top-k for a SYNONYM query (Lucene SynonymQuery semantics): the
    * variants score as ONE term — per-doc tf is the SUM over variants
    * (exact integer sum) and the idf uses the blended df (the MAX of the
    * variants' dfs). Dead variants drop out; all dead = empty.
    */
  def topKSynonym(files: DataFrame, variants: Seq[String], k: Int,
                  k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val spark = files.sparkSession
    import spark.implicits._
    val terms = variants.flatMap(Tokenize.tokenize(_)).distinct.sorted
    val empty = Seq.empty[(Long, Double)].toDF("docId", "score")
    if (terms.isEmpty) return empty
    val withId = files.withColumn("docId",
      (row_number().over(Window.orderBy("repo", "path", "commit")) - 1).cast("long"))
    val tf = withId
      .select($"docId", explode(Tokenize.termsCol($"content")).as("term"))
      .groupBy("docId", "term").agg(count(lit(1)).cast("int").as("tf"))
    val dlen = tf.groupBy("docId").agg(sum("tf").cast("int").as("dlen"))
    val numDocs = files.count()
    val totalTokens = dlen.agg(sum($"dlen")).as[Long].head()
    val avgdl = totalTokens.toDouble / numDocs
    val dfByTerm = tf.filter($"term".isin(terms: _*))
      .groupBy("term").agg(count(lit(1)).as("df"))
      .as[(String, Long)].collect().toMap
    if (dfByTerm.isEmpty) return empty
    val idfSyn = idf(numDocs, dfByTerm.values.max) // blended df = max
    tf.filter($"term".isin(terms: _*))
      .groupBy("docId").agg(sum($"tf").as("tfSum"))
      .join(dlen, "docId")
      .select($"docId",
        ((lit(idfSyn) * ($"tfSum".cast("double") * lit(k1 + 1.0))) /
          ($"tfSum".cast("double") +
            lit(k1) * (lit(1.0) - lit(b) +
              lit(b) * ($"dlen".cast("double") / lit(avgdl))))).as("score"))
      .orderBy($"score".desc, $"docId".asc)
      .limit(k)
  }

  /** Brute-force multi-phrase oracle (Lucene MultiPhraseQuery): the chain
    * self-joins accept ANY member of the slot's alternative set at each
    * ordinal; survivors score the synonym contract per distinct slot (tf
    * summed over present members, idf from the blended max member df),
    * summed in ascending slot-key order — matches
    * `Searcher.searchMultiPhrase` bit-exactly.
    */
  def topKMultiPhrase(files: DataFrame, slots: Seq[Seq[String]], k: Int,
                      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val spark = files.sparkSession
    import spark.implicits._
    val slotTerms = slots.map(_.flatMap(Tokenize.tokenize(_)).distinct.sorted)
    val empty = Seq.empty[(Long, Double)].toDF("docId", "score")
    if (slotTerms.isEmpty || slotTerms.exists(_.isEmpty)) return empty
    val withId = files.withColumn("docId",
      (row_number().over(Window.orderBy("repo", "path", "commit")) - 1).cast("long"))
    val ptoks = withId
      .select($"docId", posexplode(Tokenize.termsCol($"content")).as(Seq("ord", "term")))
    var cand = ptoks.filter($"term".isin(slotTerms.head: _*))
      .select($"docId", $"ord")
    slotTerms.zipWithIndex.drop(1).foreach { case (ts, j) =>
      val next = ptoks.filter($"term".isin(ts: _*))
        .select($"docId".as("d2"), $"ord".as("o2"))
      cand = cand.join(next, cand("docId") === $"d2" && $"o2" === cand("ord") + j)
        .select(cand("docId"), cand("ord"))
    }
    val pdocs = cand.select("docId").distinct()
    val tf = withId
      .select($"docId", explode(Tokenize.termsCol($"content")).as("term"))
      .groupBy("docId", "term").agg(count(lit(1)).cast("int").as("tf"))
    val dlen = tf.groupBy("docId").agg(sum("tf").cast("int").as("dlen"))
    val numDocs = files.count()
    val avgdl = dlen.agg(sum($"dlen")).as[Long].head().toDouble / numDocs
    val allTerms = slotTerms.flatten.distinct
    val dfByTerm = tf.filter($"term".isin(allTerms: _*))
      .groupBy("term").agg(count(lit(1)).as("df"))
      .as[(String, Long)].collect().toMap
    val liveSlots = slotTerms.map(_.filter(dfByTerm.contains))
    if (liveSlots.exists(_.isEmpty)) return empty
    // distinct slots in ascending key order — the kernel's score-sum order
    val distinctSlots = liveSlots.map(ms => ms.mkString("|") -> ms)
      .distinctBy(_._1).sortBy(_._1)
    var joined = pdocs.join(dlen, "docId")
    val slotCols = distinctSlots.zipWithIndex.map { case ((key, members), i) =>
      val slotTf = tf.filter($"term".isin(members: _*))
        .groupBy("docId").agg(sum($"tf").as(s"tfs_$i"))
      joined = joined.join(slotTf, "docId")
      val idfS = idf(numDocs, members.map(dfByTerm).max)
      (lit(idfS) * (col(s"tfs_$i").cast("double") * lit(k1 + 1.0))) /
        (col(s"tfs_$i").cast("double") +
          lit(k1) * (lit(1.0) - lit(b) +
            lit(b) * ($"dlen".cast("double") / lit(avgdl))))
    }
    joined
      .select($"docId", slotCols.reduce(_ + _).as("score"))
      .orderBy($"score".desc, $"docId".asc)
      .limit(k)
  }

  private def topKImpl(files: DataFrame, query: String, k: Int,
                       k1: Double, b: Double, conjunctive: Boolean,
                       restrictTo: Option[DataFrame] = None): DataFrame = {
    val spark = files.sparkSession
    import spark.implicits._
    val terms = Tokenize.tokenize(query).distinct.sorted
    val empty = Seq.empty[(Long, Double)].toDF("docId", "score")
    if (terms.isEmpty) return empty

    val withId = files.withColumn("docId",
      (row_number().over(Window.orderBy("repo", "path", "commit")) - 1).cast("long"))
    val tf = withId
      .select($"docId", explode(Tokenize.termsCol($"content")).as("term"))
      .groupBy("docId", "term").agg(count(lit(1)).cast("int").as("tf"))
    val dlen = tf.groupBy("docId").agg(sum("tf").cast("int").as("dlen"))
    val numDocs = files.count()
    val totalTokens = dlen.agg(sum($"dlen")).as[Long].head()
    val avgdl = totalTokens.toDouble / numDocs

    val dfByTerm = tf.filter($"term".isin(terms: _*))
      .groupBy("term").agg(count(lit(1)).as("df"))
      .as[(String, Long)].collect().toMap
    if (conjunctive && terms.exists(t => !dfByTerm.contains(t))) return empty
    if (dfByTerm.isEmpty) return empty
    val idfDf = broadcast(
      dfByTerm.keys.toSeq.sorted.map(t => (t, idf(numDocs, dfByTerm(t))))
        .toDF("term", "idf"))

    val scored = tf.filter($"term".isin(terms: _*))
      .join(dlen, "docId")
      .join(idfDf, "term")
      .withColumn("s",
        ($"idf" * ($"tf".cast("double") * lit(k1 + 1.0))) /
          ($"tf".cast("double") +
            lit(k1) * (lit(1.0) - lit(b) + lit(b) * ($"dlen".cast("double") / lit(avgdl)))))

    val agg = scored.groupBy("docId")
      .agg(count(lit(1)).as("nTerms"),
        aggregate(sort_array(collect_list(struct($"term", $"s"))),
          lit(0.0), (acc, x) => acc + x.getField("s")).as("score"))
      .filter(if (conjunctive) $"nTerms" === terms.length else $"nTerms" >= 1)
    restrictTo.fold(agg)(docs => agg.join(docs, Seq("docId"), "left_semi"))
      .select("docId", "score")
      .orderBy($"score".desc, $"docId".asc)
      .limit(k)
  }
}
