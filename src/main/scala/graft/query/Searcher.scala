package graft.query

import scala.collection.mutable
import scala.reflect.ClassTag

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator

import graft._
import graft.index.{Codec, IndexBuilder, IndexFiles, IndexMeta, Tokenize, Tombstones}

/** Top-k BM25 search over the compressed posting index.
  *
  * Every non-positional mode — AND, OR, NOT, metadata-filtered, the
  * prefix / regex / wildcard / fuzzy / term-range expansions, more-like-this
  * and boolean trees — compiles to a [[BoolQ]] tree and runs through one
  * per-shard harness and one kernel, [[Searcher.scoreShardBool]]; phrase,
  * span and near queries compile to a [[BoolQ.Span]] leaf and run through
  * the same harness and the one positional kernel,
  * [[Searcher.scoreShardBoolPos]].
  *
  * The PSI analog: a query is a multi-list intersection — the same dataflow as
  * the reference's per-bucket dense-map probe
  * (`GetIntersectionReceiver`, psi/algorithm/rr22/rr22_utils.cc:51-150) — done
  * here as galloping intersection of delta-compressed posting lists inside
  * `mapGroups` over a Catalyst-planned, predicate-pushed parquet scan. Shards
  * are docId ranges, so all of a shard's lists are co-grouped and the
  * intersection is embarrassingly parallel across shards with no posting
  * re-shuffle of anything but the query's own (filtered) segments.
  *
  * Block-max pruning: each 128-posting block carries an admissible upper
  * bound of the BM25 tf-normalization; a candidate is scored only if the
  * tree's bound over Σ_t idf_t·(k1+1)·blockMax_t can still beat the current
  * k-th score — the WAND/BMW idea applied to the tree traversal.
  */
class Searcher(spark: SparkSession, indexDir: String,
               deltaDirs: Seq[String] = Nil,
               termCacheCap: Int = Searcher.DefaultTermCacheCap,
               tombstones: Option[String] = None) extends AutoCloseable {
  import spark.implicits._

  private val allDirs = indexDir +: deltaDirs
  private val baseMeta: IndexMeta = IndexBuilder.readMeta(indexDir)

  /** Combined metadata over base + streaming deltas: corpus-level stats
    * (numDocs, avgdl) are the SUM over parts, so BM25 idf/norms reflect the
    * whole logical corpus.
    */
  val meta: IndexMeta = if (deltaDirs.isEmpty) baseMeta else {
    val metas = allDirs.map(IndexBuilder.readMeta)
    require(metas.forall(m => m.k1 == baseMeta.k1 && m.b == baseMeta.b &&
      m.docsPerShard == baseMeta.docsPerShard),
      "base and delta indexes must share k1/b/docsPerShard")
    val nd = metas.map(_.numDocs).sum
    val tt = metas.map(_.totalTokens).sum
    baseMeta.copy(numDocs = nd, totalTokens = tt, avgdl = tt.toDouble / nd,
      numTerms = -1, numSegments = metas.map(_.numSegments).sum)
  }

  // r5: block-max pruning is ALWAYS on (r4 hard-disabled it whenever deltas
  // or tombstones existed). With streaming deltas the stored blockMaxTfn
  // (computed against each part's own avgdl) is stale, so decodeTermList
  // re-derives admissible bounds from the avgdl-free per-block stats
  // (Codec.recomputeBlockUb over blockMaxTf/blockMinDlen) under the
  // COMBINED corpus avgdl, and re-aligns bounds across concatenated
  // segments; tombstoned / NOT-filtered shards rebuild block alignment
  // inside withoutDeleted. `forcePruningOff` is the test hook for the
  // pruning-on/off bit-identity specs.
  private[graft] var forcePruningOff: Boolean = false
  private def usePruning: Boolean = !forcePruningOff
  // stored blockMaxTfn is reusable as-is only when no deltas shift avgdl
  private val needReBound = deltaDirs.nonEmpty

  // the index tables are read with their fixed schemas (IndexFiles), so
  // opening a Searcher launches no Spark job, whatever the number of delta
  // dirs; base and deltas must agree on positional-ness
  private val postings = IndexFiles.postings(spark, allDirs)
  private val positional = IndexFiles.isPositional(postings)
  private val dlens = IndexFiles.dlens(spark, allDirs)
  private lazy val docs = IndexFiles.docs(spark, allDirs)
  private lazy val dict = IndexFiles.dict(spark, allDirs)

  /** Dictionary with df summed over base+deltas — the input every expansion
    * path (prefix/wildcard/regex/range/fuzzy/suggest) ranks on. With a
    * single index dir the term rows are already unique, so the
    * exchange+aggregation over the whole dictionary is skipped (r6) — the
    * expansion becomes filter → TakeOrdered on the pruned dict scan.
    */
  private lazy val dictByTerm =
    if (allDirs.size == 1) dict.select($"term", $"df")
    else dict.groupBy("term").agg(sum($"df").as("df"))

  /** In-memory per-shard document-length rows (the Lucene norms-in-RAM
    * analog), read on the driver with no Spark job (`IndexFiles.lens`) and
    * broadcast ONCE per Searcher when the whole
    * corpus's norms fit a fixed byte cap (numDocs × 4 B ≤ 64 MB, i.e.
    * ≤ ~16.7M docs): every query then runs as ONE grouped input instead of
    * a two-sided cogroup — no per-query dlens scan and no second exchange
    * branch (r6). Above the cap — the 100 TB regime, where norms are
    * 0.4 B+ rows — [[perShard]] falls back to the r5 cogroup against
    * the pruned dlens scan, the scale-safe plan. The threshold is derived
    * from DATA size, never core count; the index is immutable for the
    * lifetime of a Searcher (the same argument as the term-metadata LRU),
    * so the cache can never serve stale lengths. [[close]] destroys the
    * broadcast; `null` until the first query that needs it.
    */
  private val DlensCacheMaxBytes = 64L << 20
  private var dlensCacheBc
      : Option[org.apache.spark.broadcast.Broadcast[Map[Int, ShardLens]]] = null
  private var closed = false

  /** Test hook: every query runs on the cogroup plan, as on an index whose
    * norms exceed the broadcast cap, so both plans run under test.
    */
  private[graft] var forceNormsCogroup: Boolean = false

  /** The norms broadcast, created on first use; None on the cogroup plan.
    * Throws once [[close]] ran.
    */
  private def dlensCache
      : Option[org.apache.spark.broadcast.Broadcast[Map[Int, ShardLens]]] =
    synchronized {
      if (closed) throw new IllegalStateException(
        s"Searcher over $indexDir is closed: its norms broadcast was destroyed")
      if (forceNormsCogroup) None
      else {
        if (dlensCacheBc == null) dlensCacheBc =
          if (meta.numDocs * 4L > DlensCacheMaxBytes) None
          else {
            val merged = IndexFiles.lens(spark, allDirs).groupBy(_.shard)
              .map { case (s, rs) => s -> Searcher.mergeLens(rs.iterator) }
            Some(spark.sparkContext.broadcast(merged))
          }
        dlensCacheBc
      }
    }

  /** Destroys the norms broadcast, if one was created, so a session that
    * opens many Searchers does not keep their broadcast blocks. Idempotent.
    * Every later query through the per-shard harness fails with an
    * `IllegalStateException`.
    */
  override def close(): Unit = synchronized {
    if (!closed) {
      closed = true
      if (dlensCacheBc != null) dlensCacheBc.foreach(_.destroy())
    }
  }

  /** The per-shard harness every query path runs through. It fetches the
    * segments of `terms` in `candShards` (`term IN` and `shard IN` both
    * reach the parquet scan), the `extra` segments (a filter's docId runs)
    * and each shard's tombstone runs under [[Searcher.DeletedTerm]], groups
    * them by shard, and hands `kernel` one shard's segments by term, its
    * merged norms row and its sorted deleted docIds. A shard where some
    * group of `need` has no segment cannot match: it is skipped before the
    * kernel and not counted in `shardsTouched`. `S` is the schema the
    * kernel decodes: [[PostingSegP]] for the positional kernel,
    * [[PostingSeg]] for the others.
    *
    * Norms come from the broadcast cache when they fit (one grouped input),
    * else from a cogroup against the pruned dlens scan; both plans hand the
    * kernel the same merged row, so they run the identical kernel.
    */
  private def perShard[S <: Segment : Encoder : ClassTag, T: Encoder](
      terms: Seq[String], candShards: Seq[Int], need: Seq[Seq[String]],
      extra: Option[Dataset[PostingSeg]] = None)(
      kernel: (Map[String, Array[S]], ShardLens, Array[Long]) => Iterator[T])
      : Dataset[T] = {
    // Row groups within a postings file are term-ranged, so the scan skips
    // row groups only once a file holds several; a file that is a single
    // row group (small indexes) is read whole and filtered after the scan.
    val fetched = postings.filter($"term".isin(terms: _*) && $"shard".isin(candShards: _*))
    val segs = (extra.toSeq :+ exclusionSegs(candShards))
      .foldLeft(fetched)((all, e) => all.unionByName(e.toDF(), allowMissingColumns = true))
      .as[S].groupByKey(_.shard)
    val accT = shardsTouched
    val run = (_: Int, segIt: Iterator[S], lenIt: Iterator[ShardLens]) => {
      val (del, rest) = segIt.toArray.partition(_.term == Searcher.DeletedTerm)
      val segsByTerm = rest.groupBy(_.term)
      if (segsByTerm.isEmpty || !lenIt.hasNext ||
          need.exists(!_.exists(segsByTerm.contains))) Iterator.empty
      else {
        accT.add(1)
        kernel(segsByTerm, Searcher.mergeLens(lenIt), Searcher.decodeDeleted(del))
      }
    }
    dlensCache match {
      case Some(bc) =>
        segs.flatMapGroups { (shard: Int, it: Iterator[S]) =>
          run(shard, it, bc.value.get(shard).iterator)
        }
      case None =>
        segs.cogroup(dlens.filter($"shard".isin(candShards: _*)).as[ShardLens]
          .groupByKey(_.shard))(run)
    }
  }

  /** Tombstoned (deleted) docs — parquet of (docId, shard) written by
    * `Tombstones.applyDeletes`, read through `Tombstones.read` so a swap
    * interrupted between its two renames serves the .bak generation.
    * Lucene deletion semantics: deleted docs are
    * excluded from every query path, but df/avgdl remain those of the full
    * corpus until a compaction physically removes the docs and recomputes
    * statistics (exactly Lucene's docFreq-includes-deletes behavior).
    * Shards with deletions keep block-max pruning: `withoutDeleted` rebuilds
    * the block alignment of the filtered lists from the original block
    * bounds (admissible — deletion only removes postings); compaction
    * restores the tight build-time bounds.
    */
  private lazy val tombstoneDf = tombstones.map(Tombstones.read(spark, _))

  /** The candidate shards' sorted deleted docIds as runs under
    * [[Searcher.DeletedTerm]], which [[perShard]] splits off before the
    * kernel.
    */
  private def exclusionSegs(candShards: Seq[Int]): Dataset[PostingSeg] =
    tombstoneDf match {
      case None => spark.emptyDataset[PostingSeg]
      case Some(ts) => Searcher.deletedRuns(ts.filter($"shard".isin(candShards: _*)))
    }

  /** Driver-side term metadata cache: df (global, summed over base+deltas)
    * and the sorted set of shards holding the term. The index is immutable
    * for the lifetime of a Searcher, so caching is sound — this is the
    * in-memory term dictionary every native engine keeps (the reference
    * holds its small side wholly in memory the same way,
    * psi/utils/ec_point_store.cc:441-460). UNSEEN terms are read from the
    * dictionary on the driver, with no Spark job (`IndexFiles.DictReader`:
    * the dict rows carry each term's shard list, and a lookup reads only
    * the dict files whose footer term range covers the term); absent terms
    * are cached too, with df 0.
    *
    * Bounded LRU (access-order, cap `termCacheCap`, default 1M entries):
    * a long-lived query service over an adversarial/unbounded query stream
    * must not grow the driver heap without limit; an evicted term simply
    * pays one dictionary read again. Entry cost ~100 B → the default cap is
    * ~100 MB worst case.
    */
  private val termInfoCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, Searcher.TermInfo](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, Searcher.TermInfo]): Boolean =
        size() > termCacheCap
    })

  private[graft] def termCacheSize: Int = termInfoCache.size()

  private val dictReader = new IndexFiles.DictReader(spark, allDirs)

  private[graft] def lookupTerms(terms: Seq[String]): Map[String, Searcher.TermInfo] = {
    // snapshot hits locally — never re-read the cache after the puts below,
    // so a concurrent eviction between put and re-get cannot surface a null
    val found = terms.flatMap(t => Option(termInfoCache.get(t)).map(t -> _)).toMap
    val missing = terms.filterNot(found.contains)
    if (missing.isEmpty) found
    else {
      val rows = dictReader.lookup(missing)
      found ++ missing.map { t =>
        val info = rows.get(t).fold(Searcher.TermInfo(0L, Array.emptyIntArray))(r =>
          Searcher.TermInfo(r.df, r.shards))
        termInfoCache.put(t, info)
        t -> info
      }
    }
  }

  // query metrics (north-rule lineage/metrics requirement)
  val candidatesScored: LongAccumulator = spark.sparkContext.longAccumulator("bm25.candidatesScored")
  val candidatesPruned: LongAccumulator = spark.sparkContext.longAccumulator("bm25.candidatesPruned")
  val shardsTouched: LongAccumulator = spark.sparkContext.longAccumulator("bm25.shardsTouched")

  /** Robertson idf (the `1 +` variant keeps it positive). Must match the
    * oracle bit-for-bit — both compute from the same (N, df) longs.
    */
  def idf(numDocs: Long, df: Long): Double =
    math.log(1.0 + (numDocs - df + 0.5) / (df + 0.5))

  /** Top-k hits `(docId, score)` of the conjunction of the query's terms,
    * rank-identical to the brute-force oracle: deterministic tiebreak
    * (score desc, docId asc), per-doc term scores accumulated in
    * ascending-term order in Double.
    */
  def search(query: String, k: Int): Dataset[Hit] =
    searchFlat(Tokenize.tokenize(query).toSeq, conjunctive = true, k)

  /** CURSOR pagination (Lucene's `searchAfter`): the next k hits strictly
    * AFTER `after` in the exact (score desc, docId asc) ranking. Unlike
    * [[searchPage]] (offset paging — per-shard heaps grow to `from + k`,
    * cost linear in the page depth), the cursor keeps every per-shard heap
    * at size k regardless of how deep the page is: each kernel admits only
    * hits ranked after the cursor, so page N costs the same as page 1.
    * Pages tile the exact ranking: `search(q, k)` then repeated
    * `searchAfter(q, k, lastHitOfPreviousPage)`.
    */
  def searchAfter(query: String, k: Int, after: Hit): Dataset[Hit] = {
    require(after != null, "searchAfter needs a cursor hit; use search() for page 1")
    searchFlat(Tokenize.tokenize(query).toSeq, conjunctive = true, k, after)
  }

  /** Top-k of the flat AND (`conjunctive`) or OR tree over `terms`, after
    * the cursor when one is given; empty when there is no term.
    */
  private def searchFlat(terms: Seq[String], conjunctive: Boolean, k: Int,
                         after: Hit = null): Dataset[Hit] =
    topK(flatTree(terms, conjunctive).flatMap(treeHits(_, k, after)), k)

  /** The flat AND / OR tree over the DISTINCT terms in ascending order —
    * never the raw token sequence: a tree sums its children in child order,
    * so unsorted leaves would add in another order than the oracle, and a
    * repeated leaf would score twice. None when there is no term.
    */
  private def flatTree(terms: Seq[String], conjunctive: Boolean): Option[BoolQ] = {
    val leaves: Vector[BoolQ] = terms.distinct.sorted.map(BoolQ.Term(_)).toVector
    if (leaves.isEmpty) None
    else Some(if (conjunctive) BoolQ.And(leaves) else BoolQ.Or(leaves))
  }

  /** The global top-k cut of a per-shard hit stream. */
  private def topK(hits: Option[Dataset[Hit]], k: Int): Dataset[Hit] =
    hits.fold(spark.emptyDataset[Hit])(_.orderBy($"score".desc, $"docId".asc).limit(k))

  /** The per-shard harness of every BM25 tree mode: a boolean tree's
    * UNORDERED per-shard hit stream — each candidate shard emits its own
    * top-k (after the cursor, when one is given) from
    * [[Searcher.scoreShardBool]], or from [[Searcher.scoreShardBoolPos]]
    * when the tree holds a span leaf (phrase, span and near queries); the
    * caller orders and cuts. `None` when the tree cannot match (a
    * multi-term leaf expands to nothing where a match needs it, a required
    * term is absent from the dictionary, no shard can satisfy the tree),
    * decided on the driver with no Spark job. With `k = Int.MaxValue` the
    * stream is the FULL match set with exact scores, at most
    * `docsPerShard` rows per shard.
    *
    * The kernels hold one list per leaf key ([[BoolQuery.leafKeys]]): a
    * term's own, or for a span slot `a|b` with several alternatives the
    * union of its members' lists, whose idf comes from the members' max
    * df (the synonym contract).
    *
    * `filter` (searchWhere) is the docs-table predicate behind the tree's
    * [[Searcher.FilterTerm]] leaf: its docId list is packed per shard into
    * ordinary posting segments with zero idf, so it joins the traversal as
    * one more list and adds no score mass. The driver does not know which
    * shards hold passing docs, so for shard pruning the leaf is present in
    * every shard.
    */
  private def treeHits(tree0: BoolQ, k: Int, after: Hit = null,
                       filter: Option[org.apache.spark.sql.Column] = None)
      : Option[Dataset[Hit]] = {
    val tree = rewriteBoolTree(tree0) match {
      case None => return None
      case Some(t) => t
    }
    require(!BoolQuery.matchesEmptyDoc(tree),
      s"pure-negative / match-all boolean query (matches a document with " +
        s"none of its terms — unanswerable from posting lists): $tree")
    val dictTerms = BoolQuery.leafTerms(tree).filter(_ != Searcher.FilterTerm)
    if (dictTerms.isEmpty) return None
    val info = lookupTerms(dictTerms)
    val isFilter: String => Boolean = t => filter.nonEmpty && t == Searcher.FilterTerm
    // a term absent from the dictionary can never be present anywhere.
    // The analog of the reference's empty-party early exit
    // (psi/utils/bucket.cc:54-60).
    if (!BoolQuery.satisfiable(tree, t => isFilter(t) || info(t).df > 0L)) return None
    val dictLive = dictTerms.filter(t => info(t).df > 0L)
    def df(key: String): Long =
      BoolQuery.keyTerms(key).map(t => info.get(t).fold(0L)(_.df)).max
    // the filter's zero-idf key (FilterTerm's leading space sorts it first)
    val live = BoolQuery.leafKeys(tree).filter(t => isFilter(t) || df(t) > 0L)
    val idfByTerm: Map[String, Double] = live.map(t =>
      t -> (if (isFilter(t)) 0.0 else idf(meta.numDocs, df(t)))).toMap
    // per-shard prune by the tree's own satisfiability over the cached
    // per-term shard sets, driver-side with no Spark job
    val shardSets: Map[String, Array[Int]] =
      dictLive.map(t => t -> info(t).shards).toMap
    val candShards: Seq[Int] = dictLive.flatMap(t => shardSets(t)).distinct.sorted
      .filter { sh =>
        BoolQuery.satisfiable(tree, t => isFilter(t) || shardSets.get(t).exists(a =>
          java.util.Arrays.binarySearch(a, sh) >= 0))
      }
    if (candShards.isEmpty) return None
    val required = BoolQuery.requiredTerms(tree).filter(live.contains).sorted
    // a shard missing a member of every required key (the filter's too: a
    // shard with no passing doc has no filter segment) cannot match
    val need = required.map(BoolQuery.keyTerms)
    val (k1, b, avgdl) = (meta.k1, meta.b, meta.avgdl)
    val (pruning, reB) = (usePruning, needReBound)
    val (accS, accP) = (candidatesScored, candidatesPruned)
    // span leaves need positions, so those trees decode them and run
    // [[Searcher.scoreShardBoolPos]], which prunes on exact per-list score
    // ceilings; the others keep the block-max kernel
    if (BoolQuery.spanLeaves(tree).nonEmpty) {
      require(positional,
        "phrase leaves in a boolean query require a positional index " +
          "(IndexConfig(positions = true))")
      Some(perShard[PostingSegP, Hit](dictLive, candShards, need) {
        (segsByTerm, lens, deleted) =>
          Searcher.scoreShardBoolPos(segsByTerm, lens, tree, live, required,
            idfByTerm, k1, b, avgdl, k, accS, accP, pruning, deleted)
      })
    } else Some(perShard[PostingSeg, Hit](dictLive, candShards, need,
        filter.map(filterSegs(_, candShards))) {
      (segsByTerm0, lens, deleted) =>
        // packRuns partials of the filter list may interleave across scan
        // partitions — merge them order-independently into ONE run before
        // the kernel (decodeTermList requires interval-disjoint segments)
        val segsByTerm = segsByTerm0.get(Searcher.FilterTerm) match {
          case Some(fs) if fs.length > 1 => segsByTerm0.updated(
            Searcher.FilterTerm, Array(Searcher.mergeZeroBoundRuns(fs)))
          case _ => segsByTerm0
        }
        Searcher.scoreShardBool(segsByTerm, lens, tree, live, required,
          idfByTerm, k1, b, avgdl, k, after, accS, accP, pruning, deleted, reB)
    })
  }

  /** A metadata predicate's docId list as per-shard posting runs: a
    * metadata-only scan of the docs table, packed into ordinary posting
    * segments (tf = 1, admissible block bound = 0) under
    * [[Searcher.FilterTerm]] per scan partition after a LOCAL sort, so the
    * filter adds no exchange. Partial runs of one shard from different scan
    * partitions may interleave (docs.parquet row order is layout-
    * dependent); the scoring harness merges them.
    */
  private def filterSegs(predicate: org.apache.spark.sql.Column,
                         candShards: Seq[Int]): Dataset[PostingSeg] = {
    val dps = meta.docsPerShard
    docs.filter(predicate)
      .select($"docId", (($"docId" / dps).cast("int")).as("shard"))
      .filter($"shard".isin(candShards: _*))
      .sortWithinPartitions($"shard", $"docId")
      .as[(Long, Int)]
      .mapPartitions(it =>
        Searcher.packRuns(Searcher.FilterTerm, it, sumTfPerId = true))
  }

  /** Conjunctive top-k BM25 with NEGATED terms (`a AND b AND NOT c…`):
    * candidates must contain every `query` term and NO `exclude` term —
    * the tree `And(terms…, Not(Term(n))…)`. A NOT clause adds 0.0, which
    * leaves a positive finite sum unchanged, so survivors' scores are
    * bit-identical to the plain conjunctive query (negative terms carry no
    * score mass; positive statistics stay full-corpus — Lucene's NOT
    * semantics). An absent negative term is a no-op; a term that is both
    * positive and negative is unsatisfiable → empty result, decided on the
    * driver.
    * A 100 TB note: a hot negative term costs its list decode in candidate
    * shards — unavoidable under exact NOT semantics (Lucene pays the same).
    */
  def searchNot(query: String, exclude: String, k: Int): Dataset[Hit] = {
    val terms = Tokenize.tokenize(query).toSeq
    val neg = Tokenize.tokenize(exclude).distinct.sorted
    flatTree(terms, conjunctive = true) match {
      case Some(BoolQ.And(pos)) if !neg.exists(terms.contains) =>
        topK(treeHits(BoolQ.And(pos ++ neg.map(t => BoolQ.Not(BoolQ.Term(t)))), k), k)
      case _ => spark.emptyDataset[Hit]
    }
  }

  /** Conjunctive top-k BM25 restricted to documents satisfying a metadata
    * predicate over the docs table (`lang`, `repo`, `path`, …). The filter's
    * docId set rides the SAME traversal as the query terms: per shard it
    * becomes one more delta-compressed sorted list — the tree's first,
    * required [[Searcher.FilterTerm]] leaf — with zero idf so it contributes
    * no score mass (0.0 is added first, the identity for finite doubles —
    * scores stay bit-identical to the unfiltered formula on the surviving
    * docs, proven against the oracle). Because the shortest required list
    * leads the traversal, a SELECTIVE filter prunes work instead of adding
    * a post-hoc scan.
    */
  def searchWhere(query: String, k: Int,
                  predicate: org.apache.spark.sql.Column): Dataset[Hit] = {
    // FilterTerm's leading space sorts it before every token: the filter
    // leaf is the tree's first child and adds its 0.0 first
    val tree = flatTree(Searcher.FilterTerm +: Tokenize.tokenize(query).toSeq,
      conjunctive = true)
    topK(tree.flatMap(treeHits(_, k, filter = Some(predicate))), k)
  }

  /** Exact-phrase top-k BM25 — requires a positional index
    * (`IndexConfig(positions = true)`). The phrase is the ordered
    * [[BoolQ.Span]] of its tokens with window = #tokens, so its tokens must
    * occur at consecutive positions; the span runs through the one
    * positional tree kernel ([[Searcher.scoreShardBoolPos]]): galloping
    * intersection of the terms' lists, the greedy position chain per
    * candidate, then BM25 over the phrase's DISTINCT terms with the
    * identical determinism contract as `search` (ascending-term
    * accumulation, (score desc, docId asc) tiebreak).
    */
  def searchPhrase(phrase: String, k: Int): Dataset[Hit] =
    topK(phraseSpan(phrase).flatMap(treeHits(_, k)), k)

  /** Span-first top-k (Lucene SpanFirstQuery analog): the exact phrase —
    * one token or several consecutive ones — must occur with its span
    * ENDING within the first `end` token positions of the document
    * (Lucene's rule: span.end ≤ end, 0-based positions, end exclusive —
    * so a single term matches among the first `end` tokens, an m-token
    * phrase must START at position ≤ end − m). The classic "title/header
    * match" heuristic for documents whose lead tokens matter most.
    * Survivors score plain conjunctive BM25 over the distinct members —
    * the same contract as [[searchPhrase]], which is exactly this query
    * with an unbounded `end`: the phrase span with its `end` set. Requires
    * a positional index.
    */
  def searchSpanFirst(phrase: String, k: Int, end: Int): Dataset[Hit] = {
    require(end >= 1, s"span-first end must be >= 1, got $end")
    topK(phraseSpan(phrase, end).flatMap(treeHits(_, k)), k)
  }

  /** Span-not top-k (Lucene SpanNotQuery with pre/post slack): documents
    * where SOME occurrence of the exact phrase has NO occurrence of the
    * `exclude` term within `pre` token positions before its start or
    * `post` positions after its end (pre = post = 0 is pure overlap
    * exclusion — and a single-word phrase can then never overlap a
    * DIFFERENT word, the Lucene identity). Survivors keep the phrase
    * query's bit-identical scores (the include span decides the score;
    * the exclusion only filters — Lucene's rule): the phrase span with its
    * `exclude` set. An `exclude` term absent from the dictionary excludes
    * nothing: ≡ [[searchPhrase]]. Requires a positional index.
    */
  def searchSpanNot(phrase: String, exclude: String, k: Int,
                    pre: Int = 0, post: Int = 0): Dataset[Hit] = {
    require(pre >= 0 && post >= 0,
      s"span-not pre/post must be >= 0, got pre=$pre post=$post")
    val exToks = Tokenize.tokenize(exclude)
    require(exToks.length == 1,
      s"span-not exclude must normalize to one token, got ${exToks.toSeq} from '$exclude'")
    topK(phraseSpan(phrase, exclude = Some((exToks.head, pre, post))).flatMap(treeHits(_, k)), k)
  }

  /** The phrase's ordered span, ending within `end` positions and with the
    * span-not `exclude`; None when the phrase has no token or cannot end
    * within `end`.
    */
  private def phraseSpan(phrase: String, end: Int = Int.MaxValue,
                         exclude: Option[(String, Int, Int)] = None): Option[BoolQ] = {
    val ts = Tokenize.tokenize(phrase).toVector
    if (ts.isEmpty || end < ts.length) None
    else {
      require(positional,
        "phrase and span search require a positional index (IndexConfig(positions = true))")
      Some(BoolQ.Span(ts.map(Vector(_)), ts.length, ordered = true, end, exclude))
    }
  }

  /** Multi-phrase top-k (Lucene MultiPhraseQuery): a phrase whose every
    * position holds a SET of alternative terms — `Seq(Seq("import"),
    * Seq("def", "class"))` matches "import def" OR "import class" runs.
    * It is the phrase span whose slots hold the live alternatives: a slot
    * matches at the union of its members' positions, and survivors score
    * the synonym contract per distinct slot (tf summed over present
    * members, idf from the blended max member df — [[searchSynonym]]),
    * summed in ascending slot-key order. Degenerate forms are bit-exact:
    * all-singleton slots ≡ [[searchPhrase]], one multi-term slot ≡
    * [[searchSynonym]]. A slot whose every alternative is absent from the
    * dictionary cannot match (the Lucene rule). Requires a positional
    * index.
    */
  def searchMultiPhrase(slots: Seq[Seq[String]], k: Int): Dataset[Hit] = {
    val slotTerms: Seq[Seq[String]] =
      slots.map(_.flatMap(t => Tokenize.tokenize(t)).distinct.sorted)
    require(slots.nonEmpty && slotTerms.forall(_.nonEmpty),
      s"every multi-phrase slot needs at least one token: $slots")
    require(positional,
      "multi-phrase search requires a positional index (IndexConfig(positions = true))")
    val info = lookupTerms(slotTerms.flatten.distinct.sorted)
    // a dead alternative is dropped; a slot with NO live alternative is
    // unsatisfiable (every chain needs one member at that position)
    val liveSlots = slotTerms.map(_.filter(t => info(t).df > 0L).toVector).toVector
    if (liveSlots.exists(_.isEmpty)) return spark.emptyDataset[Hit]
    topK(treeHits(BoolQ.Span(liveSlots, liveSlots.length, ordered = true), k), k)
  }

  /** Phrase-prefix top-k (Lucene MultiPhrasePrefixQuery / Elasticsearch
    * `match_phrase_prefix`): the query's LAST token is an open prefix — it
    * expands to the `maxExpand` highest-df dictionary completions (the
    * [[searchPrefix]] rule: df desc, term asc, cap) and the whole query runs
    * as a [[searchMultiPhrase]] with the expansion as the final slot's
    * alternative set. A prefix with no dictionary completion cannot match
    * (the Lucene rule). The classic search-as-you-type query shape.
    * Requires a positional index.
    */
  def searchPhrasePrefix(query: String, k: Int,
                         maxExpand: Int = Searcher.DefaultMaxExpand): Dataset[Hit] = {
    val toks = Tokenize.tokenize(query)
    require(toks.nonEmpty, s"phrase-prefix needs at least one token: '$query'")
    val expansion = expandPrefix(toks.last, maxExpand)
    if (expansion.isEmpty) return spark.emptyDataset[Hit]
    searchMultiPhrase(toks.init.map(Seq(_)) :+ expansion, k)
  }

  /** Proximity top-k BM25 (`a NEAR/w b …`): candidates must contain ALL
    * query terms (the same galloping conjunctive intersection as `search`)
    * AND some span of at most `window` consecutive tokens must contain at
    * least one occurrence of EVERY distinct term — the classic MIN-COVER
    * check (Lucene's unordered SpanNearQuery semantics), swept in O(total
    * positions) per candidate over the decoded position lists (advance the
    * minimum head; cover = max − min + 1). It is the unordered span of the
    * distinct terms. Survivors are scored by plain conjunctive BM25 with
    * the identical determinism contract as `search` (ascending-term
    * accumulation, (score desc, docId asc) tiebreak), so survivor scores
    * are bit-identical to the unwindowed query: a huge `window` degenerates
    * to `search`, `window < #distinct terms` is unsatisfiable, and a
    * single-term query matches wherever the term does. Requires a
    * positional index (`IndexConfig(positions = true)`).
    *
    * `ordered = true` is Lucene's `inOrder` SpanNearQuery, the ordered span
    * of the query's tokens: the occurrence chain must follow the QUERY's
    * token order (duplicates meaningful — `a b a` needs three strictly
    * increasing positions), checked by a greedy monotone-cursor chain sweep
    * in O(total positions) per candidate; the span rule (max − min + 1 ≤
    * window) and the survivor scoring contract are unchanged, so `ordered`
    * with window = #tokens is EXACTLY the phrase query (a strictly
    * increasing chain of m positions inside a span of m is consecutive).
    * Unsatisfiable when `window < #query tokens` (slots, not distinct
    * terms).
    */
  def searchNear(query: String, k: Int, window: Int,
                 ordered: Boolean = false): Dataset[Hit] = {
    val seq = Tokenize.tokenize(query).toVector
    val terms = seq.distinct.sorted
    if (terms.isEmpty || window < (if (ordered) seq.length else terms.length))
      return spark.emptyDataset[Hit]
    require(positional,
      "proximity search requires a positional index (IndexConfig(positions = true))")
    val slots = (if (ordered) seq else terms).map(Vector(_))
    topK(treeHits(BoolQ.Span(slots, window, ordered), k), k)
  }

  /** Top-k hits with a SNIPPET: the 2·window+1-token context around the
    * FIRST occurrence of any query term in the document (the earliest
    * position over all terms — deterministic, so an oracle can recompute it
    * from the raw text). Content comes from the caller's corpus table
    * (joined by composite key for the k hits only); the extraction is pure
    * codegen'd Columns — tokenize, array_position per term, least, slice,
    * concat_ws — no UDF, no driver loop.
    */
  def searchSnippets(query: String, k: Int, files: DataFrame,
                     window: Int = 8): DataFrame = {
    val terms = Tokenize.tokenize(query).distinct.sorted
    val hits = search(query, k)
    val withContent = hits.join(docs.select("docId", "repo", "path", "commit"), "docId")
      .join(files, Seq("repo", "path", "commit"))
    val toks = Tokenize.termsCol(col("content"))
    val posCols = terms.map(t =>
      when(array_position(toks, t) > 0, array_position(toks, t)))
    val firstPos = if (posCols.length == 1) posCols.head else least(posCols: _*)
    val start = greatest(firstPos - window, lit(1L))
    withContent.select(col("docId"), col("score"),
      concat_ws(" ",
        slice(toks, start.cast("int"), lit(2 * window + 1))).as("snippet"))
      .orderBy(desc("score"), asc("docId"))
  }

  /** Hits hydrated with the document keys (join of the tiny top-k against the
    * docs table — broadcast-sized left side).
    */
  def searchDocs(query: String, k: Int): DataFrame =
    search(query, k).join(docs, "docId")
      .select("docId", "score", "repo", "path", "commit", "lang")
      .orderBy(desc("score"), asc("docId"))

  /** Disjunctive (OR) top-k BM25: a document scores on whichever query terms
    * it contains (document-at-a-time traversal over the shard's lists).
    * Same determinism contract as `search`: per-doc scores accumulate over
    * matching terms in ascending-term order, tiebreak (score desc, docId asc).
    */
  def searchOr(query: String, k: Int): Dataset[Hit] =
    searchFlat(Tokenize.tokenize(query).toSeq, conjunctive = false, k)

  /** Boolean-tree top-k BM25: arbitrary AND/OR/NOT nesting over term
    * leaves — `(util_7 def) OR (util_3 -val)` — parsed by [[BoolQuery]].
    * A document matches under the tree's logic and scores the sum of its
    * MATCHED sub-clauses (Lucene BooleanQuery semantics; NOT clauses
    * filter, never score; summation in depth-first tree order — the
    * determinism contract the oracle reproduces).
    *
    * Scale shape: shard pruning is the tree's own algebra over the cached
    * per-term shard sets ([[BoolQuery.satisfiable]] — exact for pure-AND,
    * sound for every tree); when the root is conjunctive, the rarest
    * REQUIRED term's posting list leads the per-shard traversal, otherwise
    * the walk WAND-pivots over the positive lists. Block-max pruning runs
    * INSIDE the tree via admissible per-subtree bounds
    * ([[BoolQuery.upperBound]]: AND/OR sum, NOT 0, Boost multiplies) — a
    * candidate is skipped only when its bound cannot beat the current k-th
    * score, so results stay exact by construction (see
    * [[Searcher.scoreShardBool]] for the three pruning tiers).
    */
  def searchBool(query: String, k: Int): Dataset[Hit] =
    searchBoolTree(BoolQuery.parse(query), k)

  /** Dictionary-expand a parsed tree's multi-term leaves (`util_1*`,
    * `util_7~1`) into ORs of Terms — Lucene's SCORING_BOOLEAN_QUERY_REWRITE
    * with this engine's flat expansion rules ([[expandWildcard]] /
    * [[expandFuzzy]]). None = the tree simplified to match-none (every
    * expansion came back empty where a match needed one).
    */
  def rewriteBoolTree(tree: BoolQ, maxExpand: Int = Searcher.DefaultMaxExpand): Option[BoolQ] =
    BoolQuery.rewriteMultiTerm(tree,
      p => expandWildcard(p, maxExpand),
      (t, e) => expandFuzzy(t, e, 0, maxExpand))

  /** [[searchBool]] over an already-parsed tree (multi-term leaves are
    * rewritten here, so gates/facade callers may pass raw parses).
    */
  def searchBoolTree(tree: BoolQ, k: Int): Dataset[Hit] = topK(treeHits(tree, k), k)

  /** Prefix (wildcard `prefix*`) top-k BM25: the prefix is expanded against
    * the term dictionary — `term >= prefix` range scan, pushed down to the
    * dict parquet — into its matching terms, capped at the `maxExpand`
    * highest-df completions (ties broken by term asc, so the expansion is
    * deterministic and an oracle can reproduce it), then scored as a
    * disjunctive (OR) query over the expansion: a doc scores on whichever
    * completions it contains, each with its own idf. The classic multi-term
    * query rewrite (Lucene's PrefixQuery → rewritten BooleanQuery), riding
    * the same WAND-pruned document-at-a-time kernel as `searchOr`.
    */
  def searchPrefix(prefix: String, k: Int,
                   maxExpand: Int = Searcher.DefaultMaxExpand): Dataset[Hit] = {
    val expanded = expandPrefix(prefix, maxExpand)
    searchFlat(expanded, conjunctive = false, k)
  }

  /** Regex term query (Lucene's RegexpQuery analog): `pattern` is matched
    * against the FULL term (anchored — `u.l` does not match `util_1`) over
    * the term dictionary, capped at the `maxExpand` highest-df matches
    * (df desc, term asc — deterministic, so an oracle can reproduce the
    * expansion), then scored as a disjunctive (OR) query over the matching
    * terms, riding the same WAND-pruned document-at-a-time kernel as
    * `searchOr`. Keep patterns to the portable core (character classes,
    * alternation, `+`/`*`/`?`/`{n,m}`) — evaluated by Java's regex engine.
    *
    * Scale shape: a literal prefix extracted from the pattern (e.g.
    * `util_1[0-9]` → `util_1`) is pushed down as a `startsWith` range
    * filter on the dict parquet scan, so anchored-prefix patterns prune row
    * groups exactly like `searchPrefix`; prefix-free patterns degrade to a
    * full scan of the (narrow, 3-column, distributed) dictionary — never
    * collected beyond the capped expansion.
    */
  def searchRegex(pattern: String, k: Int,
                  maxExpand: Int = Searcher.DefaultMaxExpand): Dataset[Hit] = {
    val expanded = expandRegex(pattern, maxExpand)
    searchFlat(expanded, conjunctive = false, k)
  }

  /** Wildcard term query (Lucene WildcardQuery analog): `?` matches
    * exactly one character, `*` any run (including empty), every other
    * character is literal — lowercased so `Util_1?` and `util_1?` expand
    * identically (terms are tokenizer-normalized). Rewritten to the
    * anchored-regex expansion ([[Searcher.globToRegex]] escapes regex
    * metacharacters and maps the wildcards), so the whole machinery is
    * shared with [[searchRegex]]: the literal prefix before the first
    * wildcard pushes down as a `startsWith` range filter on the dict scan,
    * the expansion is capped at the `maxExpand` highest-df matches
    * (df desc, term asc — deterministic, oracle-reproducible), and scoring
    * rides the WAND-pruned OR kernel. A glob with no wildcard degenerates
    * to an exact-term query.
    */
  def searchWildcard(glob: String, k: Int,
                     maxExpand: Int = Searcher.DefaultMaxExpand): Dataset[Hit] = {
    val expanded = expandWildcard(glob, maxExpand)
    searchFlat(expanded, conjunctive = false, k)
  }

  /** The dictionary expansion of a wildcard glob: anchored full-term
    * matches of the translated regex, ordered (df desc, term asc), capped
    * at `maxExpand`.
    */
  def expandWildcard(glob: String, maxExpand: Int = Searcher.DefaultMaxExpand): Seq[String] =
    expandRegex(Searcher.globToRegex(glob), maxExpand)

  /** Term range query (Lucene TermRangeQuery analog, the classic-parser
    * `[lo TO hi]`): every dictionary term inside the lexicographic range —
    * endpoints lowercased to the tokenizer's normalization, either end
    * open via None, inclusivity per end — capped at the `maxExpand`
    * highest-df matches (df desc, term asc — deterministic,
    * oracle-reproducible), then scored as a disjunctive (OR) query on the
    * same WAND-pruned kernel as the prefix/regex/fuzzy rewrite family.
    *
    * Scale shape: the range predicate is a plain string comparison on the
    * dict scan, so parquet row-group min/max statistics prune exactly like
    * the prefix query's startsWith; the dictionary is never collected
    * beyond the capped expansion.
    */
  def searchTermRange(lo: Option[String], hi: Option[String], k: Int,
                      includeLo: Boolean = true, includeHi: Boolean = true,
                      maxExpand: Int = Searcher.DefaultMaxExpand): Dataset[Hit] = {
    val expanded = expandTermRange(lo, hi, includeLo, includeHi, maxExpand)
    searchFlat(expanded, conjunctive = false, k)
  }

  /** The dictionary expansion of a term range: all terms in the range,
    * ordered (df desc, term asc), capped at `maxExpand`.
    */
  def expandTermRange(lo: Option[String], hi: Option[String],
                      includeLo: Boolean = true, includeHi: Boolean = true,
                      maxExpand: Int = Searcher.DefaultMaxExpand): Seq[String] = {
    require(lo.nonEmpty || hi.nonEmpty,
      "term range needs at least one bound (both open = match-all)")
    val l = lo.map(_.toLowerCase)
    val h = hi.map(_.toLowerCase)
    for (a <- l; b <- h) require(a <= b,
      s"term range is empty: lo '$a' > hi '$b'")
    val loPred = l.map(v => if (includeLo) $"term" >= v else $"term" > v)
    val hiPred = h.map(v => if (includeHi) $"term" <= v else $"term" < v)
    val pred = (loPred.toSeq ++ hiPred.toSeq).reduce(_ && _)
    dictByTerm.filter(pred)
      .orderBy($"df".desc, $"term".asc)
      .limit(maxExpand)
      .select("term").as[String].collect().toSeq
  }

  /** The dictionary expansion of a regex: full-term matches ordered by
    * (df desc, term asc), capped at `maxExpand`.
    */
  def expandRegex(pattern: String, maxExpand: Int = Searcher.DefaultMaxExpand): Seq[String] = {
    java.util.regex.Pattern.compile(pattern) // fail fast on driver, not in tasks
    val lit = Searcher.literalPrefix(pattern)
    val base =
      if (lit.nonEmpty) dictByTerm.filter($"term".startsWith(lit)) else dictByTerm
    base.filter($"term".rlike("^(?:" + pattern + ")$"))
      .orderBy($"df".desc, $"term".asc)
      .limit(maxExpand)
      .select("term").as[String].collect().toSeq
  }

  /** Fuzzy term query (Lucene FuzzyQuery analog): the query term is
    * expanded against the term dictionary into every term within classic
    * Levenshtein edit distance `maxEdits` (0..2, Lucene's bound; classic —
    * a transposition costs 2, unlike Lucene's default Damerau variant —
    * because both Spark's and DuckDB's `levenshtein` are classic, so engine
    * and oracle agree by construction), ordered (distance asc, df desc,
    * term asc — deterministic, oracle-reproducible), capped at `maxExpand`,
    * then scored as a disjunctive (OR) query over the expansion on the same
    * WAND-pruned kernel as `searchOr` — each variant with its own idf, the
    * prefix/regex rewrite family's scoring rule.
    *
    * Scale shape: `prefixLength` (Lucene's FuzzyQuery prefixLength) requires
    * that many leading characters to match exactly and is pushed down as a
    * `startsWith` range filter on the dict parquet scan; a cheap
    * `length BETWEEN` cut (|len(t)−len(q)| ≤ maxEdits ⇒ necessary) prunes
    * before the O(len²) distance evaluates. prefixLength=0 degrades to a
    * full scan of the narrow 3-column distributed dictionary — never
    * collected beyond the capped expansion.
    */
  def searchFuzzy(term: String, k: Int, maxEdits: Int = 1, prefixLength: Int = 0,
                  maxExpand: Int = Searcher.DefaultMaxExpand): Dataset[Hit] = {
    val expanded = expandFuzzy(term, maxEdits, prefixLength, maxExpand)
    searchFlat(expanded, conjunctive = false, k)
  }

  /** The dictionary expansion of a fuzzy term: all terms within
    * `maxEdits` classic Levenshtein distance of the (normalized) query
    * term, ordered (distance asc, df desc, term asc), capped at
    * `maxExpand`.
    */
  def expandFuzzy(term: String, maxEdits: Int = 1, prefixLength: Int = 0,
                  maxExpand: Int = Searcher.DefaultMaxExpand): Seq[String] = {
    val norm = Tokenize.tokenize(term)
    require(norm.length == 1,
      s"fuzzy query must normalize to one token, got ${norm.toSeq} from '$term'")
    val q = norm.head
    require(maxEdits >= 0 && maxEdits <= 2,
      s"maxEdits must be 0..2 (Lucene's bound), got $maxEdits")
    require(prefixLength >= 0,
      s"prefixLength must be >= 0, got $prefixLength")
    val base =
      if (prefixLength > 0)
        dictByTerm.filter($"term".startsWith(q.take(prefixLength)))
      else dictByTerm
    base
      .filter(length($"term").between(q.length - maxEdits, q.length + maxEdits))
      .filter(levenshtein($"term", lit(q)) <= maxEdits)
      .withColumn("dist", levenshtein($"term", lit(q)))
      .orderBy($"dist".asc, $"df".desc, $"term".asc)
      .limit(maxExpand)
      .select("term").as[String].collect().toSeq
  }

  /** Did-you-mean spell suggestion: for each (normalized, distinct, sorted)
    * query term, the best dictionary replacement — a term present in the
    * dictionary suggests itself (it is its own distance-0 nearest
    * neighbor), a dead term suggests the nearest dictionary term within
    * `maxEdits` classic Levenshtein edits by the fuzzy expansion's rule
    * (distance asc, df desc, term asc), or None when nothing is that
    * close.
    *
    * ONE Spark job regardless of how many terms are dead (r5; previously a
    * dict scan PER dead term): the dead-term list (driver-sized — it is a
    * subset of the query's tokens) broadcasts into a single
    * theta-join against the df-summed dictionary with the same
    * length-window cut as [[expandFuzzy]], and a per-dead-term window takes
    * the (distance asc, df desc, term asc) minimum.
    */
  def suggest(query: String, maxEdits: Int = 2): Seq[(String, Option[String])] = {
    val terms = Tokenize.tokenize(query).distinct.sorted
    if (terms.isEmpty) return Seq.empty
    val info = lookupTerms(terms)
    val dead = terms.filter(t => info(t).df == 0L)
    val best: Map[String, String] =
      if (dead.isEmpty) Map.empty
      else {
        import org.apache.spark.sql.expressions.Window
        val deadDf = broadcast(dead.toSeq.toDF("q"))
        val w = Window.partitionBy("q")
          .orderBy($"dist".asc, $"df".desc, $"term".asc)
        dictByTerm
          .join(deadDf,
            length($"term").between(length($"q") - maxEdits,
              length($"q") + maxEdits) &&
              levenshtein($"term", $"q") <= maxEdits)
          .withColumn("dist", levenshtein($"term", $"q"))
          .withColumn("rn", row_number().over(w))
          .filter($"rn" === 1)
          .select($"q", $"term").as[(String, String)].collect().toMap
      }
    terms.map { t =>
      if (info(t).df > 0L) (t, Some(t))
      else (t, best.get(t))
    }
  }

  /** Page `from .. from+k` of the conjunctive ranking (offset pagination,
    * Lucene's `searchAfter` use case): exact deep paging — the per-shard
    * heaps and the WAND/block-max threshold are simply bounded by
    * `from + k`, so correctness is by construction and the cost grows
    * linearly in the page depth (the same tradeoff every search engine
    * documents for deep offsets; cap `from` at the API edge in a real
    * deployment). Rows `from` (0-based) through `from+k-1` of the exact
    * ranking, in rank order.
    */
  def searchPage(query: String, k: Int, from: Int): Dataset[Hit] = {
    require(from >= 0, s"from must be >= 0, got $from")
    if (from == 0) search(query, k)
    else search(query, from + k).offset(from)
  }

  /** The dictionary expansion of a prefix: matching terms ordered by
    * (df desc, term asc), capped at `maxExpand`. The prefix itself is run
    * through the tokenizer (so `UTIL_` and `util_` expand identically) and
    * must normalize to exactly one token.
    */
  def expandPrefix(prefix: String, maxExpand: Int = Searcher.DefaultMaxExpand): Seq[String] = {
    val norm = Tokenize.tokenize(prefix)
    require(norm.length == 1,
      s"prefix must normalize to one token, got ${norm.toSeq} from '$prefix'")
    dictByTerm.filter($"term".startsWith(norm.head))
      .orderBy($"df".desc, $"term".asc)
      .limit(maxExpand)
      .select("term").as[String].collect().toSeq
  }

  /** All docIds matching EVERY query term, tombstoned docs excluded (the
    * full conjunctive match set, not a top-k): the docId column of
    * [[scoredMatches]], the AND kernel's own per-shard match stream, so
    * count, facets, sort and significant terms use the same match and
    * delete rules as [[search]]. Used where the CONSUMER is another
    * DataFrame op (facets, joins, exports) rather than a ranked list.
    */
  def matchingDocs(query: String): DataFrame = scoredMatches(query).select("docId")

  /** More-like-this (Lucene `MoreLikeThis` analog): find the documents most
    * similar to a SEED document. Representative terms are selected from the
    * seed's text — tf ≥ `minTermFreq`, df ≥ `minDocFreq` (both Lucene's
    * noise gates), ranked by tf·idf (desc, term asc tiebreak — deterministic,
    * oracle-reproducible), capped at `maxQueryTerms` — then run as a
    * disjunctive (OR) query on the WAND kernel, with the seed itself
    * excluded from the hits.
    *
    * The seed's content comes from the caller's corpus table (`files`),
    * fetched by the doc's composite key — the index stores no forward term
    * vectors (same tradeoff as [[searchSnippets]]); everything per-corpus
    * (df, idf, scoring) comes from the index. One driver-side tokenize of
    * ONE document; the query itself is the standard distributed OR kernel.
    */
  def moreLikeThis(files: DataFrame, docId: Long, k: Int,
                   maxQueryTerms: Int = 25, minTermFreq: Int = 2,
                   minDocFreq: Int = 5): Dataset[Hit] = {
    val selected = mltTerms(files, docId, maxQueryTerms, minTermFreq, minDocFreq)
    // ask for k+1 so the seed (if ranked) never costs a result slot
    searchFlat(selected, conjunctive = false, k + 1)
      .filter($"docId" =!= docId)
      .orderBy($"score".desc, $"docId".asc).limit(k)
  }

  /** The MLT term selection alone (for oracles and debugging): the
    * tf·idf-ranked representative terms of the seed doc.
    */
  def mltTerms(files: DataFrame, docId: Long, maxQueryTerms: Int = 25,
               minTermFreq: Int = 2, minDocFreq: Int = 5): Seq[String] = {
    val keyRows = docs.filter($"docId" === docId)
      .select("repo", "path", "commit").collect()
    require(keyRows.nonEmpty, s"docId $docId not found in the index")
    val (r, p, c) = (keyRows.head.getString(0), keyRows.head.getString(1),
      keyRows.head.getString(2))
    val content = files
      .filter($"repo" === r && $"path" === p && $"commit" === c)
      .select("content").as[String].collect()
    require(content.nonEmpty, s"seed doc $docId ($r/$p@$c) not in the corpus")
    val tfs: Map[String, Int] = Tokenize.tokenize(content.head)
      .groupBy(identity).map { case (t, xs) => (t, xs.length) }
    val cand = tfs.filter(_._2 >= minTermFreq).keys.toSeq.sorted
    if (cand.isEmpty) return Seq.empty
    val info = lookupTerms(cand)
    cand.filter(t => info(t).df >= minDocFreq)
      .map(t => (t, tfs(t).toDouble * idf(meta.numDocs, info(t).df)))
      .sortBy { case (t, s) => (-s, t) }
      .take(maxQueryTerms).map(_._1)
  }

  /** Total number of documents matching ALL query terms (the hit COUNT a
    * search UI shows next to the top-k): one distributed count over
    * [[matchingDocs]] — never materializes the match set on the driver.
    */
  def searchCount(query: String): Long = matchingDocs(query).count()

  /** Per-term score breakdown for the top-k hits (Lucene
    * `IndexSearcher.explain` analog): one row per (hit doc, query term) —
    * `(docId, score, term, tf, df, idf, contribution)`, ordered by (docId,
    * term) — where `contribution` is that term's BM25 summand from
    * [[Searcher.termScore]], the kernels' own formula, so the rows sum
    * (ascending-term) bit-exactly to the kernel's hit score.
    *
    * Plan shape: the ranking itself comes from [[search]] (exact top-k);
    * the per-shard harness then decodes the live terms' lists in the hits'
    * shards only and looks each hit doc up in them, with the same merged
    * norms row the scores were computed against.
    */
  def explainHits(query: String, k: Int): DataFrame = {
    val hitRows = search(query, k).collect() // top-k: driver-sized
    val rows =
      if (hitRows.isEmpty) spark.emptyDataset[(Long, Double, String, Int, Long, Double, Double)]
      else {
        val terms = Tokenize.tokenize(query).distinct.sorted.toSeq
        val info = lookupTerms(terms)
        val stats = terms.filter(t => info(t).df > 0L)
          .map(t => (t, info(t).df, idf(meta.numDocs, info(t).df)))
        val dps = meta.docsPerShard
        val hitsByShard = hitRows.groupBy(h => (h.docId / dps).toInt)
        val (k1, b, avgdl) = (meta.k1, meta.b, meta.avgdl)
        perShard[PostingSeg, (Long, Double, String, Int, Long, Double, Double)](
          stats.map(_._1), hitsByShard.keys.toSeq.sorted, Nil) { (segsByTerm, lens, _) =>
          Searcher.explainShard(segsByTerm, lens, hitsByShard(lens.shard), stats, k1, b, avgdl)
        }
      }
    rows.toDF("docId", "score", "term", "tf", "df", "idf", "contribution")
      .orderBy($"docId", $"term")
  }

  /** Facet counts over the FULL conjunctive match set: how many matching
    * docs per value of a docs-table metadata column (lang, repo, …) — the
    * standard search-engine facet panel. One broadcast-friendly join of the
    * match set against the docs table, one hash aggregation.
    */
  def searchFacets(query: String, facetCol: String): DataFrame =
    matchingDocs(query)
      .join(docs, "docId")
      .groupBy(facetCol).agg(count(lit(1)).as("n"))
      .orderBy(facetCol)

  /** Numeric range facets over the FULL conjunctive match set (the
    * Lucene/Solr range-faceting panel): matching-doc counts per half-open
    * bucket of a numeric docs-table column. `bounds` (strictly ascending)
    * cut the line into `bounds.size + 1` buckets — bucket 0 is
    * `(-∞, b0)`, bucket i is `[b(i-1), b(i))`, the last is `[bLast, ∞)` —
    * and empty buckets are simply absent (count queries, not histograms
    * with zero-fill). Same distributed shape as [[searchFacets]]: the
    * match set joins the docs table once, the bucket id is a codegen'd
    * sum of comparisons (no UDF), one hash aggregation. Returns
    * (bucket, lo, hi, n) with NULL lo/hi on the unbounded ends.
    */
  def searchFacetRanges(query: String, facetCol: String,
                        bounds: Seq[Double]): DataFrame = {
    require(bounds.nonEmpty, "range facets need at least one boundary")
    require(bounds.sliding(2).forall(w => w.length < 2 || w(0) < w(1)),
      s"bounds must be strictly ascending, got $bounds")
    val v = col(facetCol).cast("double")
    // bucket = number of boundaries ≤ value — one branch-free comparison
    // chain, stays inside whole-stage codegen
    val bucketExpr = bounds.map(bd => when(v >= lit(bd), 1).otherwise(0))
      .reduce(_ + _)
    val lows = typedLit(None +: bounds.map(Option(_)))
    val highs = typedLit(bounds.map(Option(_)) :+ None)
    matchingDocs(query)
      .join(docs, "docId")
      .groupBy(bucketExpr.as("bucket")).agg(count(lit(1)).as("n"))
      .withColumn("lo", element_at(lows, $"bucket" + 1))
      .withColumn("hi", element_at(highs, $"bucket" + 1))
      .select($"bucket", $"lo", $"hi", $"n")
      .orderBy($"bucket")
  }

  /** Numeric stats facet over the FULL conjunctive match set (the Solr
    * stats-component analog): count / min / max / sum / mean of an
    * INTEGRAL numeric docs-table column. Accumulation is exact — the sum
    * is a long, the mean one double division at the end — so results are
    * order-independent and an oracle can hash-match them (a double-sum
    * mean would depend on partition order). Same distributed shape as
    * [[searchFacets]]: match set → one docs join → one aggregation.
    */
  def searchFacetStats(query: String, facetCol: String): DataFrame = {
    val v = col(facetCol).cast("long")
    matchingDocs(query)
      .join(docs, "docId")
      .agg(count(lit(1)).as("n"), min(v).as("mn"), max(v).as("mx"),
        sum(v).as("sm"))
      .withColumn("mean", round($"sm".cast("double") / $"n", 9))
  }

  /** Significant terms over the FULL conjunctive match set (the
    * Elasticsearch `significant_terms` aggregation): which index terms are
    * unusually frequent in the documents matching `query`, relative to the
    * whole corpus? For every term with at least `minFgDf` matching docs,
    * the foreground rate fg = fgDf/fgTotal and background rate
    * bg = bgDf/numDocs combine into the JLH score
    * `(fg − bg) · (fg / bg)` (ES's default-era significance heuristic —
    * both absolute and relative lift, so neither stopwords nor one-off
    * rarities dominate). Returns (term, fg_df, bg_df, score), top `n` by
    * (score desc, term asc). The query's own terms have fg-rate 1 but rank
    * by LIFT like everything else — a ubiquitous query term (bg ≈ 1)
    * scores near zero, exactly the stopword suppression JLH is for.
    *
    * Plan shape: the match set (the AND kernel's stream) is joined
    * against the postings of the MATCHING SHARDS ONLY (`shard IN` pushed
    * to the parquet scan — a query touching few shards decodes few lists),
    * one shuffle on docId, one hash agg per term, dict join for bg df.
    * The inherent cost is one decode of the matching shards' postings —
    * the same foreground-scan ES pays (they sample; a shard-count cap is
    * the analogous lever here and deliberately not applied: exactness is
    * this engine's contract). bgDf counts tombstoned docs until
    * compaction, like Lucene's df.
    */
  def significantTerms(query: String, n: Int, minFgDf: Int = 1): DataFrame = {
    graft.functions.VByteFunctions.register(spark)
    val matchSet = matchingDocs(query)
    val empty = Seq.empty[(String, Long, Long, Double)]
      .toDF("term", "fg_df", "bg_df", "score")
    // candidate shards from the DRIVER-SIDE term-shard satisfiability
    // intersection (the same cache every search path uses) instead of a
    // separate Spark job distinct-collecting the match set's shards (r6: one
    // whole job removed). A superset of the true match shards — segments of
    // a shard with no matching docs join to nothing, so the result is
    // unchanged; only the scan may read a few extra shards.
    val terms = Tokenize.tokenize(query).distinct.sorted
    if (terms.isEmpty) return empty
    val info = lookupTerms(terms)
    if (terms.exists(t => info(t).df == 0L)) return empty
    val matchShards = terms.map(t => info(t).shards)
      .reduce(Searcher.intersectSorted).toSeq
    if (matchShards.isEmpty) return empty
    val fg = postings
      .filter($"shard".isin(matchShards: _*) &&
        $"term" =!= Searcher.DeletedTerm) // reserved exclusion-list rows
      .select($"term", explode(expr("vbyte_decode_deltas(docBytes, n)")).as("docId"))
      .join(matchSet, "docId")
      .groupBy("term").agg(count(lit(1)).as("fg_df"))
      .filter($"fg_df" >= minFgDf)
    // bg df: with a single index dir the dictionary's term rows are already
    // unique — the groupBy(sum) re-aggregation (an exchange over the whole
    // dictionary) is needed only when base+delta dicts both carry the term
    val bg =
      if (allDirs.size == 1) dict.select($"term", $"df".cast("long").as("bg_df"))
      else dict.groupBy("term").agg(sum($"df").as("bg_df"))
    // fgTotal rides the plan as a 1-row broadcast join — no driver count()
    val totals = matchSet.agg(count(lit(1)).cast("double").as("fg_total"))
    val nDocs = meta.numDocs
    val fgPct = $"fg_df".cast("double") / $"fg_total"
    val bgPct = $"bg_df".cast("double") / lit(nDocs.toDouble)
    // shuffled-hash instead of sort-merge: both sides are term-keyed
    // aggregates (fg bounded by the dictionary, bg the dictionary itself) —
    // hashing one side per partition beats sorting both (guide §3.1)
    fg.join(bg.hint("shuffle_hash"), "term")
      .crossJoin(broadcast(totals))
      .withColumn("score", (fgPct - bgPct) * (fgPct / bgPct))
      .orderBy($"score".desc, $"term".asc)
      .limit(n)
      .select($"term", $"fg_df", $"bg_df", round($"score", 9).as("score"))
  }

  /** Synonym query (Lucene SynonymQuery analog): the variant terms are
    * scored as ONE term — a document's tf is the SUM of its variants' tfs
    * and the idf uses the blended document frequency (the MAXIMUM of the
    * variants' dfs, Lucene's rule) — so a document is never double-counted
    * for containing several spellings of the same word, the problem
    * SynonymQuery exists to fix (an OR would sum per-variant BM25s).
    * Matches any document containing ANY variant; ranking is
    * (score desc, docId asc); dead variants drop out; a single live
    * variant degenerates to a one-term query up to the df blend.
    *
    * Plan shape: the per-shard harness over the union of the variants'
    * shards; [[Searcher.scoreShardSynonym]] sums the decoded variant lists
    * per doc (an integer sum — order-independent) and scores each shard's
    * top-k, then one global TakeOrdered k.
    */
  def searchSynonym(variants: Seq[String], k: Int): Dataset[Hit] = {
    val terms = variants.flatMap(Tokenize.tokenize(_)).distinct.sorted
    require(terms.nonEmpty, s"synonym query normalizes to no token: $variants")
    val info = lookupTerms(terms)
    val live = terms.filter(t => info(t).df > 0L)
    if (live.isEmpty) return spark.emptyDataset[Hit]
    val candShards = live.map(t => info(t).shards).reduce(Searcher.unionSorted)
    val idfSyn = idf(meta.numDocs, live.map(t => info(t).df).max) // Lucene's blended df
    val (k1, b, avgdl) = (meta.k1, meta.b, meta.avgdl)
    topK(Some(perShard[PostingSeg, Hit](live, candShards.toSeq, Nil) {
      (segsByTerm, lens, deleted) =>
        Searcher.scoreShardSynonym(segsByTerm, lens, idfSyn, k1, b, avgdl, k, deleted)
    }), k)
  }

  /** The FULL conjunctive match set WITH exact BM25 scores, as a
    * distributed DataFrame (docId, score) — the building block for
    * operations that rank or group over every match rather than a top-k
    * (collapse/grouping). It is the AND query's own per-shard stream with
    * an unbounded per-shard k: the same harness, norms, tombstone exclusion
    * and [[Searcher.scoreShardBool]] kernel, so scores are the kernel's, and
    * a task holds at most one shard's matches. No driver materialization.
    */
  def scoredMatches(query: String): DataFrame =
    flatTree(Tokenize.tokenize(query).toSeq, conjunctive = true)
      .flatMap(treeHits(_, Int.MaxValue))
      .getOrElse(spark.emptyDataset[Hit]).toDF()

  /** Field-sorted results (Lucene `Sort(SortField)` analog): the top-k of
    * the FULL conjunctive match set ordered by a docs-table column instead
    * of relevance — `(docId, <sortCol>)`, ties broken by docId asc, like
    * Lucene's index-order tiebreak. The plan is [[matchingDocs]] (the AND
    * kernel's match stream) joined once against the docs table, then a global
    * TakeOrdered of k rows — no full sort materializes at any scale.
    */
  def searchSortBy(query: String, k: Int, sortCol: String,
                   asc: Boolean = true): DataFrame = {
    val ord = if (asc) col(sortCol).asc else col(sortCol).desc
    matchingDocs(query)
      .join(docs, "docId")
      .select($"docId", col(sortCol))
      .orderBy(ord, $"docId".asc)
      .limit(k)
  }

  /** Field collapse / result grouping (Lucene grouping module, Solr
    * `collapse` analog): the single BEST-scoring document per value of a
    * docs-table column, ranked by that best score — `(<groupCol>, docId,
    * score)`, top-k groups. Scores come from [[scoredMatches]], the AND
    * kernel's per-shard stream. The best-per-group pick is one aggregation
    * (r6; the r5 plan was `row_number` over `Window.partitionBy(groupCol)`,
    * which moves the ENTIRE match set into ≤ |groups| partitions and sorts
    * it — a skew scale-killer on a low-cardinality group column): `max` of
    * the struct (score, −docId) picks exactly the rank-1 row of
    * (score desc, docId asc) per group, with map-side partial aggregation,
    * then a global TakeOrdered of k rows.
    */
  def searchCollapse(query: String, k: Int, groupCol: String): DataFrame =
    scoredMatches(query)
      .join(docs, "docId")
      .select(col(groupCol), $"docId", $"score")
      .groupBy(col(groupCol))
      .agg(max(struct($"score", (-$"docId").as("negId"))).as("best"))
      .select(col(groupCol), (-$"best.negId").as("docId"), $"best.score".as("score"))
      .orderBy($"score".desc, $"docId".asc)
      .limit(k)

  /** Batched search: evaluate many queries in ONE Spark job. All queries'
    * posting segments are fetched in a single pushdown scan and scored
    * per-shard together — the throughput mode for query workloads (amortizes
    * per-job driver latency across the batch).
    * Returns (query_name, docId, score, rank).
    */
  def searchBatch(queries: Seq[(String, String, Int)],
                  conjunctive: Boolean = true): DataFrame = {
    val parsed = queries.map { case (name, q, k) =>
      (name, Tokenize.tokenize(q).distinct.sorted.toSeq, k)
    }
    val allTerms = parsed.flatMap(_._2).distinct.sorted
    if (allTerms.isEmpty)
      return Seq.empty[(String, Long, Double, Int)]
        .toDF("query_name", "docId", "score", "rank")
    val info = lookupTerms(allTerms)
    val idfByTerm: Map[String, Double] = allTerms.filter(t => info(t).df > 0L)
      .map(t => t -> idf(meta.numDocs, info(t).df)).toMap
    // resolve each query against the dictionary up front (AND + missing
    // term → dead query, the early-exit analog)
    val live = parsed.flatMap { case (name, ts, k) =>
      val presentTs = ts.filter(idfByTerm.contains)
      if (conjunctive && presentTs.length < ts.length) None
      else flatTree(presentTs, conjunctive).map(tree =>
        (name, presentTs, k, tree, BoolQuery.requiredTerms(tree)))
    }
    if (live.isEmpty)
      return Seq.empty[(String, Long, Double, Int)]
        .toDF("query_name", "docId", "score", "rank")
    val liveTerms = live.flatMap(_._2).distinct.sorted
    // shards any live query can hit: per-query intersection (conjunctive) /
    // union (disjunctive) of the cached per-term shard sets, then the union
    // across queries — driver-side, no Spark job
    val candShards = live.flatMap { case (_, ts, _, _, _) =>
      if (conjunctive) ts.map(t => info(t).shards).reduce(Searcher.intersectSorted).toSeq
      else ts.flatMap(t => info(t).shards.toSeq)
    }.distinct.sorted
    if (candShards.isEmpty)
      return Seq.empty[(String, Long, Double, Int)]
        .toDF("query_name", "docId", "score", "rank")
    val (k1, b, avgdl) = (meta.k1, meta.b, meta.avgdl)
    val (pruning, reB) = (usePruning, needReBound)
    val (accS, accP) = (candidatesScored, candidatesPruned)
    // one tree per query over the shard's shared segments; a query missing
    // a required list here returns from the kernel before any decode
    val hits = perShard[PostingSeg, (String, Long, Double)](liveTerms, candShards, Nil) {
      (segsByTerm, lens, deleted) =>
        live.iterator.flatMap { case (name, ts, k, tree, required) =>
          Searcher.scoreShardBool(segsByTerm, lens, tree, ts, required,
            idfByTerm, k1, b, avgdl, k, null, accS, accP, pruning, deleted, reB)
            .map(h => (name, h.docId, h.score))
        }
    }.toDF("query_name", "docId", "score")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("query_name")
      .orderBy(col("score").desc, col("docId").asc)
    val kByName = live.map(q => (q._1, q._3)).toMap
    val kDf = kByName.toSeq.toDF("query_name", "k")
    hits.withColumn("rank", row_number().over(w))
      .join(broadcast(kDf), "query_name")
      .filter(col("rank") <= col("k"))
      .select("query_name", "docId", "score", "rank")
  }
}

object Searcher {

  /** Shared default expansion cap for multi-term rewrites (prefix/wildcard/
    * regex/fuzzy/range) — ONE constant so engine paths and CLI oracles can
    * reference the same value instead of coincidentally-equal literals.
    */
  val DefaultMaxExpand: Int = 64

  /** Default bound on the driver-side term-metadata LRU (~100 B/entry). */
  val DefaultTermCacheCap: Int = 1 << 20

  /** The longest literal token prefix a regex pattern is guaranteed to
    * require: literal token chars ([a-z0-9_]) up to the first regex
    * metacharacter; if that metacharacter quantifies the previous char as
    * optional (`?`, `*`, `{` — e.g. `ab?` matches `a`), the last collected
    * char is dropped. A TOP-LEVEL alternation (`util_1|val`) makes any
    * prefix walk unsound — an alternative need not share the prefix — so
    * the pre-scan returns "" (full dict scan) whenever an unescaped `|`
    * appears at paren depth 0; alternation INSIDE a group after the prefix
    * (`ab(c|d)`) is fine, every match still starts with the prefix. Used to
    * push a startsWith range filter into the dict scan; "" (no pushdown)
    * is always safe.
    */
  /** Glob → anchored-regex body for wildcard queries: `*` → `.*`, `?` →
    * `.`, everything else a literal (lowercased to match the tokenizer's
    * normalization; regex metacharacters backslash-escaped). The leading
    * literal run survives as ordinary token chars, so [[literalPrefix]]
    * extracts the dict-scan pushdown prefix from the translation unchanged
    * — `util_1?` → `util_1.` → pushdown prefix `util_1`.
    */
  private[graft] def globToRegex(glob: String): String = {
    require(glob.nonEmpty, "empty wildcard pattern")
    val sb = new StringBuilder
    glob.foreach {
      case '*' => sb.append(".*")
      case '?' => sb.append('.')
      case c =>
        val lc = Character.toLowerCase(c)
        if (!lc.isLetterOrDigit && lc != '_') sb.append('\\')
        sb.append(lc)
    }
    sb.toString
  }

  private[graft] def literalPrefix(pattern: String): String = {
    // soundness pre-scan: any top-level alternation voids the prefix
    var depth = 0
    var j = 0
    while (j < pattern.length) {
      pattern.charAt(j) match {
        case '\\' => j += 1 // skip the escaped char
        case '(' => depth += 1
        case ')' => depth -= 1
        case '|' if depth == 0 => return ""
        case _ => ()
      }
      j += 1
    }
    val sb = new StringBuilder
    var i = 0
    while (i < pattern.length) {
      val c = pattern.charAt(i)
      if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9') || c == '_') {
        sb.append(c); i += 1
      } else {
        if ((c == '?' || c == '*' || c == '{') && sb.nonEmpty)
          sb.setLength(sb.length - 1)
        return sb.toString
      }
    }
    sb.toString
  }

  /** Synthetic "term" carrying a metadata filter's docId list through the
    * intersection kernel (searchWhere). The leading space (0x20) sorts
    * before every token character ([a-z0-9_]), so ascending-term score
    * accumulation is unchanged, and the tokenizer can never produce it.
    */
  val FilterTerm: String = " where"

  /** Synthetic "term" carrying a shard's tombstoned (deleted) docId list.
    * '!' (0x21) cannot be produced by the tokenizer; the segment is
    * partitioned OUT of the per-term map before scoring, never scored.
    */
  val DeletedTerm: String = "!deleted"

  /** Remove tombstoned docIds from a decoded term list (sorted two-cursor
    * filter), REBUILDING the block-max alignment for the filtered arrays:
    * each surviving posting's new block takes the max over the ORIGINAL
    * block bounds of its members — admissible (deletion only removes
    * postings, so every survivor keeps a bound ≥ its own original block's),
    * which keeps block-max pruning ON for tombstoned shards (r4
    * hard-disabled it there; compaction still restores the tight
    * build-time bounds).
    */
  private[graft] def withoutDeleted(l: TermList, deleted: Array[Long]): TermList = {
    if (deleted.isEmpty) return l
    val nd = new Array[Long](l.docs.length)
    val nt = new Array[Int](l.docs.length)
    val nbm = new Array[Float](l.blockMax.length)
    var i = 0; var j = 0; var o = 0
    while (i < l.docs.length) {
      val d = l.docs(i)
      while (j < deleted.length && deleted(j) < d) j += 1
      if (j >= deleted.length || deleted(j) != d) {
        nd(o) = d; nt(o) = l.tfs(i)
        val gb = o >>> 7
        if (l.blockMax(i >>> 7) > nbm(gb)) nbm(gb) = l.blockMax(i >>> 7)
        o += 1
      }
      i += 1
    }
    if (o == l.docs.length) l
    else TermList(l.term, java.util.Arrays.copyOf(nd, o),
      java.util.Arrays.copyOf(nt, o),
      java.util.Arrays.copyOf(nbm, (o + Codec.BlockSize - 1) / Codec.BlockSize),
      l.idfK1p1)
  }

  /** Positional twin of [[withoutDeleted]]: drops deleted docs and rebuilds
    * the flat position array + offsets.
    */
  private[graft] def withoutDeletedPos(l: PosList, deleted: Array[Long]): PosList = {
    if (deleted.isEmpty) return l
    val keep = Array.newBuilder[Int]
    var i = 0; var j = 0
    while (i < l.docs.length) {
      val d = l.docs(i)
      while (j < deleted.length && deleted(j) < d) j += 1
      if (j >= deleted.length || deleted(j) != d) keep += i
      i += 1
    }
    val ks = keep.result()
    if (ks.length == l.docs.length) return l
    val nd = ks.map(l.docs)
    val nt = ks.map(l.tfs)
    val flatLen = nt.sum
    val flat = new Array[Int](flatLen)
    val off = new Array[Int](ks.length + 1)
    var o = 0; var x = 0
    while (x < ks.length) {
      val src = ks(x)
      val s = l.off(src); val e = l.off(src + 1)
      System.arraycopy(l.flat, s, flat, o, e - s)
      o += e - s
      off(x + 1) = o
      x += 1
    }
    PosList(l.term, nd, nt, flat, off)
  }

  /** Pack locally-(shard, docId)-sorted rows into zero-score posting runs
    * WITHOUT any exchange (r6; filter and tombstone lists previously paid a
    * groupByKey shuffle per query): consecutive ascending same-shard rows
    * form one delta-compressed run; a shard split across scan partitions
    * yields several partial runs, merged at decode time
    * ([[decodeTermList]] for interval-disjoint filter runs,
    * [[decodeDeleted]] for arbitrary tombstone partials). Zero block
    * bounds keep the runs admissible under every pruning rule (idf 0).
    * `sumTfPerId` matches the historical segment headers: filter lists
    * carry sumTf = n, exclusion lists sumTf = 0.
    */
  private[graft] def packRuns(term: String, it: Iterator[(Long, Int)],
                              sumTfPerId: Boolean): Iterator[PostingSeg] = {
    val buf = it.buffered
    new Iterator[PostingSeg] {
      def hasNext: Boolean = buf.hasNext
      def next(): PostingSeg = {
        val (d0, shard) = buf.next()
        val ids = Array.newBuilder[Long]
        ids += d0
        var prev = d0
        while (buf.hasNext && buf.head._2 == shard && buf.head._1 > prev) {
          prev = buf.next()._1
          ids += prev
        }
        val arr = ids.result()
        val nBlocks = (arr.length + Codec.BlockSize - 1) / Codec.BlockSize
        val firsts = Array.tabulate(nBlocks)(bi => arr(bi * Codec.BlockSize))
        PostingSeg(term, shard, arr.length,
          if (sumTfPerId) arr.length.toLong else 0L,
          Codec.encodeDeltas(arr), Codec.encodeInts(Array.fill(arr.length)(1)),
          firsts, new Array[Float](nBlocks),
          new Array[Int](nBlocks), new Array[Int](nBlocks))
      }
    }
  }

  /** Tombstone rows `(docId, shard)` as exclusion runs under
    * [[DeletedTerm]], packed per partition after a LOCAL sort — no
    * groupByKey exchange. A shard split across partitions yields several
    * partial runs; [[decodeDeleted]] merges arbitrary partials (distinct +
    * sort), so correctness is unconditional. Queries and compaction both
    * exclude tombstoned docs through these runs.
    */
  private[graft] def deletedRuns(tombstones: DataFrame): Dataset[PostingSeg] = {
    import tombstones.sparkSession.implicits._
    tombstones.select($"docId", $"shard")
      .sortWithinPartitions($"shard", $"docId")
      .as[(Long, Int)]
      .mapPartitions(it => packRuns(DeletedTerm, it, sumTfPerId = false))
  }

  /** Merge a shard's [[packRuns]] partials — which may INTERLEAVE across
    * scan partitions (row order of the source table is layout-dependent) —
    * into one sorted zero-bound run. Order-independent by construction:
    * decode everything, sort, re-encode. Shard-bounded work.
    */
  private[graft] def mergeZeroBoundRuns(fs: Array[PostingSeg]): PostingSeg = {
    val ids = fs.flatMap(s => Codec.decodeDeltas(s.docBytes, s.n)).sorted
    val nBlocks = (ids.length + Codec.BlockSize - 1) / Codec.BlockSize
    val firsts = Array.tabulate(nBlocks)(bi => ids(bi * Codec.BlockSize))
    PostingSeg(fs.head.term, fs.head.shard, ids.length,
      fs.map(_.sumTf).sum,
      Codec.encodeDeltas(ids), Codec.encodeInts(Array.fill(ids.length)(1)),
      firsts, new Array[Float](nBlocks),
      new Array[Int](nBlocks), new Array[Int](nBlocks))
  }

  /** Decode + merge a shard's tombstone segments into one sorted docId
    * array (normally exactly one segment per shard).
    */
  private[graft] def decodeDeleted(del: Array[_ <: Segment]): Array[Long] =
    if (del.isEmpty) Array.emptyLongArray
    else if (del.length == 1) Codec.decodeDeltas(del.head.docBytes, del.head.n)
    else del.flatMap(s => Codec.decodeDeltas(s.docBytes, s.n)).distinct.sorted

  /** BM25 length normalization of a doc of length `dlen`:
    * `k1·(1−b+b·dlen/avgdl)`.
    */
  @inline private def lengthNorm(k1: Double, b: Double, dlen: Double,
                                 avgdl: Double): Double =
    k1 * (1.0 - b + b * (dlen / avgdl))

  /** One term's BM25 summand, `idf·tf·(k1+1) / (tf + norm)`, with `k1p1` =
    * k1 + 1 and `norm` from [[lengthNorm]]. Every kernel scores through it,
    * in this exact IEEE shape, which the oracle reproduces bit for bit.
    */
  @inline private def termScore(idf: Double, tf: Double, k1p1: Double,
                                norm: Double): Double =
    (idf * (tf * k1p1)) / (tf + norm)

  /** Cached per-term metadata: global doc frequency and the sorted shard set
    * holding the term (df == 0 ⇔ term absent from the index).
    */
  private[graft] case class TermInfo(df: Long, shards: Array[Int])

  /** Intersection of two sorted int arrays (two-cursor merge). */
  private[query] def intersectSorted(a: Array[Int], b: Array[Int]): Array[Int] = {
    val out = Array.newBuilder[Int]
    var i = 0; var j = 0
    while (i < a.length && j < b.length) {
      if (a(i) < b(j)) i += 1
      else if (a(i) > b(j)) j += 1
      else { out += a(i); i += 1; j += 1 }
    }
    out.result()
  }

  /** Union of two sorted int arrays (two-cursor merge, distinct). */
  private[query] def unionSorted(a: Array[Int], b: Array[Int]): Array[Int] = {
    val out = Array.newBuilder[Int]
    var i = 0; var j = 0
    while (i < a.length && j < b.length) {
      if (a(i) < b(j)) { out += a(i); i += 1 }
      else if (a(i) > b(j)) { out += b(j); j += 1 }
      else { out += a(i); i += 1; j += 1 }
    }
    while (i < a.length) { out += a(i); i += 1 }
    while (j < b.length) { out += b(j); j += 1 }
    out.result()
  }

  /** First index `>= from` with `arr(idx) >= target` (exponential + binary). */
  def gallop(arr: Array[Long], from: Int, target: Long): Int = {
    var lo = from
    if (lo >= arr.length || arr(lo) >= target) return lo
    var step = 1
    var hi = lo + 1
    while (hi < arr.length && arr(hi) < target) { lo = hi; step <<= 1; hi = lo + step }
    if (hi > arr.length) hi = arr.length
    // binary search in (lo, hi]
    var l = lo + 1; var h = hi
    while (l < h) {
      val m = (l + h) >>> 1
      if (arr(m) < target) l = m + 1 else h = m
    }
    l
  }

  private[query] case class TermList(term: String, docs: Array[Long], tfs: Array[Int],
                                     blockMax: Array[Float], idfK1p1: Double) {
    var pos: Int = 0
  }

  /** Decode a term's segments for one shard. A base index yields exactly one
    * segment; with streaming deltas the same (term, shard) may have several
    * segments covering DISJOINT ascending docId ranges (base ∪ batches) —
    * concatenate in first-docId order.
    *
    * Block bounds: with `reBound` (deltas present — the combined avgdl is
    * not the one stored blockMaxTfn was computed with) each segment's
    * bounds are re-derived from its avgdl-free (maxTf, minDlen) block stats
    * under the query-time (k1, b, avgdl) — [[Codec.recomputeBlockUb]].
    * Multi-segment concatenation additionally RE-ALIGNS bounds: the
    * concatenated `pos >>> 7` blocks straddle segment boundaries whenever a
    * segment's length is not a multiple of 128, so each concatenated block
    * takes the max over the original blocks that contribute to it
    * (admissible: every posting keeps a bound ≥ its own original block's).
    */
  private[graft] def decodeTermList(term: String, ss: Array[PostingSeg],
                                    idfK1p1: Double, reBound: Boolean = false,
                                    k1: Double = 0.0, b: Double = 0.0,
                                    avgdl: Double = 1.0): TermList = {
    def ubOf(s: PostingSeg): Array[Float] =
      if (!reBound) s.blockMaxTfn
      else Codec.recomputeBlockUb(s.blockMaxTf, s.blockMinDlen, k1, b, avgdl)
    if (ss.length == 1) {
      val s = ss.head
      TermList(term, Codec.decodeDeltas(s.docBytes, s.n),
        Codec.decodeInts(s.tfBytes, s.n), ubOf(s), idfK1p1)
    } else {
      val parts = ss.map(s => (Codec.decodeDeltas(s.docBytes, s.n),
        Codec.decodeInts(s.tfBytes, s.n), ubOf(s))).sortBy(_._1.head)
      // ranges must be disjoint and ascending
      var i = 1
      while (i < parts.length) {
        require(parts(i - 1)._1.last < parts(i)._1.head,
          s"overlapping posting segments for term '$term'")
        i += 1
      }
      val docs = parts.flatMap(_._1)
      val tfs = parts.flatMap(_._2)
      val bounds =
        new Array[Float]((docs.length + Codec.BlockSize - 1) / Codec.BlockSize)
      var off = 0
      parts.foreach { case (d, _, bm) =>
        var j = 0
        while (j < d.length) {
          val gb = (off + j) >>> 7
          if (bm(j >>> 7) > bounds(gb)) bounds(gb) = bm(j >>> 7)
          j += 1
        }
        off += d.length
      }
      TermList(term, docs, tfs, bounds, idfK1p1)
    }
  }

  private[query] case class PosList(term: String, docs: Array[Long],
                                    tfs: Array[Int], flat: Array[Int],
                                    off: Array[Int]) {
    var pos: Int = 0
  }

  /** Decode a positional term list for one shard (multi-segment = disjoint
    * ascending docId ranges, as in [[decodeTermList]]; the per-doc position
    * lists are self-contained so the flat position array concatenates in the
    * same order).
    */
  private[graft] def decodePosList(term: String, ss: Array[PostingSegP]): PosList = {
    if (ss.length == 1) {
      val s = ss.head
      val docs = Codec.decodeDeltas(s.docBytes, s.n)
      val tfs = Codec.decodeInts(s.tfBytes, s.n)
      PosList(term, docs, tfs, Codec.decodePositions(s.posBytes, tfs),
        Codec.prefixSums(tfs))
    } else {
      val parts = ss.map { s =>
        val docs = Codec.decodeDeltas(s.docBytes, s.n)
        val tfs = Codec.decodeInts(s.tfBytes, s.n)
        (docs, tfs, Codec.decodePositions(s.posBytes, tfs))
      }.sortBy(_._1.head)
      var i = 1
      while (i < parts.length) {
        require(parts(i - 1)._1.last < parts(i)._1.head,
          s"overlapping posting segments for term '$term'")
        i += 1
      }
      val tfs = parts.flatMap(_._2)
      PosList(term, parts.flatMap(_._1), tfs, parts.flatMap(_._3),
        Codec.prefixSums(tfs))
    }
  }

  /** Ascending merge of member position lists into one slot-union PosList.
    * Docs are the union; per-doc positions are the k-way ascending merge
    * (disjoint across distinct terms, so no dedup); per-doc tf is the
    * merged count. `key` becomes the list's term, so the positional
    * kernel looks its idf up by the slot key.
    */
  private[graft] def mergeSlotLists(key: String,
                                    members: Array[PosList]): PosList = {
    if (members.length == 1)
      return members.head.copy(term = key)
    val docsB = Array.newBuilder[Long]
    val tfsB = Array.newBuilder[Int]
    val flatB = Array.newBuilder[Int]
    val idx = new Array[Int](members.length)
    var more = members.exists(_.docs.nonEmpty)
    while (more) {
      var doc = Long.MaxValue
      var mi = 0
      while (mi < members.length) {
        val m = members(mi)
        if (idx(mi) < m.docs.length && m.docs(idx(mi)) < doc)
          doc = m.docs(idx(mi))
        mi += 1
      }
      if (doc == Long.MaxValue) more = false
      else {
        // gather this doc's positions from every member holding it
        var tf = 0
        val posParts = Array.newBuilder[(Array[Int], Int, Int)]
        mi = 0
        while (mi < members.length) {
          val m = members(mi)
          if (idx(mi) < m.docs.length && m.docs(idx(mi)) == doc) {
            val s = m.off(idx(mi)); val e = m.off(idx(mi) + 1)
            posParts += ((m.flat, s, e))
            tf += e - s
            idx(mi) += 1
          }
          mi += 1
        }
        val parts = posParts.result()
        if (parts.length == 1) {
          val (a, s, e) = parts(0)
          var x = s; while (x < e) { flatB += a(x); x += 1 }
        } else {
          val merged = new Array[Int](tf)
          var w = 0
          parts.foreach { case (a, s, e) =>
            var x = s; while (x < e) { merged(w) = a(x); w += 1; x += 1 } }
          java.util.Arrays.sort(merged)
          flatB ++= merged
        }
        docsB += doc
        tfsB += tf
      }
    }
    val tfs = tfsB.result()
    PosList(key, docsB.result(), tfs, flatB.result(), Codec.prefixSums(tfs))
  }

  /** Synonym scoring for one shard (Lucene SynonymQuery): the variants'
    * decoded lists, deleted docs removed, merge into one whose per-doc tf is
    * the SUM of the variants' tfs (an integer sum, so order-independent),
    * scored as a single term with the blended `idf`; emits the shard's
    * top-k.
    */
  private def scoreShardSynonym(segsByTerm: Map[String, Array[PostingSeg]],
                                lens: ShardLens, idf: Double,
                                k1: Double, b: Double, avgdl: Double, k: Int,
                                deleted: Array[Long]): Iterator[Hit] = {
    val k1p1 = k1 + 1.0
    // docId-aligned like the norms row: slot i is doc firstDocId + i
    val tfSum = new Array[Int](lens.lens.length)
    segsByTerm.foreach { case (t, ss) =>
      val l = withoutDeleted(decodeTermList(t, ss, 0.0), deleted)
      var i = 0
      while (i < l.docs.length) {
        tfSum((l.docs(i) - lens.firstDocId).toInt) += l.tfs(i)
        i += 1
      }
    }
    val heap = mutable.PriorityQueue.empty[Hit](Ordering.by((h: Hit) => (-h.score, h.docId)))
    var i = 0
    while (i < tfSum.length) {
      if (tfSum(i) > 0) {
        val score = termScore(idf, tfSum(i), k1p1, lengthNorm(k1, b, lens.lens(i), avgdl))
        val cand = lens.firstDocId + i
        if (heap.size < k) heap.enqueue(Hit(cand, score))
        else if (score > heap.head.score) { heap.dequeue(); heap.enqueue(Hit(cand, score)) }
      }
      i += 1
    }
    heap.iterator.toArray.iterator
  }

  /** Explain rows for one shard's hits: for each hit and each `(term, df,
    * idf)` whose list holds the hit doc, `(docId, score, term, tf, df, idf,
    * contribution)` with the contribution from [[termScore]] under the
    * shard's norms row.
    */
  private def explainShard(segsByTerm: Map[String, Array[PostingSeg]], lens: ShardLens,
                           hits: Array[Hit], stats: Seq[(String, Long, Double)],
                           k1: Double, b: Double, avgdl: Double)
      : Iterator[(Long, Double, String, Int, Long, Double, Double)] = {
    val k1p1 = k1 + 1.0
    val lists = stats.flatMap { case (t, df, idf) =>
      segsByTerm.get(t).map(ss => (decodeTermList(t, ss, 0.0), df, idf))
    }
    hits.iterator.flatMap { h =>
      val norm = lengthNorm(k1, b, lens.lens((h.docId - lens.firstDocId).toInt), avgdl)
      lists.iterator.flatMap { case (l, df, idf) =>
        val i = java.util.Arrays.binarySearch(l.docs, h.docId)
        if (i < 0) None
        else Some((h.docId, h.score, l.term, l.tfs(i), df, idf,
          termScore(idf, l.tfs(i), k1p1, norm)))
      }
    }
  }

  /** Merge the (possibly several, with streaming deltas) per-part ShardLens
    * rows of one shard into a single docId-aligned array: all rows share
    * firstDocId = shard·docsPerShard and fill disjoint docId slots.
    */
  private[graft] def mergeLens(it: Iterator[ShardLens]): ShardLens = {
    val first = it.next()
    if (!it.hasNext) first
    else {
      val rest = it.toArray
      val all = first +: rest
      val maxLen = all.map(_.lens.length).max
      val merged = new Array[Int](maxLen)
      all.foreach { sl =>
        var i = 0
        while (i < sl.lens.length) {
          if (sl.lens(i) != 0) merged(i) = sl.lens(i)
          i += 1
        }
      }
      ShardLens(first.shard, first.firstDocId, merged)
    }
  }

  /** Per-shard boolean-tree evaluation (document-at-a-time, EXACT, with
    * block-max pruning through the tree — the r4 verdict's "WAND-class
    * skipping for boolean trees"). Admissible bounds come from
    * [[BoolQuery.upperBound]] (AND/OR sum their children — this engine's OR
    * sums matched clauses — NOT bounds at 0, Boost multiplies), applied at
    * three tiers, every one guarded by `bound ≤ θ` with θ the current k-th
    * heap score, so skipping never changes the result:
    *
    *  1. SHARD-CONSTANT exit — every leaf at its list-wide ceiling
    *     (idf·(k1+1)·max over block maxima). Once θ beats it, no remaining
    *     candidate can enter the heap and the walk stops.
    *  2a. Conjunctive root (required terms exist): candidates come from the
    *     rarest required list; BEFORE galloping the other lists, the tree
    *     bound with the lead at its CURRENT block and every other leaf at
    *     its list ceiling is tested — a cold lead block skips the candidate
    *     for the cost of one bound walk.
    *  2b. Disjunctive root: WAND pivoting over the POSITIVE lists only
    *     (every match contains a positive-occurrence term,
    *     [[BoolQuery.positiveTerms]]) — lists stay sorted by current docId,
    *     the pivot is the shortest prefix whose tree bound (prefix leaves
    *     at list ceilings) beats θ, and lists before the pivot gallop
    *     straight to it: docs between are never touched, the WAND skip.
    *  3. BLOCK-MAX recheck at the candidate — presence now known, each
    *     present leaf bounds at its current 128-posting block maximum —
    *     before the exact [[BoolQuery.evalScore]] walk runs (negative
    *     lists gallop only after this test passes: a pruned candidate
    *     never pays the veto lookup).
    *
    * Every non-positional BM25 mode runs here: flat AND / OR queries are
    * the And / Or of their distinct terms in ascending order (so the
    * evalScore sum is the ascending-term sum the oracle computes), NOT
    * queries add `Not` leaves, filtered queries a zero-idf required leaf.
    * `after` (cursor paging, may be null) admits only hits ranked strictly
    * after it in (score desc, docId asc) order, so the heap stays size k at
    * any page depth; `k = Int.MaxValue` emits the shard's full match set.
    * `pruning = false` (the `forcePruningOff` test hook) makes every bound
    * +∞ and the walk the exact unpruned traversal. `deleted` (tombstones,
    * sorted) is removed from every list; `reBound` re-derives block bounds
    * under the combined avgdl of a base + delta index.
    */
  def scoreShardBool(segsByTerm: Map[String, Array[PostingSeg]],
                     lens: ShardLens, tree: BoolQ,
                     termsSorted: Seq[String], required: Seq[String],
                     idfByTerm: Map[String, Double],
                     k1: Double, b: Double, avgdl: Double, k: Int, after: Hit,
                     accScored: LongAccumulator, accPruned: LongAccumulator,
                     pruning: Boolean, deleted: Array[Long],
                     reBound: Boolean): Iterator[Hit] = {
    val k1p1 = k1 + 1.0
    // a required term with no postings in this shard → no match possible
    if (required.exists(t => !segsByTerm.contains(t))) return Iterator.empty
    val present = termsSorted.filter(segsByTerm.contains)
    val lists: Array[TermList] = present.map(t =>
      withoutDeleted(
        decodeTermList(t, segsByTerm(t), idfByTerm(t) * k1p1, reBound, k1, b, avgdl),
        deleted)).toArray
    val byTerm: Map[String, Int] = present.zipWithIndex.toMap
    val n = lists.length
    if (n == 0) return Iterator.empty
    if (required.exists(t => lists(byTerm(t)).docs.isEmpty)) return Iterator.empty

    // per-list ceilings (idf·(k1+1)·max over the list's block bounds);
    // +∞ when pruning is off so every bound test passes
    val listMaxUb = new Array[Double](n)
    if (pruning) {
      var i = 0
      while (i < n) {
        val l = lists(i)
        var m = 0.0f; var j = 0
        while (j < l.blockMax.length) { if (l.blockMax(j) > m) m = l.blockMax(j); j += 1 }
        listMaxUb(i) = l.idfK1p1 * m
        i += 1
      }
    } else java.util.Arrays.fill(listMaxUb, Double.PositiveInfinity)
    def curUb(i: Int): Double = {
      val l = lists(i)
      if (l.pos < l.docs.length) l.idfK1p1 * l.blockMax(l.pos >>> 7) else 0.0
    }
    // affine fast path (DisMax-free trees): upperBound is Σ w_i·ub_i + c,
    // so the per-candidate bound computations below become scalar loops
    // instead of O(tree) walks with hashed leaf lookups — the difference
    // between WAND-class and tree-walk-class cost on wide expanded ORs.
    // The scalar sum's order differs from the tree walk's; nonnegative
    // reorder error is ≤ (n−1)·ε·Σ (~1e-14 rel at n=65), absorbed many
    // orders of magnitude over by the stored blockMax float-up margin —
    // the 1e-12 inflation makes the slack explicit. Inflating a bound only
    // weakens pruning, never admissibility.
    // r6 (VERDICT #3): the affine fast path now also covers DISMAX-BEARING
    // trees — upperBound there is a MAX of affine forms (one per DisMax
    // max-slot choice, boundWeightsMax), so per-candidate bounds stay
    // scalar loops (K ≤ MaxBoundForms accumulators) instead of tree
    // re-walks with hashed leaf lookups. A DisMax-free tree yields K = 1
    // and takes the unchanged single-form path.
    val affineForms: Option[Vector[(Array[Double], Double)]] =
      if (!pruning) None
      else BoolQuery.boundWeightsMax(tree).map(_.map { case (w, c) =>
        (Array.tabulate(n)(i => w.getOrElse(present(i), 0.0)), c)
      })
    // r6 (ADVICE): the reorder error grows as (n−1)·ε·Σ, so a FIXED 1e-12
    // slack is only valid while n ≲ 4500 — scale the margin with the list
    // count (identical to 1e-12 below that, so ranking bits are unchanged;
    // wider trees get a still-negligible but now provably-admissible slack)
    val inflFrac: Double = math.max(1e-12, (n + 1) * 2.3e-16)
    @inline def inflate(x: Double): Double = x + inflFrac * x
    val single = affineForms.filter(_.length == 1).map(_.head)
    val wArr: Array[Double] = single.map(_._1).orNull
    val wConst: Double = single.map(_._2).getOrElse(0.0)
    val multi = affineForms.filter(_.length > 1)
    val wForms: Array[Array[Double]] = multi.map(_.map(_._1).toArray).orNull
    val wFormC: Array[Double] = multi.map(_.map(_._2).toArray).orNull
    val nForms: Int = if (wForms == null) 0 else wForms.length
    // uninflated affine total — per-candidate bounds derive from it by
    // swapping single-list contributions, then inflate at the comparison
    val affineTotal: Double =
      if (wArr == null) 0.0
      else {
        var s = wConst; var i = 0
        while (i < n) { s += wArr(i) * listMaxUb(i); i += 1 }
        s
      }
    // per-form totals for the multi-form (DisMax) path
    val formTotals: Array[Double] =
      if (wForms == null) null
      else Array.tabulate(nForms) { kf =>
        var s = wFormC(kf); var i = 0
        while (i < n) { s += wForms(kf)(i) * listMaxUb(i); i += 1 }
        s
      }
    val constUb: Double =
      if (!pruning) Double.PositiveInfinity
      else if (wArr != null) inflate(affineTotal)
      else if (wForms != null) {
        var m = formTotals(0); var kf = 1
        while (kf < nForms) { if (formTotals(kf) > m) m = formTotals(kf); kf += 1 }
        inflate(m)
      } else
        BoolQuery.upperBound(tree, t => byTerm.get(t).map(listMaxUb).getOrElse(0.0))

    val heap = mutable.PriorityQueue.empty[Hit](
      Ordering.by((h: Hit) => (-h.score, h.docId)))
    var scored = 0L
    var pruned = 0L
    val has = new Array[Boolean](n)
    def theta: Double = if (heap.size >= k) heap.head.score else Double.NegativeInfinity
    // the leaf callbacks of the tree walk, built once per shard: one slot
    // lookup per leaf, no Option, the idf read from the slot's array
    val idfOf: Array[Double] = present.map(idfByTerm).toArray
    val hasLeaf: String => Boolean = { t => val i = byTerm.getOrElse(t, -1); i >= 0 && has(i) }
    var norm = 0.0
    val leafScore: String => Double = { t =>
      val i = byTerm(t)
      termScore(idfOf(i), lists(i).tfs(lists(i).pos), k1p1, norm)
    }
    // tier-3 bound: each leaf present at the candidate (`has`) at its
    // current block's bound, absent leaves at 0
    def presentUb(): Double =
      if (!pruning) Double.PositiveInfinity
      else if (wArr != null) {
        var s = wConst; var j = 0
        while (j < n) { if (has(j)) s += wArr(j) * curUb(j); j += 1 }
        inflate(s)
      } else if (wForms != null) {
        var mx = Double.NegativeInfinity; var kf = 0
        while (kf < nForms) {
          var s = wFormC(kf); var j = 0
          while (j < n) { if (has(j)) s += wForms(kf)(j) * curUb(j); j += 1 }
          if (s > mx) mx = s
          kf += 1
        }
        inflate(mx)
      } else
        BoolQuery.upperBound(tree, t => byTerm.get(t) match {
          case Some(j) if has(j) => curUb(j)
          case _ => 0.0
        })
    // exact evaluation at `cand`; every present list's cursor sits at cand
    def evalAt(cand: Long): Unit = {
      norm = lengthNorm(k1, b, lens.lens((cand - lens.firstDocId).toInt), avgdl)
      val score = BoolQuery.evalScore(tree, hasLeaf, leafScore)
      if (!score.isNaN) {
        scored += 1
        val qualifies = after == null || score < after.score ||
          (score == after.score && cand > after.docId)
        if (qualifies) {
          if (heap.size < k) heap.enqueue(Hit(cand, score))
          else if (score > heap.head.score) { heap.dequeue(); heap.enqueue(Hit(cand, score)) }
        }
      }
    }

    if (required.nonEmpty) {
      // ---- conjunctive root: rarest required list leads ------------------
      // required lists rarest first: the lead, then the likeliest misses
      val reqIdx: Array[Int] = required.map(byTerm).sortBy(i => lists(i).docs.length).toArray
      val isReq = new Array[Boolean](n)
      reqIdx.foreach(isReq(_) = true)
      val leadIdx = reqIdx(0)
      val lead = lists(leadIdx)
      val leadTerm = present(leadIdx)
      var li = 0
      var done = false
      while (!done && li < lead.docs.length) {
        val th = theta
        if (constUb <= th) done = true // tier 1: shard exhausted for this θ
        else {
          val cand = lead.docs(li)
          lead.pos = li
          // tier 2a: lead at its current block, other leaves optimistic
          val b1 =
            if (!pruning) Double.PositiveInfinity
            else if (wArr != null)
              // the affine total with the lead's ceiling swapped for its
              // current block's
              inflate(affineTotal - wArr(leadIdx) * listMaxUb(leadIdx)
                + wArr(leadIdx) * (lead.idfK1p1 * lead.blockMax(li >>> 7)))
            else if (wForms != null) {
              val delta =
                lead.idfK1p1 * lead.blockMax(li >>> 7) - listMaxUb(leadIdx)
              var mx = Double.NegativeInfinity; var kf = 0
              while (kf < nForms) {
                val v = formTotals(kf) + wForms(kf)(leadIdx) * delta
                if (v > mx) mx = v
                kf += 1
              }
              inflate(mx)
            } else
              BoolQuery.upperBound(tree, t =>
                if (t == leadTerm) lead.idfK1p1 * lead.blockMax(li >>> 7)
                else byTerm.get(t).map(listMaxUb).getOrElse(0.0))
          if (b1 <= th) pruned += 1
          else {
            // every required list must hold cand: one that misses skips
            // it, one past its end ends the shard (no later candidate can
            // match); the other lists gallop only for full candidates
            var ok = true
            var r = 1
            while (ok && r < reqIdx.length) {
              val l = lists(reqIdx(r))
              l.pos = gallop(l.docs, l.pos, cand)
              if (l.pos >= l.docs.length) { ok = false; done = true }
              else if (l.docs(l.pos) != cand) ok = false
              r += 1
            }
            var i = 0
            while (ok && i < n) {
              val l = lists(i)
              if (!isReq(i)) l.pos = gallop(l.docs, l.pos, cand)
              has(i) = l.pos < l.docs.length && l.docs(l.pos) == cand
              i += 1
            }
            // tier 3: block-max recheck with exact presence
            if (ok) {
              if (presentUb() <= th) pruned += 1
              else evalAt(cand)
            }
          }
          li += 1
        }
      }
    } else {
      // ---- disjunctive root: WAND pivoting over the positive lists -------
      val posTermSet = BoolQuery.positiveTerms(tree)
      val posFlag: Array[Boolean] =
        Array.tabulate(n)(i => posTermSet.contains(present(i)))
      val order: Array[Int] = (0 until n).filter(posFlag).toArray
      val m = order.length
      if (m == 0) return Iterator.empty // no positive list here → no match
      def curDoc(i: Int): Long = {
        val l = lists(i)
        if (l.pos < l.docs.length) l.docs(l.pos) else Long.MaxValue
      }
      def resort(): Unit = {
        var i = 1
        while (i < m) {
          val v = order(i); val key = curDoc(v)
          var j = i - 1
          while (j >= 0 && curDoc(order(j)) > key) { order(j + 1) = order(j); j -= 1 }
          order(j + 1) = v
          i += 1
        }
      }
      val inPrefix = new Array[Boolean](n)
      resort()
      var done = false
      while (!done) {
        if (curDoc(order(0)) == Long.MaxValue) done = true
        else {
          val th = theta
          // pivot: shortest docId-order prefix whose tree bound beats θ
          // (tier 1 is subsumed: the full-set bound ≤ constUb, so a θ past
          // constUb finds no pivot and ends the walk)
          java.util.Arrays.fill(inPrefix, false)
          var p = -1
          var i = 0
          // affine: the prefix bound is a running scalar sum — the classic
          // WAND accumulator — instead of a tree re-walk per prefix step;
          // with DisMax forms, K accumulators and a running max
          var acc = wConst
          val accF: Array[Double] =
            if (wForms != null) java.util.Arrays.copyOf(wFormC, nForms) else null
          while (p < 0 && i < m && curDoc(order(i)) != Long.MaxValue) {
            inPrefix(order(i)) = true
            val ub =
              if (!pruning) Double.PositiveInfinity
              else if (wArr != null) {
                acc += wArr(order(i)) * listMaxUb(order(i))
                inflate(acc)
              } else if (wForms != null) {
                var mx = Double.NegativeInfinity; var kf = 0
                while (kf < nForms) {
                  accF(kf) += wForms(kf)(order(i)) * listMaxUb(order(i))
                  if (accF(kf) > mx) mx = accF(kf)
                  kf += 1
                }
                inflate(mx)
              } else
                BoolQuery.upperBound(tree, t => byTerm.get(t) match {
                  case Some(j) if inPrefix(j) => listMaxUb(j)
                  case _ => 0.0
                })
            if (ub > th) p = i
            i += 1
          }
          if (p < 0) done = true // no remaining doc can enter the heap
          else {
            val pivotDoc = curDoc(order(p))
            if (curDoc(order(0)) == pivotDoc) {
              // the equal-docId run can extend past the pivot index — the
              // whole run participates and advances (a partial advance
              // would re-emit pivotDoc next iteration)
              var runEnd = p + 1
              while (runEnd < m && curDoc(order(runEnd)) == pivotDoc) runEnd += 1
              // positive presence is known without galloping: exactly the
              // run sits at pivotDoc (lists beyond it are strictly ahead)
              java.util.Arrays.fill(has, false)
              i = 0
              while (i < runEnd) { has(order(i)) = true; i += 1 }
              // tier 3: block-max recheck before the veto lookup + eval
              if (presentUb() <= th) pruned += 1
              else {
                // gallop the negative-only lists for the NOT veto test
                i = 0
                while (i < n) {
                  if (!posFlag(i)) {
                    val l = lists(i)
                    l.pos = gallop(l.docs, l.pos, pivotDoc)
                    has(i) = l.pos < l.docs.length && l.docs(l.pos) == pivotDoc
                  }
                  i += 1
                }
                evalAt(pivotDoc)
              }
              i = 0
              while (i < runEnd) { lists(order(i)).pos += 1; i += 1 }
            } else {
              // lists before the pivot gallop forward to it — the WAND skip
              i = 0
              while (i < p) {
                val l = lists(order(i))
                l.pos = gallop(l.docs, l.pos, pivotDoc)
                i += 1
              }
            }
            resort()
          }
        }
      }
    }
    if (accScored != null) accScored.add(scored)
    if (accPruned != null) accPruned.add(pruned)
    heap.iterator.toArray.iterator
  }

  /** Does span `s` occur in the candidate doc? `sl` holds its slots' lists
    * and `ex` its exclude term's (null when the doc lacks the term), every
    * cursor AT the candidate. Ordered spans walk the greedy chain: per
    * start position of slot 0, ascending, each later slot takes its first
    * position after the previous slot's — the occurrence with the least
    * end for that start. Per-slot cursors only move forward (a later
    * start's chain dominates an earlier one's), so a doc costs O(its
    * positions); a phrase is the chain with window = #slots, whose
    * occurrences are exactly the consecutive runs. An occurrence counts
    * when it fits the window, ends within `end` and has no exclude position
    * in `[start − pre, end − 1 + post]` (starts ascend, so one exclusion
    * cursor serves the doc). Unordered spans sweep the min cover: advance
    * the least head; the cover ending there is max − min + 1.
    */
  private def spanMatches(s: BoolQ.Span, sl: Array[PosList], ex: PosList): Boolean = {
    val m = sl.length
    val cur = new Array[Int](m)
    val lim = new Array[Int](m)
    var i = 0
    while (i < m) { cur(i) = sl(i).off(sl(i).pos); lim(i) = sl(i).off(sl(i).pos + 1); i += 1 }
    var found = false
    var go = true
    if (s.ordered) {
      val (pre, post) = s.exclude.fold((0, 0))(e => (e._2, e._3))
      var x = if (ex == null) 0 else ex.off(ex.pos)
      val xe = if (ex == null) 0 else ex.off(ex.pos + 1)
      while (go && !found && cur(0) < lim(0)) {
        val start = sl(0).flat(cur(0))
        var last = start
        var j = 1
        while (go && j < m) {
          val l = sl(j)
          while (cur(j) < lim(j) && l.flat(cur(j)) <= last) cur(j) += 1
          if (cur(j) >= lim(j)) go = false // no later start completes a chain
          else { last = l.flat(cur(j)); j += 1 }
        }
        if (go && last >= s.end) go = false // later starts end later still
        else if (go && last - start + 1 <= s.window) {
          while (x < xe && ex.flat(x) < start - pre) x += 1
          found = x >= xe || ex.flat(x) > last + post
        }
        cur(0) += 1
      }
    } else {
      while (go && !found) {
        var mn = Int.MaxValue; var mx = Int.MinValue; var mnIdx = -1
        i = 0
        while (i < m) {
          val v = sl(i).flat(cur(i))
          if (v < mn) { mn = v; mnIdx = i }
          if (v > mx) mx = v
          i += 1
        }
        found = mx - mn + 1 <= s.window
        cur(mnIdx) += 1
        go = cur(mnIdx) < lim(mnIdx)
      }
    }
    found
  }

  /** Per-shard POSITIONAL boolean-tree evaluation (exact, document-at-a-
    * time): the one kernel of every phrase, span and near query and of
    * boolean trees with phrase leaves. Each leaf key gets one position
    * list — its term's, or for a span slot `a|b` the union of its members'
    * present in the shard ([[mergeSlotLists]]). Candidates come from the
    * rarest required list (a required span requires each slot key) or, for
    * disjunctive roots, the sorted-distinct union of the positive lists;
    * every list gallops to the candidate, each span leaf whose slot keys
    * are all present is decided by [[spanMatches]], and the tree scores
    * through [[BoolQuery.evalScore]].
    *
    * Pruning uses EXACT per-list score ceilings (the max BM25 contribution
    * actually attained in the shard, one O(postings) pass after decode —
    * positional lists carry no block metadata): presence-level tree bounds
    * over these ceilings are admissible for span leaves too, because a span
    * scores the sum of its slot keys and the position check only SHRINKS
    * the match set — so a candidate (or the whole remaining shard) whose
    * presence bound can't beat θ is skipped before paying the position
    * check, with results exact by construction. `pruning = false` (the
    * `forcePruningOff` test hook) makes every bound +∞. `accScored` counts
    * the candidates that match the tree and are scored, `accPruned` those
    * skipped on their presence bound.
    */
  def scoreShardBoolPos(segsByTerm: Map[String, Array[PostingSegP]],
                        lens: ShardLens, tree: BoolQ,
                        keysSorted: Seq[String], required: Seq[String],
                        idfByKey: Map[String, Double],
                        k1: Double, b: Double, avgdl: Double, k: Int,
                        accScored: LongAccumulator, accPruned: LongAccumulator,
                        pruning: Boolean, deleted: Array[Long]): Iterator[Hit] = {
    val k1p1 = k1 + 1.0
    val members: Map[String, Seq[String]] = keysSorted.map(key =>
      key -> BoolQuery.keyTerms(key).filter(segsByTerm.contains)).toMap
    val present = keysSorted.filter(members(_).nonEmpty)
    val lists: Array[PosList] = present.map(key => mergeSlotLists(key,
      members(key).map(t => withoutDeletedPos(decodePosList(t, segsByTerm(t)), deleted))
        .toArray)).toArray
    val byKey: Map[String, Int] = present.zipWithIndex.toMap
    val idfOf: Array[Double] = present.map(idfByKey).toArray
    val n = lists.length
    if (n == 0 || required.exists(t => byKey.get(t).forall(lists(_).docs.isEmpty)))
      return Iterator.empty
    val candDocs: Array[Long] =
      if (required.nonEmpty) lists(required.map(byKey).minBy(i => lists(i).docs.length)).docs
      else {
        val posSet = BoolQuery.positiveTerms(tree)
        val arrays = present.zipWithIndex
          .collect { case (t, i) if posSet.contains(t) => lists(i).docs }
        if (arrays.isEmpty) return Iterator.empty
        // sorted-distinct union; bounded by the shard's docsPerShard
        val all = new Array[Long](arrays.map(_.length).sum)
        var o = 0
        arrays.foreach { a => System.arraycopy(a, 0, all, o, a.length); o += a.length }
        java.util.Arrays.sort(all)
        all.iterator.zipWithIndex
          .collect { case (d, i) if i == 0 || all(i - 1) != d => d }.toArray
      }
    // exact per-list ceilings: the max BM25 contribution any posting of the
    // list attains in THIS shard (uses the true per-doc dlens, so the
    // ceiling is tight — not a block bound, a list bound); computed once
    // the heap is full, as no bound prunes before
    lazy val ceiling: Array[Double] = Array.tabulate(n) { i =>
      val l = lists(i)
      var m = 0.0
      var j = 0
      while (j < l.docs.length) {
        m = math.max(m, termScore(idfOf(i), l.tfs(j), k1p1,
          lengthNorm(k1, b, lens.lens((l.docs(j) - lens.firstDocId).toInt), avgdl)))
        j += 1
      }
      m
    }
    val has = new Array[Boolean](n)
    // the tree bound with present leaves at their ceilings (all, for the
    // shard-constant exit), absent ones at 0; +∞ with pruning off
    def bound(all: Boolean): Double =
      if (!pruning) Double.PositiveInfinity
      else BoolQuery.upperBound(tree, t => byKey.get(t) match {
        case Some(j) if all || has(j) => ceiling(j)
        case _ => 0.0
      })
    lazy val constUb = bound(all = true)
    // with every positive key required, an admitted candidate's presence
    // bound is the shard's constant one, already tested
    val boundVaries = !BoolQuery.positiveTerms(tree).forall(required.contains)
    // per span leaf: its slots' lists and its exclude term's list index
    val spans: Map[BoolQ.Span, (Array[PosList], Int)] =
      BoolQuery.spanLeaves(tree).map { s =>
        s -> (s.keys.map(key => byKey.get(key).map(lists).orNull).toArray,
          s.exclude.flatMap(e => byKey.get(e._1)).getOrElse(-1))
      }.toMap
    val spanOk: BoolQ.Span => Boolean = { s =>
      val (sl, ex) = spans(s)
      spanMatches(s, sl, if (ex >= 0 && has(ex)) lists(ex) else null)
    }
    var norm = 0.0
    val keyScore: String => Double = { t =>
      val i = byKey(t)
      termScore(idfOf(i), lists(i).tfs(lists(i).pos), k1p1, norm)
    }
    val hasKey: String => Boolean = t => byKey.get(t).exists(has(_))
    val reqIdx = required.map(byKey).toArray
    val heap = mutable.PriorityQueue.empty[Hit](
      Ordering.by((h: Hit) => (-h.score, h.docId)))
    var scored = 0L
    var pruned = 0L
    // can no candidate bounded by `ub` beat the k-th heap score θ?
    def beaten(ub: => Double): Boolean = heap.size >= k && ub <= heap.head.score
    var done = false
    var ci = 0
    while (!done && ci < candDocs.length) {
      val cand = candDocs(ci)
      ci += 1
      if (beaten(constUb)) done = true // shard exhausted for this θ
      else {
        var i = 0
        while (i < n) {
          val l = lists(i)
          l.pos = gallop(l.docs, l.pos, cand)
          has(i) = l.pos < l.docs.length && l.docs(l.pos) == cand
          i += 1
        }
        if (reqIdx.forall(has(_))) {
          if (boundVaries && beaten(bound(all = false))) pruned += 1
          else {
            norm = lengthNorm(k1, b, lens.lens((cand - lens.firstDocId).toInt), avgdl)
            val score = BoolQuery.evalScore(tree, hasKey, keyScore, spanOk)
            if (!score.isNaN) {
              scored += 1
              if (heap.size < k) heap.enqueue(Hit(cand, score))
              else if (score > heap.head.score) { heap.dequeue(); heap.enqueue(Hit(cand, score)) }
            }
          }
        }
      }
    }
    if (accScored != null) accScored.add(scored)
    if (accPruned != null) accPruned.add(pruned)
    heap.iterator.toArray.iterator
  }
}
