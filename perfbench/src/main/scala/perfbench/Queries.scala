package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.oracle.OracleBm25
import graft.query.{BoolQuery, Searcher}

/** Runs query ops through the engine's public `search*` calls and checks
  * their output.
  */
object Queries {
  type Hits = Array[(Long, Double)]

  /** Runs `op`: the `search*` call under a `query.plan` span, `collect()`
    * under `query.exec`. `pos` is the positional index's searcher (phrase and
    * near modes). Returns the hits and the plan and exec times in ms.
    */
  def run(r: Run, s: Searcher, pos: Searcher, op: Op): (Hits, Double, Double) = {
    val t0 = r.nowMs
    val collect: () => Hits = r.span("query.plan") {
      op.mode match {
        case "collapse" =>
          val df = s.searchCollapse(op.query, op.k, op.arg)
          () => df.collect().map(row => (row.getLong(1), row.getDouble(2)))
        case m =>
          val ds = m match {
            case "or" => s.searchOr(op.query, op.k)
            case "bool" => s.searchBool(op.query, op.k)
            case "filtered" => s.searchWhere(op.query, op.k, col("lang") === op.arg)
            case "prefix" => s.searchPrefix(op.query, op.k)
            case "regex" => s.searchRegex(op.query, op.k)
            case "trange" => s.searchTermRange(Some(op.query), Some(op.arg), op.k)
            case "phrase" => pos.searchPhrase(op.query, op.k)
            case "near" => pos.searchNear(op.query, op.k, op.arg.toInt)
            case _ => s.search(op.query, op.k)
          }
          () => ds.collect().map(h => (h.docId, h.score))
      }
    }
    val t1 = r.nowMs
    val hits = r.span("query.exec")(collect())
    (hits, t1 - t0, r.nowMs - t1)
  }

  /** The checks every timed query gets. `source` is the engine docId of the
    * doc a selective op's rare term came from. Returns the violations.
    */
  def cheapCheck(op: Op, hits: Hits, numDocs: Long, deleted: Long => Boolean,
                 source: Option[Long]): Seq[String] = {
    val v = Seq.newBuilder[String]
    if (hits.length > op.k) v += s"${hits.length} hits > k=${op.k}"
    if (!hits.forall(h => java.lang.Double.isFinite(h._2))) v += "non-finite score"
    if (!hits.forall(h => h._1 >= 0 && h._1 < numDocs)) v += "docId outside the index"
    if (!hits.sliding(2).forall {
      case Array(a, b) => a._2 > b._2 || (a._2 == b._2 && a._1 < b._1)
      case _ => true
    }) v += "hits not ordered by (score desc, docId asc)"
    if (hits.exists(h => deleted(h._1))) v += "a tombstoned doc is among the hits"
    source.foreach { d =>
      if (op.mode == "no_hit" && hits.nonEmpty) v += "no-hit query returned hits"
      if (op.expectSource && !deleted(d) && !hits.exists(_._1 == d))
        v += s"source doc $d of the rare term is missing"
    }
    v.result().map(m => s"${op.cls}/${op.mode} '${op.query}': $m")
  }

  /** What [[OracleBm25]] ranks for `op`: rank identity and exact scores are
    * the contract. `withId` is the corpus joined to the engine's docIds;
    * scores use corpus-wide statistics over `withId`, and deleted docs are
    * dropped after scoring. Prefix, regex and term-range ops are checked as
    * OR over the engine's expansion.
    */
  def oracle(op: Op, withId: DataFrame, files: DataFrame, s: Searcher,
             deleted: Set[Long]): Hits = {
    val k = op.k + deleted.size
    def scalable(q: String, conj: Boolean = true, restrict: Option[DataFrame] = None) =
      OracleBm25.topKScalable(withId, q, k, conjunctive = conj, restrictTo = restrict)
    def or(terms: Seq[String]) =
      if (terms.isEmpty) None else Some(scalable(terms.mkString(" "), conj = false))
    def hits(df: DataFrame): Hits = df.collect().map(r => (r.getLong(0), r.getDouble(1)))
    val ranked: Hits = op.mode match {
      case "or" => hits(scalable(op.query, conj = false))
      case "prefix" => or(s.expandPrefix(op.query)).map(hits).getOrElse(Array.empty)
      case "regex" => or(s.expandRegex(op.query)).map(hits).getOrElse(Array.empty)
      case "trange" =>
        or(s.expandTermRange(Some(op.query), Some(op.arg))).map(hits).getOrElse(Array.empty)
      case "filtered" =>
        hits(scalable(op.query, restrict = Some(withId.filter(col("lang") === op.arg))))
      case "bool" => hits(OracleBm25.topKBool(files, BoolQuery.parse(op.query), k))
      case "phrase" => hits(OracleBm25.topKPhraseScalable(withId, op.query, k))
      case "near" => hits(OracleBm25.topKNear(files, op.query, op.arg.toInt, k))
      case "collapse" =>
        val all = OracleBm25.topKScalable(withId, op.query, Int.MaxValue)
          .join(withId.select("docId", op.arg), "docId")
          .collect().map(r => (r.getAs[String](op.arg), r.getAs[Long]("docId"),
            r.getAs[Double]("score")))
          .filterNot(h => deleted(h._2))
        val best = all.groupBy(_._1).values
          .map(_.minBy { case (_, d, sc) => (-sc, d) }).toSeq
        return best.sortBy { case (_, d, sc) => (-sc, d) }.take(op.k)
          .map { case (_, d, sc) => (d, sc) }.toArray
      case _ => hits(scalable(op.query))
    }
    ranked.filterNot(h => deleted(h._1)).take(op.k)
  }

  /** Compares an op's hits with the oracle's; returns the violation, if any. */
  def oracleCheck(op: Op, got: Hits, want: Hits): Option[String] =
    if (got.sameElements(want)) None
    else Some(s"${op.cls}/${op.mode} '${op.query}': engine ${got.take(3).mkString(",")}" +
      s" (${got.length}) != oracle ${want.take(3).mkString(",")} (${want.length})")
}
