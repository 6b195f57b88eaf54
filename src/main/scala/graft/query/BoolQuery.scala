package graft.query

import graft.index.Tokenize

/** Boolean query trees: arbitrary nesting of AND / OR / NOT over term
  * leaves — `(util_7 def) OR (util_3 -val)` — the expression form the
  * reference exposes only as flat set algebra (intersect / except /
  * union over whole parties, psi/proto/psi.proto ADVANCED_JOIN_TYPE_*);
  * here composed per-document over posting lists, the standard
  * search-engine BooleanQuery.
  *
  * Grammar (whitespace-separated; keywords are UPPERCASE so lowercase
  * `or`/`and`/`not` stay ordinary terms):
  * {{{
  *   expr    := andExpr ( 'OR' andExpr )*
  *   andExpr := unary ( 'AND'? unary )*      // juxtaposition = AND
  *   unary   := '-' unary | 'NOT' unary | atom
  *   atom    := ( '(' expr ')' | WORD ) boost?   // WORD normalizes via Tokenize
  *   boost   := '^' NUMBER                   // `util_7^2`, `(a b)^0.3`
  * }}}
  * A WORD that normalizes to several tokens (`Foo.bar` → `foo`, `bar`)
  * becomes their AND, matching how the flat query modes tokenize.
  *
  * Scoring semantics (Lucene BooleanQuery shape): a document matches the
  * tree under the obvious AND/OR/NOT logic; its score is the sum of the
  * scores of the MATCHED sub-clauses, recursively — a term leaf scores its
  * BM25 contribution, an OR sums only the children that matched, a NOT
  * contributes 0.0 (negative clauses filter, they never score), and the
  * summation order is the depth-first left-to-right tree order (so engine
  * and oracle produce bit-identical Doubles given identical inputs).
  *
  * Pure-negative / match-all trees (`-a`, `a OR -b`) are rejected up
  * front: a tree that matches a document containing NONE of its terms can
  * only be answered by a full corpus scan, not by posting lists
  * ([[BoolQuery.matchesEmptyDoc]] — the same reason Lucene rejects
  * pure-negative BooleanQueries).
  */
sealed trait BoolQ extends Serializable

object BoolQ {
  final case class Term(t: String) extends BoolQ
  final case class And(xs: Vector[BoolQ]) extends BoolQ
  final case class Or(xs: Vector[BoolQ]) extends BoolQ
  final case class Not(x: BoolQ) extends BoolQ

  /** Query-time boost (Lucene `term^2.5` / `(a b)^0.3`): the wrapped
    * subtree's matched score is multiplied by `f` (one IEEE multiply —
    * bit-exact for the oracle to mirror); match logic is unchanged.
    * Nested boosts compose multiplicatively by recursion.
    */
  final case class Boost(x: BoolQ, f: Double) extends BoolQ

  /** Disjunction-max (Lucene DisjunctionMaxQuery): matches when ANY child
    * matches; the score is `max + tie·(sum − max)` over the MATCHED
    * children's scores, where `sum` is the left-to-right fold in child
    * order and `max` the running maximum — exactly Lucene's
    * DisjunctionMaxScorer accounting, so `tie = 0` is pure best-clause
    * (the classic multi-field use case: don't double-count a term that
    * hits several fields/variants) and `tie = 1` degenerates to this
    * engine's OR (disjunction-sum). Surface syntax:
    * `DISMAX tie? ( clause clause … )` — whitespace inside the DISMAX
    * parens separates CLAUSES (each a unary atom, parenthesize compound
    * ones), unlike ordinary parens where juxtaposition means AND.
    */
  final case class DisMax(xs: Vector[BoolQ], tie: Double) extends BoolQ {
    require(xs.nonEmpty, "DISMAX needs at least one clause")
    require(tie >= 0.0 && tie <= 1.0 && !tie.isNaN,
      s"DISMAX tie must be in [0,1], got $tie")
  }

  /** Positional span leaf (Lucene SpanNearQuery over SpanOr slots): every
    * slot holds its sorted alternative terms, and a document matches when
    * some occurrence takes one alternative per slot within `window`
    * consecutive positions — in slot order when `ordered` (a greedy chain),
    * in any order otherwise (a min cover). A quoted phrase is the ordered
    * span of singleton slots with `window = #slots` ([[Phrase]]), near
    * queries are spans of their terms, multi-phrase and phrase-prefix
    * queries carry several alternatives in a slot.
    *
    * Phrase-shaped spans may also bound the occurrence: it must end within
    * the first `end` positions (Lucene SpanFirstQuery; 0-based positions,
    * end exclusive), and with `exclude = (t, pre, post)` no `t` may occur
    * in `[start − pre, end − 1 + post]` (Lucene SpanNotQuery). The exclude
    * term filters only: it is never required, positive or scored.
    *
    * A slot is keyed by its member, or `a|b` when it has several (the
    * synonym contract: tf summed over the members, idf from their max df).
    * A matched span scores the sum of its DISTINCT slot keys' BM25 in
    * ascending key order, so a one-leaf tree is bit-identical to the flat
    * phrase / near / multi-phrase query. Presence-only algebra treats a
    * slot as the OR of its members and the span as the AND of its slots,
    * which is sound (position checks only shrink the match set). Spans need
    * positions, so span-bearing trees run through
    * [[graft.query.Searcher.scoreShardBoolPos]].
    */
  final case class Span(slots: Vector[Vector[String]], window: Int, ordered: Boolean,
                        end: Int = Int.MaxValue,
                        exclude: Option[(String, Int, Int)] = None) extends BoolQ {
    require(slots.nonEmpty && slots.forall(s => s.nonEmpty && s == s.distinct.sorted),
      s"span slots must be non-empty sorted distinct alternatives, got $slots")
    require(window >= slots.length, s"span window $window is below its ${slots.length} slots")
    /** The slots' keys, in slot order. */
    val keys: Vector[String] = slots.map(_.mkString("|"))
    /** The distinct keys in ascending order: the span's score-sum order. */
    val distinctKeys: Vector[String] = keys.distinct.sorted
    require(ordered || keys.distinct.length == keys.length,
      s"an unordered span needs distinct slots, got $slots")
    require((end == Int.MaxValue && exclude.isEmpty) || (ordered && window == slots.length),
      s"span-first and span-not bounds need a phrase-shaped span, got $this")
  }

  /** Exact-phrase leaf (`"a b"` in quotes — the Lucene classic-parser
    * phrase-inside-BooleanQuery composition): the ordered [[Span]] of
    * singleton slots whose window is the token count, so the tokens occur
    * CONSECUTIVELY.
    */
  object Phrase {
    def apply(ts: Vector[String]): Span = {
      require(ts.length >= 2, s"phrase needs at least 2 tokens, got $ts")
      Span(ts.map(Vector(_)), ts.length, ordered = true)
    }

    /** The tokens of a plain phrase span: no span-first or span-not bound. */
    def unapply(s: Span): Option[Vector[String]] =
      if (s.ordered && s.window == s.slots.length && s.slots.forall(_.length == 1) &&
          s.end == Int.MaxValue && s.exclude.isEmpty) Some(s.slots.map(_.head))
      else None
  }

  /** Minimum-should-match (Lucene
    * `BooleanQuery.Builder.setMinimumNumberShouldMatch`): matches when at
    * least `m` of the clauses match; the score is the SUM of the MATCHED
    * clauses in child order — this engine's disjunction-sum, so `m = 1` is
    * exactly OR and `m = xs.length` is exactly AND (which also sums all its
    * children). Surface syntax: `MSM m ( clause clause … )` — like DISMAX,
    * whitespace inside the parens separates CLAUSES (each a unary atom;
    * parenthesize compounds).
    */
  final case class Msm(xs: Vector[BoolQ], m: Int) extends BoolQ {
    require(xs.nonEmpty, "MSM needs at least one clause")
    require(m >= 1 && m <= xs.length,
      s"MSM m must be in 1..${xs.length} (clause count), got $m")
  }

  /** Constant score (Lucene ConstantScoreQuery): matches iff the wrapped
    * tree matches, and scores exactly `v` — the subtree's own scores are
    * discarded, so `CONST 0 (lang-filter-terms)` is the classic
    * filter-clause idiom (mandatory match, zero score contribution) and
    * `CONST 1 (…)` the classic constant-score wrapper. `v` must be finite
    * and ≥ 0 (keeps every ancestor's admissible bound valid). Surface
    * syntax: `CONST v ( expr )` — ordinary parens, juxtaposition = AND.
    */
  final case class Const(x: BoolQ, v: Double) extends BoolQ {
    require(v >= 0.0 && java.lang.Double.isFinite(v),
      s"CONST score must be a finite number >= 0, got $v")
  }

  /** UNREWRITTEN wildcard leaf (`util_1*` / `ut?l_7` — Lucene
    * WildcardQuery/PrefixQuery as a BooleanClause). Multi-term leaves are
    * dictionary-expanded into an OR of [[Term]]s (Lucene's
    * SCORING_BOOLEAN_QUERY_REWRITE, expansion order = df desc, term asc,
    * capped — the flat [[graft.query.Searcher.searchWildcard]] rule) by
    * [[BoolQuery.rewriteMultiTerm]] before ANY evaluation; every algebra
    * function below rejects an unexpanded leaf loudly.
    */
  final case class Wild(pattern: String) extends BoolQ {
    require(pattern.exists(c => c == '*' || c == '?'),
      s"wildcard leaf needs a '*' or '?', got '$pattern'")
    require(pattern.forall(c => c == '*' || c == '?' ||
      (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9') || c == '_'),
      s"wildcard pattern may only contain [a-z0-9_*?], got '$pattern'")
  }

  /** UNREWRITTEN fuzzy leaf (`util_7~1`, bare `~` = 2 edits — Lucene
    * FuzzyQuery as a BooleanClause); rewritten like [[Wild]] with the flat
    * [[graft.query.Searcher.searchFuzzy]] expansion rule (distance asc,
    * df desc, term asc, capped).
    */
  final case class Fuzzy(t: String, maxEdits: Int) extends BoolQ {
    require(maxEdits >= 0 && maxEdits <= 2,
      s"fuzzy maxEdits must be 0..2 (Lucene's bound), got ~$maxEdits")
  }
}

object BoolQuery {
  import BoolQ._

  // ------------------------------------------------------------- parsing

  private sealed trait Tok
  private case object LParen extends Tok
  private case object RParen extends Tok
  private case object Minus extends Tok
  private case object KwOr extends Tok
  private case object KwAnd extends Tok
  private case object KwNot extends Tok
  private case object KwDismax extends Tok
  private case object KwMsm extends Tok
  private case object KwConst extends Tok
  private final case class Word(w: String) extends Tok
  private final case class Caret(f: Double) extends Tok
  private final case class Quoted(s: String) extends Tok

  private def lex(s: String): Vector[Tok] = {
    val out = Vector.newBuilder[Tok]
    var i = 0
    val n = s.length
    while (i < n) {
      val c = s.charAt(i)
      if (c.isWhitespace) i += 1
      else if (c == '(') { out += LParen; i += 1 }
      else if (c == ')') { out += RParen; i += 1 }
      else if (c == '-') { out += Minus; i += 1 }
      else if (c == '"') {
        // quoted phrase: everything to the closing quote is one atom
        val close = s.indexOf('"', i + 1)
        require(close >= 0, s"unterminated quote in boolean query: '$s'")
        out += Quoted(s.substring(i + 1, close))
        i = close + 1
      }
      else if (c == '^') {
        // query-time boost: `^<positive number>` binds to the atom it
        // follows (`util_7^2`, `(a b)^0.3`)
        i += 1
        val start = i
        while (i < n && (s.charAt(i).isDigit || s.charAt(i) == '.')) i += 1
        val f = try s.substring(start, i).toDouble catch {
          case _: NumberFormatException => throw new IllegalArgumentException(
            s"boost '^${s.substring(start, i)}' is not a number in '$s'")
        }
        require(f > 0.0 && java.lang.Double.isFinite(f),
          s"boost must be a finite positive number, got ^$f in '$s'")
        out += Caret(f)
      }
      else {
        val start = i
        while (i < n && !s.charAt(i).isWhitespace && s.charAt(i) != '^' &&
               s.charAt(i) != '(' && s.charAt(i) != ')' &&
               s.charAt(i) != '"') i += 1
        s.substring(start, i) match {
          case "OR" => out += KwOr
          case "AND" => out += KwAnd
          case "NOT" => out += KwNot
          case "DISMAX" => out += KwDismax
          case "MSM" => out += KwMsm
          case "CONST" => out += KwConst
          case w => out += Word(w)
        }
      }
    }
    out.result()
  }

  /** Parse a boolean query; throws IllegalArgumentException on syntax
    * errors (unbalanced parens, dangling operators, empty groups).
    */
  def parse(query: String): BoolQ = {
    val toks = lex(query)
    require(toks.nonEmpty, s"empty boolean query: '$query'")
    var pos = 0
    def peek: Option[Tok] = if (pos < toks.length) Some(toks(pos)) else None
    def next(): Tok = {
      if (pos >= toks.length) throw new IllegalArgumentException(
        s"unexpected end of boolean query: '$query'")
      val t = toks(pos); pos += 1; t
    }

    def expr(): BoolQ = {
      val first = andExpr()
      val alts = Vector.newBuilder[BoolQ]
      alts += first
      var more = true
      while (more) peek match {
        case Some(KwOr) => next(); alts += andExpr()
        case _ => more = false
      }
      val xs = alts.result()
      if (xs.length == 1) xs.head else Or(flatten(xs, isOr = true))
    }
    def andExpr(): BoolQ = {
      val parts = Vector.newBuilder[BoolQ]
      parts += unary()
      var more = true
      while (more) peek match {
        case Some(KwAnd) => next(); parts += unary()
        case Some(LParen) | Some(Minus) | Some(KwNot) | Some(KwDismax) |
             Some(KwMsm) | Some(KwConst) |
             Some(Word(_)) | Some(Quoted(_)) =>
          parts += unary()
        case _ => more = false
      }
      val xs = parts.result()
      if (xs.length == 1) xs.head else And(flatten(xs, isOr = false))
    }
    def unary(): BoolQ = peek match {
      case Some(Minus) | Some(KwNot) =>
        next()
        Not(unary()) match { case Not(Not(x)) => x; case q => q } // ¬¬x = x
      case _ => atom()
    }
    def atom(): BoolQ = {
      val base = next() match {
        case LParen =>
          val e = expr()
          peek match {
            case Some(RParen) => next(); e
            case _ => throw new IllegalArgumentException(
              s"unbalanced '(' in boolean query: '$query'")
          }
        case Word(w) =>
          val lw = w.toLowerCase
          if (lw.exists(c => c == '*' || c == '?'))
            Wild(lw) // constructor validates the charset
          else if (w.contains('~')) {
            // fuzzy leaf `base~E` (bare `~` = 2, the Lucene default)
            val at = w.lastIndexOf('~')
            val (base, suf) = (w.substring(0, at), w.substring(at + 1))
            require(suf.forall(_.isDigit),
              s"fuzzy edits '~$suf' is not an integer in '$query'")
            val ts = Tokenize.tokenize(base)
            require(ts.length == 1,
              s"fuzzy base '$base' must normalize to one token in '$query'")
            Fuzzy(ts.head, if (suf.isEmpty) 2 else suf.toInt)
          } else {
            val ts = Tokenize.tokenize(w)
            require(ts.nonEmpty, s"word '$w' normalizes to no token in '$query'")
            if (ts.length == 1) Term(ts.head)
            else And(ts.map(Term(_)).toVector)
          }
        case Quoted(s) =>
          // `"a b"` = exact-phrase leaf; a one-token quote is a plain term
          val ts = Tokenize.tokenize(s)
          require(ts.nonEmpty,
            s"quoted phrase '$s' normalizes to no token in '$query'")
          if (ts.length == 1) Term(ts.head) else Phrase(ts.toVector)
        case KwDismax =>
          // DISMAX tie? ( clause clause … ): the optional tie is a bare
          // number word; inside the parens each unary atom is ONE clause
          // (parenthesize compounds: `DISMAX 0.3 (util_7 (def val))` is a
          // 2-clause dismax of a term and an AND pair)
          val tie = peek match {
            case Some(Word(w)) if w.nonEmpty &&
                w.forall(c => c.isDigit || c == '.') =>
              next()
              try w.toDouble catch {
                case _: NumberFormatException =>
                  throw new IllegalArgumentException(
                    s"DISMAX tie '$w' is not a number in '$query'")
              }
            case _ => 0.0
          }
          next() match {
            case LParen => ()
            case t => throw new IllegalArgumentException(
              s"expected '(' after DISMAX, got '$t' in '$query'")
          }
          val kids = Vector.newBuilder[BoolQ]
          var open = true
          while (open) peek match {
            case Some(RParen) => next(); open = false
            case Some(_) => kids += unary()
            case None => throw new IllegalArgumentException(
              s"unbalanced '(' after DISMAX in '$query'")
          }
          val xs = kids.result()
          require(xs.nonEmpty, s"empty DISMAX group in '$query'")
          DisMax(xs, tie)
        case KwMsm =>
          // MSM m ( clause clause … ): m is a required bare integer;
          // clause separation as in DISMAX (each unary atom is ONE clause)
          val m = next() match {
            case Word(w) if w.nonEmpty && w.forall(_.isDigit) => w.toInt
            case t => throw new IllegalArgumentException(
              s"expected an integer after MSM, got '$t' in '$query'")
          }
          next() match {
            case LParen => ()
            case t => throw new IllegalArgumentException(
              s"expected '(' after MSM $m, got '$t' in '$query'")
          }
          val kids = Vector.newBuilder[BoolQ]
          var open = true
          while (open) peek match {
            case Some(RParen) => next(); open = false
            case Some(_) => kids += unary()
            case None => throw new IllegalArgumentException(
              s"unbalanced '(' after MSM in '$query'")
          }
          val xs = kids.result()
          require(xs.nonEmpty, s"empty MSM group in '$query'")
          Msm(xs, m) // constructor validates 1 <= m <= xs.length
        case KwConst =>
          // CONST v ( expr ): v is a required bare number; the parens wrap
          // ONE ordinary expression (juxtaposition = AND, as everywhere)
          val v = next() match {
            case Word(w) if w.nonEmpty &&
                w.forall(c => c.isDigit || c == '.') =>
              try w.toDouble catch {
                case _: NumberFormatException =>
                  throw new IllegalArgumentException(
                    s"CONST score '$w' is not a number in '$query'")
              }
            case t => throw new IllegalArgumentException(
              s"expected a number after CONST, got '$t' in '$query'")
          }
          next() match {
            case LParen => ()
            case t => throw new IllegalArgumentException(
              s"expected '(' after CONST $v, got '$t' in '$query'")
          }
          val e = expr()
          peek match {
            case Some(RParen) => next()
            case _ => throw new IllegalArgumentException(
              s"unbalanced '(' after CONST in '$query'")
          }
          Const(e, v)
        case t => throw new IllegalArgumentException(
          s"unexpected '$t' in boolean query: '$query'")
      }
      peek match { // `atom^f` — boost binds tighter than NOT/AND/OR
        case Some(Caret(f)) => next(); Boost(base, f)
        case _ => base
      }
    }

    val root = expr()
    require(pos == toks.length,
      s"trailing input after position $pos in boolean query: '$query'")
    root
  }

  private def flatten(xs: Vector[BoolQ], isOr: Boolean): Vector[BoolQ] =
    xs.flatMap {
      case Or(ys) if isOr => ys
      case And(ys) if !isOr => ys
      case q => Vector(q)
    }

  // ------------------------------------------- multi-term leaf rewriting

  private sealed trait Rw
  private case object RwNone extends Rw // subtree matches no document
  private case object RwAll extends Rw // subtree matches every doc, score 0
  private final case class RwNode(q: BoolQ) extends Rw

  /** Lucene SCORING_BOOLEAN_QUERY_REWRITE of multi-term leaves: each
    * [[BoolQ.Wild]]/[[BoolQ.Fuzzy]] leaf becomes the OR of its dictionary
    * expansion's Terms IN EXPANSION ORDER (df desc, term asc — fuzzy:
    * distance first; the deterministic order the oracles mirror), then the
    * tree simplifies under match-none/match-all propagation, exactly
    * Lucene's MatchNoDocsQuery handling: an empty expansion under AND kills
    * the AND, under OR/DISMAX it drops out, under MSM it drops while `m`
    * stays (it can never contribute a matched clause), under NOT it turns
    * into match-ALL. A match-all subtree is droppable under AND (and
    * decrements MSM's m), but anywhere it would DEFINE the match set —
    * root, OR/DISMAX child, CONST body, MSM with m exhausted — the tree
    * has become pure-negative/match-all and is rejected, the same
    * posting-lists-can't-answer-it rule as [[matchesEmptyDoc]].
    *
    * Returns None when the whole tree simplifies to match-none. The result
    * carries no Wild/Fuzzy leaves and no structural invariant violations
    * (empty And/Or are simplified away; Msm bounds re-validated).
    */
  def rewriteMultiTerm(q: BoolQ, expandWild: String => Seq[String],
                       expandFuzzy: (String, Int) => Seq[String]): Option[BoolQ] = {
    def matchAll(ctx: String): Nothing = throw new IllegalArgumentException(
      s"boolean query simplifies to match-all at $ctx (a multi-term leaf " +
        "with an empty expansion under NOT) — unanswerable from posting lists")
    def leafOr(ts: Seq[String]): Rw =
      if (ts.isEmpty) RwNone
      else if (ts.length == 1) RwNode(Term(ts.head))
      else RwNode(Or(ts.map(Term(_)).toVector))
    def walk(q: BoolQ): Rw = q match {
      case Wild(p) => leafOr(expandWild(p))
      case Fuzzy(t, e) => leafOr(expandFuzzy(t, e))
      case t: Term => RwNode(t)
      case s: Span => RwNode(s)
      case And(xs) =>
        val ks = xs.map(walk)
        if (ks.contains(RwNone)) RwNone
        else ks.collect { case RwNode(n) => n } match {
          case Vector() => RwAll // every child matches everything
          case Vector(one) => RwNode(one)
          case ms => RwNode(And(ms))
        }
      case Or(xs) =>
        val ks = xs.map(walk)
        if (ks.contains(RwAll)) matchAll("an OR clause")
        else ks.collect { case RwNode(n) => n } match {
          case Vector() => RwNone
          case Vector(one) => RwNode(one)
          case ms => RwNode(Or(ms))
        }
      case Not(x) => walk(x) match {
        case RwNone => RwAll
        case RwAll => RwNone
        case RwNode(n) => RwNode(Not(n))
      }
      case Boost(x, f) => walk(x) match {
        // match-none/-all: set unchanged, and either way the score is 0
        case RwNode(n) => RwNode(Boost(n, f))
        case e => e
      }
      case DisMax(xs, tie) =>
        val ks = xs.map(walk)
        if (ks.contains(RwAll)) matchAll("a DISMAX clause")
        else ks.collect { case RwNode(n) => n } match {
          case Vector() => RwNone
          case Vector(one) => RwNode(one) // 1-clause dismax ≡ the clause
          case ms => RwNode(DisMax(ms, tie))
        }
      case Msm(xs, m) =>
        val ks = xs.map(walk)
        // an always-matching clause counts toward m on every document; an
        // impossible clause never does — drop both, adjust m for the former
        val m2 = m - ks.count(_ == RwAll)
        val rest = ks.collect { case RwNode(n) => n }
        if (m2 <= 0) {
          // the m bar is met by the dropped match-all clauses alone: the
          // node matches everything, scoring only its surviving children —
          // answerable only when nothing survives to score... which is
          // still a match-all tree. Reject either way.
          matchAll("an MSM group (m met by match-all clauses)")
        }
        else if (rest.length < m2) RwNone
        else if (m2 == 1 && rest.length == 1) RwNode(rest.head)
        else RwNode(Msm(rest, m2))
      case Const(x, v) => walk(x) match {
        case RwNone => RwNone
        case RwAll => matchAll("a CONST body")
        case RwNode(n) => RwNode(Const(n, v))
      }
    }
    walk(q) match {
      case RwNone => None
      case RwAll => matchAll("the root")
      case RwNode(n) => Some(n)
    }
  }

  // ---------------------------------------------------------- tree algebra

  /** Unexpanded multi-term leaves may never reach evaluation — they carry
    * no posting lists. [[rewriteMultiTerm]] eliminates them up front.
    */
  private def unexpanded(q: BoolQ): Nothing = throw new IllegalStateException(
    s"unexpanded multi-term leaf $q — rewriteMultiTerm must run first")

  /** Distinct leaf keys in ascending order (both polarities — all are
    * needed for presence tests): each term leaf, each span slot's key and
    * each span's exclude term. The positional kernel holds one list per
    * key.
    */
  def leafKeys(q: BoolQ): Seq[String] = {
    def walk(q: BoolQ): Iterator[String] = q match {
      case Term(t) => Iterator.single(t)
      case And(xs) => xs.iterator.flatMap(walk)
      case Or(xs) => xs.iterator.flatMap(walk)
      case Not(x) => walk(x)
      case Boost(x, _) => walk(x)
      case DisMax(xs, _) => xs.iterator.flatMap(walk)
      case Msm(xs, _) => xs.iterator.flatMap(walk)
      case Const(x, _) => walk(x)
      case s: Span => s.keys.iterator ++ s.exclude.map(_._1)
      case q @ (Wild(_) | Fuzzy(_, _)) => unexpanded(q)
    }
    walk(q).toVector.distinct.sorted
  }

  /** The member terms of a leaf key: `a|b` → `a`, `b`. */
  def keyTerms(key: String): Seq[String] = key.split('|').toSeq

  /** Distinct leaf terms in ascending order: the members of [[leafKeys]]. */
  def leafTerms(q: BoolQ): Seq[String] = leafKeys(q).flatMap(keyTerms).distinct.sorted

  /** All span leaves of the tree (depth-first, distinct). */
  def spanLeaves(q: BoolQ): Vector[Span] = {
    def walk(q: BoolQ): Iterator[Span] = q match {
      case s: Span => Iterator.single(s)
      case Term(_) => Iterator.empty
      case And(xs) => xs.iterator.flatMap(walk)
      case Or(xs) => xs.iterator.flatMap(walk)
      case Not(x) => walk(x)
      case Boost(x, _) => walk(x)
      case DisMax(xs, _) => xs.iterator.flatMap(walk)
      case Msm(xs, _) => xs.iterator.flatMap(walk)
      case Const(x, _) => walk(x)
      case q @ (Wild(_) | Fuzzy(_, _)) => unexpanded(q)
    }
    walk(q).toVector.distinct
  }

  /** Does the tree match a document containing NONE of its terms? Such a
    * tree (pure-negative / match-all) cannot be answered from posting
    * lists and is rejected by [[Searcher.searchBool]].
    */
  def matchesEmptyDoc(q: BoolQ): Boolean =
    matches(q, _ => false, _ => false) // a span can't match an empty doc

  /** Exact boolean match given per-key presence AND per-span matches. */
  def matches(q: BoolQ, has: String => Boolean,
              spanOk: Span => Boolean): Boolean = q match {
    case Term(t) => has(t)
    case And(xs) => xs.forall(matches(_, has, spanOk))
    case Or(xs) => xs.exists(matches(_, has, spanOk))
    case Not(x) => !matches(x, has, spanOk)
    case Boost(x, _) => matches(x, has, spanOk)
    case DisMax(xs, _) => xs.exists(matches(_, has, spanOk))
    case Msm(xs, m) => xs.count(matches(_, has, spanOk)) >= m
    case Const(x, _) => matches(x, has, spanOk)
    case s: Span => spanOk(s)
    case q @ (Wild(_) | Fuzzy(_, _)) => unexpanded(q)
  }

  /** OPTIMISTIC satisfiability: can the tree possibly match when term `t`
    * may be present only where `mayHave(t)` holds? `Not` is always
    * optimistically satisfiable (absence is always possible). Used for
    * driver-side early exit (mayHave = df > 0) and per-shard pruning
    * (mayHave = term has postings in the shard) — both sound (never prunes
    * a shard that could hold a match), both exact for pure-AND trees.
    */
  def satisfiable(q: BoolQ, mayHave: String => Boolean): Boolean = q match {
    case Term(t) => mayHave(t)
    case And(xs) => xs.forall(satisfiable(_, mayHave))
    case Or(xs) => xs.exists(satisfiable(_, mayHave))
    case Not(_) => true
    case Boost(x, _) => satisfiable(x, mayHave)
    case DisMax(xs, _) => xs.exists(satisfiable(_, mayHave))
    // optimistic: each satisfiable child MAY match, so ≥ m of them may
    // (children are evaluated on the same document — still optimistic,
    // never pessimistic, which is all soundness needs)
    case Msm(xs, m) => xs.count(satisfiable(_, mayHave)) >= m
    case Const(x, _) => satisfiable(x, mayHave)
    // a member of every slot is NECESSARY for an occurrence — sound, and
    // exact at the presence level (positions only shrink further)
    case s: Span => s.slots.forall(_.exists(mayHave))
    case q @ (Wild(_) | Fuzzy(_, _)) => unexpanded(q)
  }

  /** Keys REQUIRED in every matching document: the positive direct Term
    * and span children of a root AND (and of nested ANDs reached only
    * through ANDs) — a span requires each slot's key. The rarest of these
    * leads the per-shard traversal — same smallest-list-leads discipline
    * as the conjunctive kernel.
    */
  def requiredTerms(q: BoolQ): Seq[String] = q match {
    case Term(t) => Seq(t)
    case And(xs) => xs.flatMap(requiredTerms).distinct
    case Boost(x, _) => requiredTerms(x)
    case s: Span => s.distinctKeys // every slot must be present to match
    // m = all clauses ⇒ behaves as AND; any smaller m requires nothing
    case Msm(xs, m) if m == xs.length => xs.flatMap(requiredTerms).distinct
    case Const(x, _) => requiredTerms(x) // match logic delegates unchanged
    case q @ (Wild(_) | Fuzzy(_, _)) => unexpanded(q)
    case _ => Seq.empty
  }

  /** Leaf keys with at least one POSITIVE-polarity occurrence (an even
    * number of `Not` ancestors; a span's exclude term never is one). Every
    * matching document contains at least one of these: `matches` is
    * antitone in the presence of odd-polarity-only terms, so a document
    * whose present tree-terms are all
    * negative-only matches no better than the empty document — and
    * match-all trees are rejected up front. Candidate generation therefore
    * only needs the positive lists (negative lists are consulted for the
    * veto test at evaluation time).
    */
  def positiveTerms(q: BoolQ): Set[String] = {
    def walk(q: BoolQ, neg: Boolean): Iterator[String] = q match {
      case Term(t) => if (neg) Iterator.empty else Iterator.single(t)
      case And(xs) => xs.iterator.flatMap(walk(_, neg))
      case Or(xs) => xs.iterator.flatMap(walk(_, neg))
      case Not(x) => walk(x, !neg)
      case Boost(x, _) => walk(x, neg)
      case DisMax(xs, _) => xs.iterator.flatMap(walk(_, neg))
      // Msm's match count is monotone in its children, so the antitone
      // argument above extends through it unchanged
      case Msm(xs, _) => xs.iterator.flatMap(walk(_, neg))
      case Const(x, _) => walk(x, neg)
      case s: Span => if (neg) Iterator.empty else s.keys.iterator
      case q @ (Wild(_) | Fuzzy(_, _)) => unexpanded(q)
    }
    walk(q, neg = false).toSet
  }

  /** ADMISSIBLE upper bound of [[evalScore]] given a per-leaf score ceiling:
    * AND and OR both SUM their children's bounds (this engine's OR sums all
    * matched children — Lucene disjunction-sum — so max would be wrong),
    * NOT bounds at 0 (negative clauses never score), Boost multiplies.
    * Sound for every presence configuration consistent with `leafUb`
    * (leafUb(t) must be ≥ the BM25 contribution of t wherever t is present,
    * and ≥ 0 — block maxima satisfy both), by induction: a matched Term
    * scores ≤ leafUb; a matched And sums matched children, each ≤ its
    * bound; a matched Or sums a SUBSET of children, each ≤ its bound and
    * every bound ≥ 0; an unmatched child contributes nothing. Used for the
    * WAND-style pivot, the per-candidate block-max recheck, and the
    * shard-constant early exit in [[Searcher.scoreShardBool]].
    */
  def upperBound(q: BoolQ, leafUb: String => Double): Double = q match {
    case Term(t) => leafUb(t)
    case And(xs) =>
      var s = 0.0; var i = 0
      while (i < xs.length) { s += upperBound(xs(i), leafUb); i += 1 }
      s
    case Or(xs) =>
      var s = 0.0; var i = 0
      while (i < xs.length) { s += upperBound(xs(i), leafUb); i += 1 }
      s
    case Not(_) => 0.0
    case Boost(x, f) => upperBound(x, leafUb) * f
    case DisMax(xs, tie) =>
      // actual = (1−tie)·max_matched + tie·sum_matched (the Lucene formula
      // rewritten); max_matched ≤ maxU and sum_matched ≤ sumU (children's
      // bounds are ≥ 0 and unmatched children contribute nothing), both
      // mixing coefficients are ≥ 0 — so this mix is admissible. The
      // tie-endpoint special cases avoid 0·∞ = NaN when pruning is off
      // (every leaf bound +∞).
      var maxU = 0.0; var sumU = 0.0; var i = 0
      while (i < xs.length) {
        val u = upperBound(xs(i), leafUb)
        if (u > maxU) maxU = u
        sumU += u
        i += 1
      }
      if (tie == 0.0) maxU
      else if (tie == 1.0) sumU
      else (1.0 - tie) * maxU + tie * sumU
    case sp: Span =>
      // span score = sum of distinct slot-key scores ≤ sum of their bounds
      var s = 0.0
      sp.distinctKeys.foreach(key => s += leafUb(key))
      s
    case Msm(xs, _) =>
      // actual = sum over a MATCHED SUBSET of children; every child bound
      // is ≥ 0, so the total sum is an admissible ceiling (same as OR)
      var s = 0.0; var i = 0
      while (i < xs.length) { s += upperBound(xs(i), leafUb); i += 1 }
      s
    // a matched Const scores exactly v (and v ≥ 0 by construction) — the
    // subtree's own bounds are irrelevant
    case Const(_, v) => v
    case q @ (Wild(_) | Fuzzy(_, _)) => unexpanded(q)
  }

  /** Affine decomposition of [[upperBound]]: for a DISMAX-FREE tree the
    * bound is LINEAR in the per-leaf ceilings —
    * `upperBound(q, ub) = Σ_t w(t)·ub(t) + c` for every ub — because every
    * remaining node is a sum (And/Or/Msm), a scale (Boost), a constant
    * (Const → v, Not → 0), or a leaf (Term / span slot keys each weight 1;
    * a term reached through several leaves/paths accumulates its weights).
    * Returns None when the tree holds a DisMax (its max is not affine) —
    * callers keep the generic tree walk there. The per-shard kernels use
    * this to turn the per-candidate WAND bound computations into scalar
    * loops: same Doubles, no tree re-walk (term weights sum in ascending
    * key order, matching the tree walk's left-to-right addition up to the
    * commutations the walk itself performs across equal-keyed subtrees —
    * verified structurally in BoolQuerySpec against [[upperBound]]).
    */
  def boundWeights(q: BoolQ): Option[(Map[String, Double], Double)] = {
    def merge(xs: Seq[(Map[String, Double], Double)]): (Map[String, Double], Double) =
      xs.foldLeft(Map.empty[String, Double] -> 0.0) { case ((m, c), (m2, c2)) =>
        (m2.foldLeft(m) { case (acc, (t, w)) =>
          acc.updated(t, acc.getOrElse(t, 0.0) + w) }, c + c2)
      }
    def walk(q: BoolQ): Option[(Map[String, Double], Double)] = q match {
      case Term(t) => Some(Map(t -> 1.0) -> 0.0)
      case s: Span => Some(s.distinctKeys.map(_ -> 1.0).toMap -> 0.0)
      case And(xs) => traverse(xs).map(merge)
      case Or(xs) => traverse(xs).map(merge)
      case Msm(xs, _) => traverse(xs).map(merge)
      case Not(_) => Some(Map.empty[String, Double] -> 0.0)
      case Const(_, v) => Some(Map.empty[String, Double] -> v)
      case Boost(x, f) => walk(x).map { case (m, c) =>
        m.map { case (t, w) => t -> w * f } -> c * f }
      case DisMax(_, _) => None
      case q @ (Wild(_) | Fuzzy(_, _)) => unexpanded(q)
    }
    def traverse(xs: Vector[BoolQ]): Option[Vector[(Map[String, Double], Double)]] =
      xs.foldLeft(Option(Vector.empty[(Map[String, Double], Double)])) {
        (acc, x) => acc.flatMap(v => walk(x).map(v :+ _))
      }
    walk(q)
  }

  /** Cap on the affine-form set of [[boundWeightsMax]] — beyond it the
    * generic tree walk is cheaper than the scalar max anyway.
    */
  val MaxBoundForms: Int = 16

  /** r6 (VERDICT #3): [[boundWeights]] generalized to DISMAX-BEARING trees.
    * [[upperBound]] of a tree with DisMax nodes is a MAX of affine forms of
    * the leaf ceilings: a DisMax bound `(1−tie)·maxᵢUᵢ + tie·ΣⱼUⱼ` is
    * `maxᵢ[(1−tie)·Uᵢ + tie·ΣⱼUⱼ]` — one affine form per max-slot choice —
    * and sums (And/Or/Msm) / scales (Boost) of max-of-affine sets stay
    * max-of-affine via the cross product (`max` distributes over independent
    * sums: max over choices of Σ fᵢ = Σ maxᵢ). Returns the form set whose
    * pointwise MAX equals `upperBound` for every leaf-ceiling assignment
    * (up to float reorder — callers inflate exactly as for [[boundWeights]]),
    * or None when the set would exceed [[MaxBoundForms]] (deep DisMax
    * nesting). An unexpanded multi-term leaf (Wild/Fuzzy) is not a None
    * case: it throws IllegalStateException, like every evaluator —
    * [[rewriteMultiTerm]] must run first. A DisMax-free tree yields the
    * singleton [[boundWeights]] form.
    */
  def boundWeightsMax(q: BoolQ): Option[Vector[(Map[String, Double], Double)]] = {
    type Form = (Map[String, Double], Double)
    def add(a: Form, b: Form): Form =
      (b._1.foldLeft(a._1) { case (m, (t, w)) =>
        m.updated(t, m.getOrElse(t, 0.0) + w) }, a._2 + b._2)
    def scale(a: Form, f: Double): Form =
      (a._1.map { case (t, w) => t -> w * f }, a._2 * f)
    // cross-product sum of form sets, capped
    def cross(xs: Vector[Vector[Form]]): Option[Vector[Form]] =
      xs.foldLeft(Option(Vector((Map.empty[String, Double], 0.0)))) { (acc, s) =>
        acc.flatMap { fs =>
          val out = for (a <- fs; b <- s) yield add(a, b)
          if (out.length > MaxBoundForms) None else Some(out)
        }
      }
    def walk(q: BoolQ): Option[Vector[Form]] = q match {
      case Term(t) => Some(Vector(Map(t -> 1.0) -> 0.0))
      case s: Span => Some(Vector(s.distinctKeys.map(_ -> 1.0).toMap -> 0.0))
      case And(xs) => traverse(xs).flatMap(cross)
      case Or(xs) => traverse(xs).flatMap(cross)
      case Msm(xs, _) => traverse(xs).flatMap(cross)
      case Not(_) => Some(Vector(Map.empty[String, Double] -> 0.0))
      case Const(_, v) => Some(Vector(Map.empty[String, Double] -> v))
      case Boost(x, f) => walk(x).map(_.map(scale(_, f)))
      case DisMax(xs, tie) =>
        traverse(xs).flatMap { sets =>
          if (tie == 1.0) cross(sets) // pure sum — one form set
          else {
            // sumPart: tie-scaled cross sum over ALL children; max slot i
            // adds (1−tie)·fᵢ for each fᵢ — choices are independent, so the
            // pointwise max equals (1−tie)·maxᵢUᵢ + tie·ΣⱼUⱼ exactly
            val scaled = sets.map(_.map(scale(_, tie)))
            cross(scaled).flatMap { sums =>
              val out = for {
                i <- sets.indices.toVector
                fi <- sets(i)
                g <- sums
              } yield add(scale(fi, 1.0 - tie), g)
              if (out.isEmpty || out.length > MaxBoundForms) None else Some(out)
            }
          }
        }
      case q @ (Wild(_) | Fuzzy(_, _)) => unexpanded(q)
    }
    def traverse(xs: Vector[BoolQ]): Option[Vector[Vector[Form]]] =
      xs.foldLeft(Option(Vector.empty[Vector[Form]])) {
        (acc, x) => acc.flatMap(v => walk(x).map(v :+ _))
      }
    walk(q)
  }

  /** Evaluate match + score for one document. `score(t)` must only be
    * called for present terms. Returns NaN when unmatched (callers test
    * with [[matches]] first or use [[evalScore]]'s contract: a matched
    * node's score is finite; NaN = no match). Summation is depth-first
    * left-to-right — the determinism contract shared with the oracles.
    */
  def evalScore(q: BoolQ, has: String => Boolean,
                score: String => Double): Double =
    evalScore(q, has, score, s => throw new IllegalStateException(
      s"span leaf $s requires a positional evaluation path"))

  /** [[evalScore]] with per-span matches for span-bearing trees; `spanOk`
    * is asked only when every slot key is present. A matched span scores
    * the sum of its DISTINCT slot keys' scores in ascending key order (the
    * flat phrase, near and multi-phrase queries' contract).
    */
  def evalScore(q: BoolQ, has: String => Boolean, score: String => Double,
                spanOk: Span => Boolean): Double = q match {
    case sp: Span =>
      if (!sp.keys.forall(has) || !spanOk(sp)) Double.NaN
      else {
        var s = 0.0
        sp.distinctKeys.foreach(key => s += score(key))
        s
      }
    case Term(t) => if (has(t)) score(t) else Double.NaN
    case And(xs) =>
      var s = 0.0
      var i = 0
      while (i < xs.length) {
        val c = evalScore(xs(i), has, score, spanOk)
        if (c.isNaN) return Double.NaN
        s += c
        i += 1
      }
      s
    case Or(xs) =>
      var s = 0.0
      var any = false
      var i = 0
      while (i < xs.length) {
        val c = evalScore(xs(i), has, score, spanOk)
        if (!c.isNaN) { any = true; s += c }
        i += 1
      }
      if (any) s else Double.NaN
    case Not(x) =>
      if (evalScore(x, has, score, spanOk).isNaN) 0.0 else Double.NaN
    case Boost(x, f) =>
      val c = evalScore(x, has, score, spanOk)
      if (c.isNaN) Double.NaN else c * f
    case DisMax(xs, tie) =>
      // Lucene DisjunctionMaxScorer accounting: running left-to-right sum
      // and max over the matched children, then max + (sum − max)·tie —
      // the exact expression the SQL oracle mirrors (greatest + coalesced
      // left-fold sum), so Doubles stay bit-identical
      var sum = 0.0
      var mx = Double.NegativeInfinity
      var any = false
      var i = 0
      while (i < xs.length) {
        val c = evalScore(xs(i), has, score, spanOk)
        if (!c.isNaN) { any = true; sum += c; if (c > mx) mx = c }
        i += 1
      }
      if (any) mx + (sum - mx) * tie else Double.NaN
    case Msm(xs, m) =>
      // disjunction-sum over the matched children, gated on the count —
      // the same left-to-right fold as Or, so MSM 1 ≡ OR bit-exactly
      var s = 0.0
      var cnt = 0
      var i = 0
      while (i < xs.length) {
        val c = evalScore(xs(i), has, score, spanOk)
        if (!c.isNaN) { cnt += 1; s += c }
        i += 1
      }
      if (cnt >= m) s else Double.NaN
    case Const(x, v) =>
      // match logic delegates; the score is the constant itself
      if (evalScore(x, has, score, spanOk).isNaN) Double.NaN else v
    case q @ (Wild(_) | Fuzzy(_, _)) => unexpanded(q)
  }
}
