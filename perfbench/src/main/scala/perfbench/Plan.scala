package perfbench

import graft.corpus.CorpusGen
import graft.index.Tokenize

/** One timed operation of a workload, fixed before the run starts.
  *
  * @param cls    the op class the end-to-end metrics are split by
  * @param mode   the query mode (or build / ingest step) the op runs
  * @param query  the query string handed to the engine
  * @param k      top-k
  * @param arg    mode-specific argument (predicate, range, window, ...)
  * @param source for a selective op: the doc the rare term was drawn from
  * @param expectSource whether that doc must be among the hits
  */
case class Op(cls: String, mode: String, query: String, k: Int = 10,
              arg: String = "", source: Long = -1L,
              expectSource: Boolean = false) {
  def render: String = s"$cls|$mode|$query|$k|$arg|$source|$expectSource"
}

/** Seeded inputs of a run: the corpus config and the op lists. Everything
  * here is a pure function of (seed, size), so the same seed gives the same
  * corpus and the same ops, and the engine sees only the generated data.
  */
case class Plan(seed: Long, size: Size) {
  val corpus: CorpusGen.Config = CorpusGen.Config(numDocs = size.docs, seed = seed)

  /** Slice `i` of the ingest stream: the next disjoint doc-id range. */
  def slice(i: Int): CorpusGen.Config =
    corpus.copy(numDocs = size.sliceDocs, idOffset = size.docs + i.toLong * size.sliceDocs)

  /** sha256 over the rows of the base corpus and every ingest slice. */
  def corpusDigest: String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    (0L until size.docs + size.cycles * size.sliceDocs).foreach(id =>
      md.update(CorpusGen.rowFor(id, corpus).toString.getBytes("UTF-8")))
    md.digest().map(b => f"$b%02x").mkString
  }

  private def rng(stream: Long) = new java.util.Random(CorpusGen.mix64(seed ^ stream))

  /** Hot keywords: the head of the corpus generator's Zipf-ish pool. */
  private val hot = CorpusGen.keywords.take(8)
  private def util(r: java.util.Random) = s"util_${r.nextInt(corpus.midPool)}"

  /** The broad query pool of this run: one seeded variant per mode. Warm-up
    * runs every one of them once, so timed broad ops only reuse cached terms.
    */
  val broadPool: Seq[Op] = {
    val r = rng(0xb10adL)
    def h() = hot(r.nextInt(hot.length))
    def two() = { val a = h(); var b = h(); while (b == a) b = h(); (a, b) }
    val langs = Seq("scala", "java", "py", "cpp", "go", "rs")
    Plan.BroadModes.map { m =>
        m match {
          case "and_k100" => val (a, b) = two(); Op("broad", m, s"$a $b", k = 100)
          case "or" => val (a, b) = two(); Op("broad", m, s"$a $b ${util(r)}")
          case "bool" =>
            val (a, b) = two(); val (u, v) = (util(r), util(r))
            r.nextInt(3) match {
              case 0 => Op("broad", m, s"($u $a) OR ($v $b)")
              case 1 => Op("broad", m, s"$u ($a OR -$b)")
              case _ => Op("broad", m, s"$a -($u $v)")
            }
          case "filtered" =>
            val (a, b) = two()
            Op("broad", m, s"$a $b", arg = langs(r.nextInt(langs.length)))
          case "prefix" => Op("broad", m, s"util_${1 + r.nextInt(9)}")
          case "regex" => Op("broad", m, s"util_${1 + r.nextInt(9)}[0-9]")
          case "trange" =>
            val lo = 10 + r.nextInt(80)
            Op("broad", m, s"util_$lo", arg = s"util_${lo + 3}")
          case "collapse" => Op("broad", m, s"${h()} ${util(r)}", arg = "lang")
          case "phrase" => val (a, b) = two(); Op("broad", m, s"$a $b")
          case "near" => Op("broad", m, s"${h()} ${util(r)}", arg = "6")
        }
    }
  }

  /** A selective op on a rare `sym_` term of doc `id`, never used before in
    * the run (`used` is updated): `variant` 0 runs the term alone, 1 ANDs it
    * with a hot keyword of the doc, 2 with a second rare term of the doc, 3
    * with an absent term (no hit). None when the doc has no unused rare term.
    */
  def selectiveOp(r: java.util.Random, id: Long,
                  used: scala.collection.mutable.Set[String], variant: Int): Option[Op] = {
    val toks = Tokenize.tokenize(CorpusGen.rowFor(id, corpus).content)
    val rares = toks.filter(t => t.startsWith("sym_") && !used(t)).distinct
    if (rares.isEmpty) None
    else {
      val rare = rares(r.nextInt(rares.length))
      used += rare
      val own = toks.filter(t => hot.contains(t)).distinct
      variant % 4 match {
        case 0 => Some(Op("selective", "rare", rare, source = id, expectSource = true))
        case 1 if own.nonEmpty =>
          Some(Op("selective", "rare_hot", s"$rare ${own(r.nextInt(own.length))}",
            source = id, expectSource = true))
        case 2 if rares.length > 1 =>
          val other = rares.filterNot(_ == rare)
          val second = other(r.nextInt(other.length))
          used += second
          Some(Op("selective", "rare_rare", s"$rare $second", source = id,
            expectSource = true))
        case 3 => Some(Op("selective", "no_hit", s"$rare zzqx_absent_${r.nextInt(1000)}",
          source = id))
        case _ => Some(Op("selective", "rare", rare, source = id, expectSource = true))
      }
    }
  }

  /** The `search` workload's op list, in rounds of [[Plan.RoundOps]] ops:
    * each round holds every broad op of the pool once and as many selective
    * ops, in seeded order. Balanced rounds keep the mode mix, and so the class
    * means, the same from seed to seed. Longer than any run consumes; a run
    * takes whole rounds from the front.
    */
  lazy val searchOps: IndexedSeq[Op] = {
    val r = rng(0x5ea7c4L)
    val used = scala.collection.mutable.Set[String]()
    (0 until Plan.MaxOps / Plan.RoundOps).flatMap { _ =>
      val broad = broadPool
      val selective = Plan.BroadModes.indices.map(v =>
        Iterator.continually(r.nextLong(size.docs)).flatMap(id =>
          selectiveOp(r, id, used, v)).next())
      shuffle(r, broad ++ selective)
    }
  }

  private def shuffle[A](r: java.util.Random, xs: Seq[A]): Seq[A] = {
    val a = xs.toArray[Any]
    for (i <- a.indices.reverse) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq.asInstanceOf[Seq[A]]
  }

  /** Selective warm-up ops: from the end of the search op list, which no run
    * reaches, so their rare terms stay unseen by the timed ops.
    */
  def warmSelective: Seq[Op] =
    searchOps.takeRight(Plan.RoundOps * 20).filter(_.cls == "selective").take(4)

  /** Keys deleted in ingest cycle `i`: a seeded ~0.5% of the docs that exist
    * once slice `i` is ingested (base plus slices 0..i).
    */
  def deleteIds(i: Int): Seq[Long] = {
    val r = rng(0xde1L + i)
    val existing = size.docs + (i + 1).toLong * size.sliceDocs
    val n = math.max(1, (existing * 0.005).toInt)
    Seq.fill(n)(r.nextLong(existing)).distinct.sorted
  }

  /** Queries of ingest cycle `i`: half on rare terms of the slice just
    * ingested, half on rare terms of older docs.
    */
  def ingestQueries(i: Int, used: scala.collection.mutable.Set[String],
                    n: Int = size.queriesPerCycle, salt: Long = 0L): Seq[Op] = {
    val r = rng(0x1a9e57L + i + (salt << 32))
    val c = slice(i)
    (0 until n).map { j =>
      val (lo, span) = if (j % 2 == 0) (c.idOffset, c.numDocs) else (0L, c.idOffset)
      Iterator.continually(lo + r.nextLong(span))
        .flatMap(id => selectiveOp(r, id, used, j).map(_.copy(cls = "delta"))).next()
    }
  }

  /** Rendering of every op list, for the determinism self-test. */
  def opsDigest: String = {
    val used = scala.collection.mutable.Set[String]()
    val all = searchOps.map(_.render) ++ broadPool.map(_.render) ++
      (0 until size.cycles).flatMap(i =>
        deleteIds(i).map(_.toString) ++ ingestQueries(i, used).map(_.render))
    graft.corpus.CorpusGen.sha256Hex(all.mkString("\n"))
  }
}

object Plan {
  val BroadModes: Seq[String] = Seq("and_k100", "or", "bool", "filtered", "prefix",
    "regex", "trange", "collapse", "phrase", "near")
  val MaxOps = 4000
  /** Ops per round of the search workload: every broad mode once, and as
    * many selective ops.
    */
  val RoundOps: Int = 2 * BroadModes.length
  /** `--seconds` per `search` round: a round takes 5–7 s of wall time on
    * the reference host.
    */
  val RoundSeconds = 5.0

  /** Rounds of a `search` run of `seconds`. The count follows from `seconds`
    * alone, so a faster engine or host runs the same ops, not more of them.
    */
  def searchRounds(seconds: Double): Int = math.max(1, math.round(seconds / RoundSeconds).toInt)
}

/** Corpus and loop sizes. `full` is what the benchmark measures; `tiny` is the
  * smoke-test size. The ingest workload runs exactly `cycles` cycles: each
  * cycle costs more than the one before (more delta dirs, a longer tombstone
  * file), so a time-bound loop would let a faster engine run costlier cycles.
  */
case class Size(name: String, docs: Long, docsPerShard: Int, sliceDocs: Long, cycles: Int,
                queriesPerCycle: Int, minBuilds: Int)

object Size {
  val full = Size("full", docs = 4000, docsPerShard = 512, sliceDocs = 200, cycles = 3,
    queriesPerCycle = 5, minBuilds = 2)
  val tiny = Size("tiny", docs = 600, docsPerShard = 64, sliceDocs = 60, cycles = 2,
    queriesPerCycle = 6, minBuilds = 1)
  def apply(name: String): Size = name match {
    case "full" => full
    case "tiny" => tiny
    case other => sys.error(s"unknown size '$other' (full | tiny)")
  }
}
