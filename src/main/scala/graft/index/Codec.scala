package graft.index

/** Delta-gap + variable-byte posting codec.
  *
  * The reference stores fixed-width masked values and truncates them to the
  * minimum safe width (`ComputeTruncateSize`, psi/algorithm/rr22/rr22_psi.cc:41-52);
  * psispark's analog is classic IR posting compression: sorted docIDs are
  * delta-gapped then variable-byte encoded, term frequencies are varbyte
  * encoded directly. Pure JVM code, used inside `mapPartitions` (SURVEY.md §2.8).
  *
  * Encoders size the output exactly (first pass counts 7-bit groups, second
  * pass writes into a plain array) — no ByteArrayOutputStream, whose
  * per-byte `synchronized` write is a measurable cost on a post-biased-
  * locking JVM at hundreds of millions of postings per build.
  */
object Codec {

  /** Bytes one value takes as an unsigned LEB128 varint (7 bits per byte). */
  @inline def vlen(value: Long): Int =
    if (value == 0L) 1
    else (63 - java.lang.Long.numberOfLeadingZeros(value)) / 7 + 1

  /** Write one unsigned varint (LEB128, little-endian) at `pos`; returns the
    * position after the last byte written.
    */
  @inline def writeVLong(out: Array[Byte], pos: Int, value: Long): Int = {
    var v = value
    var p = pos
    while ((v & ~0x7fL) != 0L) {
      out(p) = ((v & 0x7fL) | 0x80L).toByte
      p += 1
      v >>>= 7
    }
    out(p) = v.toByte
    p + 1
  }

  /** Encode a strictly-increasing array of longs as delta gaps + varbyte. */
  def encodeDeltas(sorted: Array[Long]): Array[Byte] = {
    var total = 0
    var prev = 0L
    var i = 0
    while (i < sorted.length) {
      val v = sorted(i)
      require(i == 0 || v > prev, s"docIds must be strictly increasing, got $v after $prev")
      total += vlen(if (i == 0) v else v - prev)
      prev = v
      i += 1
    }
    val out = new Array[Byte](total)
    var pos = 0
    prev = 0L
    i = 0
    while (i < sorted.length) {
      val v = sorted(i)
      pos = writeVLong(out, pos, if (i == 0) v else v - prev)
      prev = v
      i += 1
    }
    out
  }

  /** Decode `n` delta-gapped varbyte longs back to absolute values. */
  def decodeDeltas(bytes: Array[Byte], n: Int): Array[Long] = {
    val res = new Array[Long](n)
    var pos = 0
    var prev = 0L
    var i = 0
    while (i < n) {
      var shift = 0
      var v = 0L
      var b = 0
      do {
        b = bytes(pos) & 0xff
        v |= (b & 0x7fL) << shift
        shift += 7
        pos += 1
      } while ((b & 0x80) != 0)
      prev = if (i == 0) v else prev + v
      res(i) = prev
      i += 1
    }
    res
  }

  /** Encode non-negative ints (term frequencies) as plain varbyte. */
  def encodeInts(xs: Array[Int]): Array[Byte] = {
    var total = 0
    var i = 0
    while (i < xs.length) {
      require(xs(i) >= 0, "tf must be non-negative")
      total += vlen(xs(i).toLong)
      i += 1
    }
    val out = new Array[Byte](total)
    var pos = 0
    i = 0
    while (i < xs.length) {
      pos = writeVLong(out, pos, xs(i).toLong)
      i += 1
    }
    out
  }

  /** Decode `n` varbyte ints. */
  def decodeInts(bytes: Array[Byte], n: Int): Array[Int] = {
    val res = new Array[Int](n)
    var pos = 0
    var i = 0
    while (i < n) {
      var shift = 0
      var v = 0L
      var b = 0
      do {
        b = bytes(pos) & 0xff
        v |= (b & 0x7fL) << shift
        shift += 7
        pos += 1
      } while ((b & 0x80) != 0)
      res(i) = v.toInt
      i += 1
    }
    res
  }

  /** Encode per-document position lists (positions(i) ascending, one list per
    * posting) as the concatenation of delta+varbyte lists — first position
    * absolute, then gaps. List lengths are the tfs, so no extra length table.
    */
  def encodePositions(positions: Array[Array[Int]]): Array[Byte] = {
    var total = 0
    var d = 0
    while (d < positions.length) {
      val ps = positions(d)
      var prev = 0
      var i = 0
      while (i < ps.length) {
        val v = ps(i)
        require(i == 0 || v > prev, "positions must be strictly increasing")
        total += vlen((if (i == 0) v else v - prev).toLong)
        prev = v
        i += 1
      }
      d += 1
    }
    val out = new Array[Byte](total)
    var pos = 0
    d = 0
    while (d < positions.length) {
      val ps = positions(d)
      var prev = 0
      var i = 0
      while (i < ps.length) {
        val v = ps(i)
        pos = writeVLong(out, pos, (if (i == 0) v else v - prev).toLong)
        prev = v
        i += 1
      }
      d += 1
    }
    out
  }

  /** [[encodePositions]] over a FLAT position array segmented by the per-doc
    * counts (`tfs`): doc i's positions are `flat[off(i) until off(i+1))`.
    * Byte-identical to `encodePositions(split-up lists)` — used by the
    * map-side draft encoder, which accumulates positions flat to avoid one
    * array allocation per (term, doc).
    */
  def encodePositionsFlat(flat: Array[Int], tfs: Array[Int]): Array[Byte] = {
    var total = 0
    var o = 0
    var d = 0
    while (d < tfs.length) {
      var prev = 0
      var i = 0
      while (i < tfs(d)) {
        val v = flat(o + i)
        require(i == 0 || v > prev, "positions must be strictly increasing")
        total += vlen((if (i == 0) v else v - prev).toLong)
        prev = v
        i += 1
      }
      o += tfs(d)
      d += 1
    }
    val out = new Array[Byte](total)
    var pos = 0
    o = 0
    d = 0
    while (d < tfs.length) {
      var prev = 0
      var i = 0
      while (i < tfs(d)) {
        val v = flat(o + i)
        pos = writeVLong(out, pos, (if (i == 0) v else v - prev).toLong)
        prev = v
        i += 1
      }
      o += tfs(d)
      d += 1
    }
    out
  }

  /** Decode position lists given the per-doc counts (the decoded tfs).
    * Returns a flat array; doc i's positions are
    * `flat[offsets(i) until offsets(i+1))` with `offsets` = prefix sums of
    * `tfs` (computed by the caller or via [[prefixSums]]).
    */
  def decodePositions(bytes: Array[Byte], tfs: Array[Int]): Array[Int] = {
    var n = 0
    var i = 0
    while (i < tfs.length) { n += tfs(i); i += 1 }
    val res = new Array[Int](n)
    var pos = 0
    var o = 0
    i = 0
    while (i < tfs.length) {
      var prev = 0
      var j = 0
      while (j < tfs(i)) {
        var shift = 0
        var v = 0L
        var b = 0
        do {
          b = bytes(pos) & 0xff
          v |= (b & 0x7fL) << shift
          shift += 7
          pos += 1
        } while ((b & 0x80) != 0)
        prev = if (j == 0) v.toInt else prev + v.toInt
        res(o) = prev
        o += 1
        j += 1
      }
      i += 1
    }
    res
  }

  /** offsets(i) = Σ tfs(0..i-1); length = tfs.length + 1. */
  def prefixSums(tfs: Array[Int]): Array[Int] = {
    val off = new Array[Int](tfs.length + 1)
    var i = 0
    while (i < tfs.length) { off(i + 1) = off(i) + tfs(i); i += 1 }
    off
  }

  /** Assemble one compressed posting segment from docId-ascending parallel
    * arrays (docIds, tfs, per-doc dlens) — the single definition of segment
    * encoding shared by the index build, the incremental indexer, and
    * compaction, so the artifact format cannot silently diverge.
    */
  def makeSeg(term: String, shard: Int, da: Array[Long], fa: Array[Int],
              la: Array[Int], k1: Double, b: Double,
              avgdl: Double): graft.PostingSeg = {
    val (firsts, maxes, maxTfs, minDls) = blockMeta(da, fa, la, k1, b, avgdl)
    graft.PostingSeg(term, shard, da.length, sumOf(fa),
      encodeDeltas(da), encodeInts(fa), firsts, maxes, maxTfs, minDls)
  }

  /** Positional variant: `posBytes` is the already-encoded concatenation of
    * per-doc position lists in the same docId order (see PostingSegP).
    */
  def makeSegP(term: String, shard: Int, da: Array[Long], fa: Array[Int],
               la: Array[Int], k1: Double, b: Double, avgdl: Double,
               posBytes: Array[Byte]): graft.PostingSegP = {
    val (firsts, maxes, maxTfs, minDls) = blockMeta(da, fa, la, k1, b, avgdl)
    graft.PostingSegP(term, shard, da.length, sumOf(fa),
      encodeDeltas(da), encodeInts(fa), firsts, maxes, maxTfs, minDls, posBytes)
  }

  @inline private def sumOf(fa: Array[Int]): Long = {
    var s = 0L
    var i = 0
    while (i < fa.length) { s += fa(i); i += 1 }
    s
  }

  /** Postings per block for block-max metadata. */
  val BlockSize: Int = 128

  /** Per-block first docId (for galloping skip), per-block max of the
    * BM25 tf-normalization `tf / (tf + k1*(1 - b + b*dlen/avgdl))` (rounded
    * UP to Float so the bound stays admissible), and the AVGDL-FREE
    * statistics (max tf, min dlen) that let [[recomputeBlockUb]] derive an
    * admissible bound under any other corpus avgdl.
    */
  def blockMeta(docIds: Array[Long], tfs: Array[Int], dlens: Array[Int],
                k1: Double, b: Double, avgdl: Double)
      : (Array[Long], Array[Float], Array[Int], Array[Int]) = {
    val nBlocks = (docIds.length + BlockSize - 1) / BlockSize
    val firsts = new Array[Long](nBlocks)
    val maxes = new Array[Float](nBlocks)
    val maxTfs = new Array[Int](nBlocks)
    val minDls = new Array[Int](nBlocks)
    var blk = 0
    while (blk < nBlocks) {
      val start = blk * BlockSize
      val end = math.min(start + BlockSize, docIds.length)
      firsts(blk) = docIds(start)
      var m = 0.0
      var mTf = 0
      var mDl = Int.MaxValue
      var i = start
      while (i < end) {
        val tf = tfs(i).toDouble
        val norm = tf / (tf + k1 * (1.0 - b + b * dlens(i) / avgdl))
        if (norm > m) m = norm
        if (tfs(i) > mTf) mTf = tfs(i)
        if (dlens(i) < mDl) mDl = dlens(i)
        i += 1
      }
      val f = m.toFloat
      maxes(blk) = if (f.toDouble < m) Math.nextUp(f) else f
      maxTfs(blk) = mTf
      minDls(blk) = mDl
      blk += 1
    }
    (firsts, maxes, maxTfs, minDls)
  }

  /** ADMISSIBLE per-block tf-normalization bounds under an arbitrary corpus
    * `avgdl` (used when streaming deltas shift the combined avgdl away from
    * the one the stored `blockMaxTfn` was computed with): the normalization
    * is increasing in tf and decreasing in dlen, so evaluating it at
    * (blockMaxTf, blockMinDlen) dominates every posting of the block; the
    * double result rounds UP to Float — a 2^-24 relative slack that dwarfs
    * any double-composition rounding, the same discipline as [[blockMeta]].
    */
  def recomputeBlockUb(maxTfs: Array[Int], minDls: Array[Int],
                       k1: Double, b: Double, avgdl: Double): Array[Float] = {
    val out = new Array[Float](maxTfs.length)
    var i = 0
    while (i < maxTfs.length) {
      val tf = maxTfs(i).toDouble
      if (tf == 0.0) out(i) = 0.0f // synthetic zero-score segments
      else {
        val ub = tf / (tf + k1 * (1.0 - b + b * minDls(i) / avgdl))
        val f = ub.toFloat
        out(i) = if (f.toDouble < ub) Math.nextUp(f) else f
      }
      i += 1
    }
    out
  }
}
