package graft.index

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ShardLens

/** Published-index integrity checker — the `fsck` of the index lifecycle
  * (the analog of the reference's input/result sanity checkers,
  * psi/utils/table_utils.cc dup/ordering checks, applied to OUR on-disk
  * artifacts). Every invariant the query kernels rely on is re-verified
  * from the raw published files:
  *
  *  - every posting segment decodes; docIds strictly ascending, inside the
  *    segment's shard range; `n` == decoded length; `sumTf` == Σtf;
  *    tf ≥ 1; positional segments: per-doc position lists ascending with
  *    length == tf
  *  - block skip metadata (r5): blockFirst/blockMaxTf sized ceil(n/128) with
  *    blockFirst == the block-leading docIds and blockMaxTf == the exact
  *    per-block max tf; blockMinDlen == the exact per-block min dlen (its
  *    own pass — needs the dlens join); the avgdl-free pruning bounds
  *    derive from these, so an error here is silently-inadmissible pruning
  *  - dictionary df/cf == the per-term sums over segments (both directions:
  *    no missing dict row, no orphan dict row); dict shards == the sorted,
  *    distinct shards of the term's segments; every dict file term-sorted,
  *    and no two files' term ranges overlap
  *  - dlens rows: firstDocId == shard·docsPerShard, length ≤ docsPerShard,
  *    every docs-table row's dlen equals its shard slot
  *  - docs table: docIds dense 0..numDocs-1, unique
  *  - meta counts (numDocs, totalTokens, numTerms, numSegments, avgdl)
  *    match the artifacts
  *
  * All checks run DISTRIBUTED (mapPartitions over segments + a handful of
  * narrow aggregations); violations come back as bounded samples, never a
  * full materialization — the 100 TB shape is "decode everything once,
  * collect only counts and first examples".
  */
object IndexCheck {

  /** One violated invariant (bounded sample). */
  case class Violation(check: String, subject: String, detail: String)

  case class Report(segments: Long, postings: Long, terms: Long,
                    violations: Array[Violation]) {
    def ok: Boolean = violations.isEmpty
    def render: String =
      if (ok) s"OK: $segments segments / $postings postings / $terms terms — all invariants hold"
      else s"CORRUPT: ${violations.length} violation(s) (showing up to $MaxSamples):\n" +
        violations.map(v => s"  [${v.check}] ${v.subject}: ${v.detail}").mkString("\n")
  }

  private val MaxSamples = 20

  def check(spark: SparkSession, indexDir: String): Report = {
    import spark.implicits._
    val meta = IndexBuilder.readMeta(indexDir)
    val dps = meta.docsPerShard
    val positional =
      spark.read.parquet(s"$indexDir/postings.parquet").columns.contains("posBytes")

    // ---- segment decode invariants (one distributed pass) ----------------
    val raw = spark.read.parquet(s"$indexDir/postings.parquet")
    val segs = (if (positional) raw
                else raw.withColumn("posBytes", lit(null).cast("binary")))
      .select($"term", $"shard", $"n", $"sumTf", $"docBytes", $"tfBytes",
        $"blockFirst", $"blockMaxTf", $"posBytes")
      .as[(String, Int, Int, Long, Array[Byte], Array[Byte],
        Array[Long], Array[Int], Array[Byte])]
    val segViolations: Dataset[Violation] = segs.mapPartitions { it =>
      it.flatMap { case (term, shard, n, sumTf, docBytes, tfBytes,
                         blockFirst, blockMaxTf, posBytes) =>
        val out = scala.collection.mutable.ArrayBuffer.empty[Violation]
        val subj = s"term='$term' shard=$shard"
        try {
          val docs = Codec.decodeDeltas(docBytes, n)
          val tfs = Codec.decodeInts(tfBytes, n)
          if (docs.length != n || tfs.length != n)
            out += Violation("seg-n", subj,
              s"n=$n but decoded ${docs.length} docs / ${tfs.length} tfs")
          val lo = shard.toLong * dps
          val hi = lo + dps
          var i = 0
          var asc = true
          var bounds = true
          var tfPos = true
          var s = 0L
          while (i < docs.length) {
            if (i > 0 && docs(i) <= docs(i - 1)) asc = false
            if (docs(i) < lo || docs(i) >= hi) bounds = false
            if (tfs(i) < 1) tfPos = false
            s += tfs(i)
            i += 1
          }
          if (!asc) out += Violation("seg-ascending", subj, "docIds not strictly ascending")
          if (!bounds) out += Violation("seg-shard-range", subj,
            s"docId outside [$lo, $hi)")
          if (!tfPos) out += Violation("seg-tf", subj, "tf < 1")
          if (s != sumTf) out += Violation("seg-sumtf", subj,
            s"sumTf=$sumTf but Σtf=$s")
          // block skip metadata (r5 format): the pruning kernels index these
          // arrays by pos >>> 7, and the avgdl-free bounds derive from
          // blockMaxTf — a wrong length or an understated max would make
          // recomputed bounds silently inadmissible
          val nBlocks = (n + Codec.BlockSize - 1) / Codec.BlockSize
          if (blockFirst.length != nBlocks || blockMaxTf.length != nBlocks)
            out += Violation("seg-blocks", subj,
              s"block arrays sized ${blockFirst.length}/${blockMaxTf.length}, expected $nBlocks")
          else {
            var blk = 0
            var firstsOk = true
            var maxTfOk = true
            while (blk < nBlocks) {
              val start = blk * Codec.BlockSize
              val end = math.min(start + Codec.BlockSize, n)
              if (blockFirst(blk) != docs(start)) firstsOk = false
              var m = 0
              var j = start
              while (j < end) { if (tfs(j) > m) m = tfs(j); j += 1 }
              if (blockMaxTf(blk) != m) maxTfOk = false
              blk += 1
            }
            if (!firstsOk) out += Violation("seg-blockfirst", subj,
              "blockFirst does not match the block-leading docIds")
            if (!maxTfOk) out += Violation("seg-blockmaxtf", subj,
              "blockMaxTf is not the exact per-block max tf")
          }
          if (posBytes != null) {
            val flat = Codec.decodePositions(posBytes, tfs)
            val off = Codec.prefixSums(tfs)
            var d = 0
            var posAsc = true
            while (d < tfs.length) {
              var j = off(d) + 1
              while (j < off(d + 1)) {
                if (flat(j) <= flat(j - 1)) posAsc = false
                j += 1
              }
              d += 1
            }
            if (!posAsc)
              out += Violation("seg-positions", subj, "positions not ascending within a doc")
            if (flat.length != off(tfs.length))
              out += Violation("seg-positions-len", subj,
                s"decoded ${flat.length} positions, expected ${off(tfs.length)}")
          }
        } catch {
          case e: Exception =>
            out += Violation("seg-decode", subj, s"decode threw: ${e.getMessage}")
        }
        out
      }
    }

    // ---- dictionary consistency (segment sums vs dict, both directions) --
    val fromSegs = raw.groupBy("term")
      .agg(sum($"n".cast("long")).as("seg_df"), sum($"sumTf").as("seg_cf"),
        sort_array(collect_set($"shard")).as("seg_shards"))
    val dictRaw = spark.read.parquet(s"$indexDir/dict.parquet")
    val dict = if (dictRaw.columns.contains("shards")) dictRaw
               else dictRaw.withColumn("shards", lit(null).cast("array<int>"))
    val dictJoined = fromSegs.join(dict, Seq("term"), "full_outer")
    val dictViolations = dictJoined
      .filter($"seg_df".isNull || $"df".isNull ||
        $"seg_df" =!= $"df" || $"seg_cf" =!= $"cf")
      .select($"term",
        concat_ws("/", coalesce($"seg_df".cast("string"), lit("missing")),
          coalesce($"seg_cf".cast("string"), lit("missing"))).as("seg"),
        concat_ws("/", coalesce($"df".cast("string"), lit("missing")),
          coalesce($"cf".cast("string"), lit("missing"))).as("dic"))
      .as[(String, String, String)]
      .map { case (t, s, d) =>
        Violation("dict-mismatch", s"term='$t'", s"segments df/cf=$s dict df/cf=$d") }
    // the shard list a query plans its shards from: exactly the sorted,
    // distinct shards of the term's segments
    val shardViolations = dictJoined
      .filter($"seg_df".isNotNull && $"df".isNotNull && !($"seg_shards" <=> $"shards"))
      .select($"term", $"seg_shards".cast("string"),
        coalesce($"shards".cast("string"), lit("missing")))
      .as[(String, String, String)]
      .map { case (t, s, d) =>
        Violation("dict-shards", s"term='$t'", s"segments' shards=$s dict shards=$d") }
    // every dict file term-sorted, and no two files' term ranges overlap:
    // the driver's term lookup picks files by their footer range
    val dictRows = dictRaw.select(col("_metadata.file_path").as("file"),
      col("_metadata.row_index").as("row"), $"term")
    val orderViolations = dictRows
      .withColumn("prev", lag($"term", 1).over(Window.partitionBy("file").orderBy("row")))
      .filter($"prev" >= $"term")
      .select($"file", $"row", $"prev", $"term").as[(String, Long, String, String)]
      .map { case (f, r, p, t) =>
        Violation("dict-order", s"file=$f row=$r", s"term '$t' after '$p'") }
    val rangeViolations = dictRows.groupBy("file")
      .agg(min($"term").as("lo"), max($"term").as("hi"))
      .withColumn("prevFile", lag($"file", 1).over(Window.orderBy("lo", "hi")))
      .withColumn("prevHi", lag($"hi", 1).over(Window.orderBy("lo", "hi")))
      .filter($"prevHi" >= $"lo")
      .select($"prevFile", $"file", $"prevHi", $"lo").as[(String, String, String, String)]
      .map { case (pf, f, ph, lo) =>
        Violation("dict-ranges", s"files $pf, $f",
          s"term ranges overlap: one ends at '$ph', the other starts at '$lo'") }

    // ---- docs table: dense unique ids; dlens slot alignment --------------
    val docs = spark.read.parquet(s"$indexDir/docs.parquet")
    val docStats = docs.agg(
      count(lit(1)).as("n"), countDistinct($"docId").as("nd"),
      min($"docId").as("lo"), max($"docId").as("hi"),
      sum($"dlen".cast("long")).as("toks")).head()
    if (docStats.getLong(0) == 0L)
      return Report(0L, 0L, 0L,
        Array(Violation("docs-empty", "docs.parquet", "no documents")))
    val (nDocs, nDist, loId, hiId, toks) =
      (docStats.getLong(0), docStats.getLong(1), docStats.getLong(2),
        docStats.getLong(3), docStats.getLong(4))
    // unique + non-negative (NOT dense: a tombstone compaction keeps the
    // surviving docs' ORIGINAL ids, so holes are legal; the kernels only
    // rely on id→shard arithmetic and slot alignment)
    val docsViolations = scala.collection.mutable.ArrayBuffer.empty[Violation]
    if (nDocs != nDist || loId < 0L)
      docsViolations += Violation("docs-unique", "docs.parquet",
        s"n=$nDocs distinct=$nDist range=[$loId,$hiId] — ids not unique/non-negative")

    val lens = spark.read.parquet(s"$indexDir/dlens.parquet").as[ShardLens]
    val lensShapeViolations = lens.flatMap { sl =>
      val out = scala.collection.mutable.ArrayBuffer.empty[Violation]
      if (sl.firstDocId != sl.shard.toLong * dps)
        out += Violation("dlens-first", s"shard=${sl.shard}",
          s"firstDocId=${sl.firstDocId}, expected ${sl.shard.toLong * dps}")
      if (sl.lens.length > dps)
        out += Violation("dlens-size", s"shard=${sl.shard}",
          s"${sl.lens.length} slots > docsPerShard=$dps")
      out
    }
    // every doc's dlen equals its shard slot (join docs against exploded slots)
    val slotRows = lens.flatMap(sl =>
      sl.lens.iterator.zipWithIndex.map { case (l, i) =>
        (sl.firstDocId + i, l) }).toDF("docId", "slotLen")
    val slotViolations = docs.select($"docId", $"dlen")
      .join(slotRows, Seq("docId"), "left_outer")
      .filter($"slotLen".isNull || $"slotLen" =!= $"dlen")
      .select($"docId", $"dlen", $"slotLen")
      .as[(Long, Int, Option[Int])]
      .map { case (d, dl, sl) =>
        Violation("dlens-slot", s"docId=$d",
          s"docs.dlen=$dl dlens slot=${sl.map(_.toString).getOrElse("missing")}") }

    // ---- blockMinDlen exactness (r5 format): the stored per-block min dlen
    // must equal the true min over the block's documents — an OVERSTATED min
    // makes Codec.recomputeBlockUb return a too-small bound (inadmissible
    // pruning under deltas). Needs the dlens join, so it runs as its own
    // distributed pass: explode postings into (docId, block) rows, join the
    // shard slot lengths, per-block min, compare to the stored value.
    val minDlenViolations = {
      val blockDocs = raw
        .select($"term", $"shard", $"n", $"docBytes", $"blockMinDlen")
        .as[(String, Int, Int, Array[Byte], Array[Int])]
        .flatMap { case (term, shard, n, docBytes, bmd) =>
          // an undecodable segment is reported by the segment pass — skip
          // it here rather than failing the whole fsck job
          val docs = try Codec.decodeDeltas(docBytes, n)
                     catch { case _: Exception => Array.emptyLongArray }
          docs.iterator.zipWithIndex.map { case (d, i) =>
            val blk = i >>> 7
            (term, shard, blk, d,
              if (bmd != null && blk < bmd.length) bmd(blk) else Int.MinValue)
          }
        }.toDF("term", "shard", "blk", "docId", "storedMin")
      blockDocs.join(slotRows, Seq("docId"))
        .groupBy($"term", $"shard", $"blk", $"storedMin")
        .agg(min($"slotLen").as("trueMin"))
        .filter($"storedMin" =!= $"trueMin")
        .select($"term", $"shard", $"blk", $"storedMin", $"trueMin")
        .as[(String, Int, Int, Int, Int)]
        .map { case (t, sh, blk, st, tr) =>
          Violation("seg-blockmindlen", s"term='$t' shard=$sh block=$blk",
            s"stored minDlen=$st, true min over the block's docs=$tr") }
    }

    // ---- meta counts ------------------------------------------------------
    val numSegments = raw.count()
    val numTerms = dict.count()
    val postingsTotal = raw.agg(sum($"n".cast("long"))).as[Long].head()
    val metaViolations = scala.collection.mutable.ArrayBuffer.empty[Violation]
    if (nDocs != meta.numDocs)
      metaViolations += Violation("meta-docs", "meta.json",
        s"numDocs=${meta.numDocs}, docs table has $nDocs")
    if (toks != meta.totalTokens)
      metaViolations += Violation("meta-tokens", "meta.json",
        s"totalTokens=${meta.totalTokens}, docs table sums $toks")
    if (numTerms != meta.numTerms)
      metaViolations += Violation("meta-terms", "meta.json",
        s"numTerms=${meta.numTerms}, dict has $numTerms")
    if (numSegments != meta.numSegments)
      metaViolations += Violation("meta-segments", "meta.json",
        s"numSegments=${meta.numSegments}, postings has $numSegments")
    if (meta.numDocs > 0 &&
        math.abs(meta.avgdl - toks.toDouble / nDocs) > 1e-9)
      metaViolations += Violation("meta-avgdl", "meta.json",
        s"avgdl=${meta.avgdl}, recomputed ${toks.toDouble / nDocs}")

    val sampled =
      segViolations.take(MaxSamples) ++
      dictViolations.take(MaxSamples) ++
      shardViolations.take(MaxSamples) ++
      orderViolations.take(MaxSamples) ++
      rangeViolations.take(MaxSamples) ++
      lensShapeViolations.take(MaxSamples) ++
      slotViolations.take(MaxSamples) ++
      minDlenViolations.take(MaxSamples) ++
      docsViolations ++ metaViolations
    Report(numSegments, postingsTotal, numTerms, sampled.toArray.take(MaxSamples))
  }
}
