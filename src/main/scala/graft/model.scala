package graft

/** Core row types of the psispark engine (SURVEY.md §1.3).
  *
  * The input table shape is fixed by the task: an Iceberg-shaped table of
  * source-code files `(repo, path, commit, lang, content)` — the analog of the
  * reference's all-utf8 CSV `Table` (psi/utils/table_utils.h:49-76). In this
  * sandbox there is no Iceberg runtime on the classpath, so the table is
  * materialized as parquet with exactly that schema.
  */
case class FileRow(repo: String, path: String, commit: String, lang: String, content: String)

/** Document metadata after docID assignment — the analog of the reference's
  * `KeyInfo` run table (key → start_index, psi/utils/table_utils.cc:274-278):
  * a dense, deterministic long id derived from the total order of the
  * composite key (repo, path, commit). `dlen` is the token count used by BM25.
  */
case class DocRow(docId: Long, repo: String, path: String, commit: String,
                  lang: String, dlen: Int, sha256: String)

/** (term, docId, tf) posting before compression. */
case class TfRow(term: String, docId: Long, tf: Int)

/** One compressed posting segment: all postings of `term` within docId shard
  * `shard` (shard = docId / docsPerShard — the docId-range "salt" that splits
  * hot terms across partitions, SURVEY.md §4 skew row). docIds are delta-gap +
  * varbyte (`docBytes`), tfs varbyte (`tfBytes`); `blockFirst`/`blockMaxTfn`
  * are per-128-posting block skip metadata (block-max).
  *
  * `blockMaxTf`/`blockMinDlen` are the AVGDL-FREE per-block statistics (max
  * term frequency, min document length): the BM25 tf-normalization is
  * increasing in tf and decreasing in dlen, so
  * `maxTf / (maxTf + k1·(1−b+b·minDlen/avgdl'))` is an admissible block
  * bound under ANY corpus avgdl' — this is what keeps block-max pruning
  * alive when streaming deltas shift the combined avgdl away from the one
  * `blockMaxTfn` was computed with (r4 verdict item: pruning was previously
  * hard-disabled whenever deltas existed).
  */
case class PostingSeg(term: String, shard: Int, n: Int, sumTf: Long,
                      docBytes: Array[Byte], tfBytes: Array[Byte],
                      blockFirst: Array[Long], blockMaxTfn: Array[Float],
                      blockMaxTf: Array[Int], blockMinDlen: Array[Int]) extends Segment

/** The fields plain and positional posting segments and their drafts
  * share: enough to group segments by shard and term, to decode their
  * docIds and to sum their dict stats.
  */
trait Segment {
  def term: String
  def shard: Int
  def n: Int
  def sumTf: Long
  def docBytes: Array[Byte]
}

/** Positional posting segment (IndexConfig(positions = true) builds):
  * `posBytes` is the concatenation, in docId order, of each document's
  * ascending in-document token positions encoded delta+varbyte (first
  * position absolute, then gaps); the per-doc list length IS that posting's
  * tf, so decoding needs only `tfBytes`. Byte-concatenable across disjoint
  * docId ranges — merge/compaction is pure concatenation in first-docId
  * order, like `docBytes`... except docBytes' first value is absolute, so
  * only `posBytes` concatenates trivially.
  */
case class PostingSegP(term: String, shard: Int, n: Int, sumTf: Long,
                       docBytes: Array[Byte], tfBytes: Array[Byte],
                       blockFirst: Array[Long], blockMaxTfn: Array[Float],
                       blockMaxTf: Array[Int], blockMinDlen: Array[Int],
                       posBytes: Array[Byte]) extends Segment

/** MAP-SIDE posting-segment draft (r6 build optimization): because docIds
  * are dense ranks of the range-sorted corpus, each build map partition
  * holds one contiguous ascending docId run — so a (term, shard) posting
  * run is fully assembled inside a single map task except where a shard
  * straddles a partition boundary. The tokenize pass therefore encodes
  * whole compressed runs map-side and ships THESE through the (term, shard)
  * exchange instead of one row per posting (~2× fewer shuffle bytes, ~3×
  * fewer rows to sort at bench geometry). `dlenBytes` (varbyte per-posting
  * doc lengths) rides along so the reduce side can compute block-max
  * metadata and re-encode merged boundary straddlers; it is dropped from
  * the published artifact. Block metadata is NOT shipped (4 arrays/row
  * would outweigh the postings themselves at the ~7-posting median run
  * length) — the reduce side derives it from the decoded arrays.
  */
case class SegDraft(term: String, shard: Int, n: Int, sumTf: Long,
                    docBytes: Array[Byte], tfBytes: Array[Byte],
                    dlenBytes: Array[Byte]) extends Segment

/** Positional twin of [[SegDraft]]: `posBytes` as in [[PostingSegP]] —
  * per-doc lists are self-contained, so boundary merges concatenate them in
  * first-docId order.
  */
case class SegDraftP(term: String, shard: Int, n: Int, sumTf: Long,
                     docBytes: Array[Byte], tfBytes: Array[Byte],
                     dlenBytes: Array[Byte], posBytes: Array[Byte]) extends Segment

/** Term dictionary row (df = doc frequency, cf = collection frequency) — the
  * analog of KeyInfo's per-key dup counts (psi/utils/table_utils.cc:280-374).
  * `shards` is the ascending, distinct list of docId shards whose postings
  * hold the term, so a query learns where a term lives from the dictionary
  * alone. Every dict part file is term-sorted and the files cover disjoint
  * term ranges, so the driver answers a term lookup from the one file whose
  * footer range covers it (`IndexFiles.DictReader`).
  */
case class TermStat(term: String, df: Long, cf: Long, shards: Array[Int])

/** Per-shard document lengths, docId-aligned: lens(i) is dlen of docId
  * firstDocId + i. Kept as one compact row per shard so query-time scoring
  * joins one small row per touched shard instead of shuffling the docs table.
  */
case class ShardLens(shard: Int, firstDocId: Long, lens: Array[Int])

/** Search hit. */
case class Hit(docId: Long, score: Double)

/** Per-partition lineage record emitted by the segment builder — the analog of
  * the reference's RecoveryCheckpoint counters + PsiResultReport
  * (psi/checkpoint/checkpoint.proto:8-43, psi/utils/table_utils.proto:21-27).
  */
case class PartitionManifest(stage: String, partition: Int, rows: Long,
                             postings: Long, bytesOut: Long, sha256: String,
                             elapsedMs: Long, fanIn: Long = 1L)

/** Filesystem helpers shared by bench/fixture/scale tooling — one
  * implementation of recursive delete (idempotent: `deleteIfExists`
  * tolerates files vanishing mid-walk).
  */
object FsUtil {
  def deleteRecursively(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => java.nio.file.Files.deleteIfExists(f))
      finally s.close()
    }

  def deleteRecursively(dir: String): Unit =
    deleteRecursively(java.nio.file.Paths.get(dir))
}
