package graft

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import graft.index.Tokenize

/** The three tokenizer implementations must agree exactly: the SQL
  * definition (`termsCol`, regexp over lower()), the JVM regex twin
  * (`tokenizeRegex`), and the ASCII fast-path scanner (`tokenize`) plus the
  * zero-allocation `tokenCount` / `token_count` Expression. Build and query
  * share these, so a single divergence breaks rank identity (the
  * server_secret_key_path parity analog, SURVEY.md §3.2).
  */
class TokenizeSpec extends AnyFunSuite {

  private def check(p: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(300), p)
    assert(res.passed, res.status.toString)
  }

  // strings over a code-like alphabet plus separators, casing, digits,
  // underscores, and occasional non-ASCII (forces the regex fallback)
  private val codeChar: Gen[Char] = Gen.frequency(
    (20, Gen.alphaNumChar), (4, Gen.const('_')), (6, Gen.oneOf(' ', '\n', '\t')),
    (3, Gen.oneOf('.', '(', ')', '{', '}', ';', '-', '+', '"')),
    (1, Gen.oneOf('é', 'Ω', '中', 'K' /* Kelvin K → lowercases to 'k' */ ,
      'İ' /* İ → lowercases to two chars */)))
  private val codeString: Gen[String] =
    Gen.listOf(codeChar).map(_.mkString)

  test("scanner tokenize == regex tokenize on arbitrary strings") {
    check(Prop.forAll(codeString) { s =>
      Tokenize.tokenize(s).sameElements(Tokenize.tokenizeRegex(s))
    })
  }

  test("tokenCount == tokenize.length on arbitrary strings") {
    check(Prop.forAll(codeString) { s =>
      Tokenize.tokenCount(
        org.apache.spark.unsafe.types.UTF8String.fromString(s)) ==
        Tokenize.tokenize(s).length
    })
  }

  test("scanner lowercases and splits exactly like the SQL column") {
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val samples = Seq(
      "import Def_Class99 foo.bar(BAZ_1)", "", "___", "a", "A\nB\tc",
      "x" * 5000, "KKk İstanbul é中文 mix_01") ++
      (0L until 50L).map(i => graft.corpus.CorpusGen.rowFor(i,
        graft.corpus.CorpusGen.Config(numDocs = 50)).content)
    val df = samples.toDF("content")
    graft.functions.VByteFunctions.register(spark)
    val rows = df.select(
      Tokenize.termsCol(col("content")).as("sqlToks"),
      size(Tokenize.termsCol(col("content"))).as("sqlN"),
      expr("token_count(content)").as("exprN"),
      col("content")).collect()
    rows.foreach { r =>
      val sqlToks = r.getSeq[String](0)
      val jvmToks = Tokenize.tokenize(r.getString(3)).toSeq
      assert(jvmToks == sqlToks, s"tokens diverge on '${r.getString(3).take(60)}'")
      assert(r.getInt(1) == r.getInt(2), "token_count != size(termsCol)")
    }
  }

  test("positional build postings equal Tokenize.tokenize per doc (fuzzed corpus)") {
    val spark = TestSpark.spark
    import spark.implicits._
    import graft.index.{Codec, IndexBuilder, IndexConfig}
    // mixed case, digits, '_', separators, the 0x7E–0x81 edge of the ASCII
    // gate, and chars whose Unicode lowercasing is n:m (İ) or maps into the
    // token class (Kelvin K); a third of the docs stay ASCII-only so the
    // build's in-place scanner runs beside its regex fallback
    val ascii = "abcXYZ09_ Q.\n\u007e\u007f"
    val wide = ascii + "\u0080\u0081\u0130\u212a\u00e9"
    val rnd = new scala.util.Random(11)
    val rows = (0 until 240).map { i =>
      val alphabet = if (i % 3 == 0) ascii else wide
      val content = Seq.fill(rnd.nextInt(60))(alphabet(rnd.nextInt(alphabet.length))).mkString
      FileRow("r", f"p$i%04d", "c", "x", content)
    }
    val dir = s"${TestSpark.workDir}/tokenize_fuzz"
    rows.toDF().write.mode("overwrite").parquet(s"$dir/files.parquet")
    // small shards over 3 build partitions: boundary drafts get merged too
    IndexBuilder.buildFast(spark, dir, s"$dir/idx", IndexConfig(docsPerShard = 16,
      buildPartitions = 3, positions = true, verifySha = false))
    val pathOf = spark.read.parquet(s"$dir/idx/docs.parquet")
      .select("docId", "path").as[(Long, String)].collect().toMap
    val content = rows.map(r => r.path -> r.content).toMap
    val got = spark.read.parquet(s"$dir/idx/postings.parquet").as[PostingSegP]
      .collect().toSeq.flatMap { s =>
        val docs = Codec.decodeDeltas(s.docBytes, s.n)
        val tfs = Codec.decodeInts(s.tfBytes, s.n)
        val pos = Codec.decodePositions(s.posBytes, tfs)
        val off = Codec.prefixSums(tfs)
        docs.indices.map(i => (s.term, docs(i), tfs(i),
          pos.slice(off(i), off(i + 1)).toSeq))
      }
    val want = pathOf.toSeq.flatMap { case (docId, path) =>
      Tokenize.tokenize(content(path)).zipWithIndex.groupBy(_._1).map {
        case (term, occ) => (term, docId, occ.length, occ.map(_._2).toSeq.sorted)
      }
    }
    // (term, docId) is unique on both sides, so length + set equality is
    // multiset equality
    val (gotSet, wantSet) = (got.toSet, want.toSet)
    if (got.length != want.length || gotSet != wantSet)
      fail(s"${got.length} postings, want ${want.length}; missing " +
        s"${(wantSet -- gotSet).take(3)}, extra ${(gotSet -- wantSet).take(3)}")
  }
}
