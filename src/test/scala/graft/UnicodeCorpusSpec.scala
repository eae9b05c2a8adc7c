package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** r6 verdict #7: every text operator is oracled on the synthetic
  * space-tokenized ASCII corpus — this spec runs the text stack
  * end-to-end over a NON-ASCII, punctuation-bearing corpus (combining
  * marks in composed and decomposed forms, CJK, Arabic RTL, Cyrillic,
  * emoji with surrogate pairs) and pins one invariant per operator that
  * the ASCII gate cannot see. The corpus is deterministic (no I/O): the
  * point is tokenizer/normalizer edge behavior, not scale.
  */
class UnicodeCorpusSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  // doc 1/2: the SAME visible French text, composed vs decomposed —
  //          byte-distinct until NFC, identical after.
  // doc 3:   German + punctuation & quotes.
  // doc 4:   CJK (no spaces inside runs) mixed with latin tokens.
  // doc 5:   Arabic (RTL) with Arabic comma.
  // doc 6:   Cyrillic + emoji (surrogate pairs) + combining mark.
  // doc 7/8: share an exact 10-word boilerplate window (unicode words)
  //          for the chunk-dedup invariant, then diverge.
  private val composed = "le café était déjà plein à côté de l'élève très tôt"
  private val decomposed = java.text.Normalizer.normalize(
    composed, java.text.Normalizer.Form.NFD)
  private val boiler = "политика конфиденциальности応答のページを확인하십시오 merci beaucoup pour votre visite aujourd'hui chers amis"
  private def corpus(): DataFrame = {
    import spark.implicits._
    require(boiler.split(" ").length == 10)
    Seq(
      (1L, composed),
      (2L, decomposed),
      (3L, "die „schnelle“ Übung — größer, weißer; Straße!"),
      (4L, "数据处理 pipeline 正在运行 spark 作业 完成"),
      (5L, "مرحبا بالعالم، هذه وثيقة تجريبية قصيرة"),
      (6L, "привет мир 😀😀 тест ñ done"),
      (7L, boiler + " unique seven tail one"),
      (8L, boiler + " unique eight tail two")
    ).toDF("doc_id", "text")
  }

  private def nfc(df: DataFrame): DataFrame =
    graft.pipeline.Curation.nfcNormalized(df)

  test("t12: NFC is idempotent, unifies composed/decomposed bytes, and leaves ASCII/CJK/RTL intact") {
    val out = nfc(corpus()).orderBy("doc_id").collect().map(_.getString(1))
    val again = nfc(nfc(corpus())).orderBy("doc_id").collect().map(_.getString(1))
    assert(out.sameElements(again), "NFC must be idempotent")
    // the composed/decomposed twins now agree byte-for-byte — this is
    // the property every hash-keyed dedup upstream depends on
    assert(out(0) == out(1))
    assert(out(0) == composed)
    // scripts that are NFC-invariant pass through unchanged
    assert(out(3) == "数据处理 pipeline 正在运行 spark 作业 完成")
    assert(out(4) == "مرحبا بالعالم، هذه وثيقة تجريبية قصيرة")
  }

  test("d01-shape: byte-keyed exact dedup sees the twins ONLY after normalization") {
    val raw = corpus().groupBy(md5(col("text")).as("h"))
      .agg(count(lit(1)).as("c")).filter(col("c") > 1).count()
    assert(raw == 0, "twins are byte-distinct before NFC — corpus broken")
    val normed = nfc(corpus()).groupBy(md5(col("text")).as("h"))
      .agg(count(lit(1)).as("c")).filter(col("c") > 1).count()
    assert(normed == 1, "NFC must unify the composed/decomposed twins")
  }

  test("d03: shingle jaccard finds the normalized twins at 1.0 and misses them un-normalized") {
    val pairsRaw = graft.queries.PipelineOps
      .exactJaccardPairsOf(corpus(), minJ = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(!pairsRaw.contains((1L, 2L)),
      "decomposed shingles must differ bytewise — corpus broken")
    val pairs = graft.queries.PipelineOps
      .exactJaccardPairsOf(nfc(corpus()), minJ = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.contains((1L, 2L, 1.0)),
      s"normalized twins must be an exact-jaccard pair, got ${pairs.toSeq}")
  }

  test("d16: a shared unicode 10-word chunk is dropped from both docs; survivors keep word order") {
    val out = graft.queries.PipelineOps
      .chunkDedupOf(nfc(corpus()), chunkWords = 10)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    // doc 7/8 each lose exactly the boilerplate window; their tails
    // (and only their tails) survive, in order. docs 1/2 are identical
    // -> their single chunk duplicates away entirely (absent from out).
    assert(out(7L) == "unique seven tail one", out.toString)
    assert(out(8L) == "unique eight tail two", out.toString)
    assert(!out.contains(1L) && !out.contains(2L),
      "identical twin docs must dedup away entirely")
    // untouched multilingual docs reassemble to their full text
    assert(out(5L) == "مرحبا بالعالم، هذه وثيقة تجريبية قصيرة")
  }

  test("t14: quality score is total, bounded, deterministic, and token counts match codepoint-aware split") {
    val rows = graft.queries.PipelineOps.qualityScoreOf(nfc(corpus()))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.length == 8)
    rows.foreach { case (id, n, s) =>
      assert(s > 0.0 && s < 1.0, s"doc $id score $s out of (0,1)")
      assert(n >= 1, s"doc $id token count $n")
    }
    val expectedTokens = nfc(corpus()).collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1).length.toLong).toMap
    rows.foreach { case (id, n, _) =>
      assert(n == expectedTokens(id), s"doc $id token count $n != ${expectedTokens(id)}")
    }
    val again = graft.queries.PipelineOps.qualityScoreOf(nfc(corpus()))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.sortBy(_._1).sameElements(again.sortBy(_._1)))
  }

  test("t11: char entropy counts CODEPOINTS - surrogate-pair emoji do not split into broken halves") {
    import spark.implicits._
    // one doc that is ONLY two identical emoji: if split("") broke
    // surrogate pairs it would see 2 distinct broken units with count 2
    // (entropy 1.0); codepoint-aware it sees ONE distinct char,
    // entropy 0
    val df = Seq((1L, "😀😀"), (2L, "ab"))
      .toDF("doc_id", "text")
    val m = graft.queries.PipelineOps.charEntropyOf(df)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(m(1L) == ((1L, 0.0)), s"emoji doc: ${m(1L)} — surrogate pair split?")
    assert(m(2L) == ((2L, 1.0)))
  }

  test("t13: word_pairs yields exactly words-1 adjacent pairs on multilingual text") {
    val n = nfc(corpus())
      .select(col("doc_id"), size(expr("word_pairs(text)")).as("np"),
        (size(split(col("text"), " ")) - 1).as("expect"))
      .collect()
    n.foreach(r => assert(r.getInt(1) == r.getInt(2),
      s"doc ${r.getLong(0)}: ${r.getInt(1)} pairs != ${r.getInt(2)}"))
  }
}
