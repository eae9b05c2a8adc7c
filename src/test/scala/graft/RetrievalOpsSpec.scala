package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Invariants for the retrieval/normalization operators added in round 6
  * (d16 chunk dedup, s07 BM25, s08 random projection, t12 NFC
  * normalize) beyond the DuckDB oracle gate — each test pins a property
  * the hash compare alone would not explain if it broke — plus the
  * plan shapes that must survive 100×.
  */
class RetrievalOpsSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val dir = "/root/testdata/sf0.01"
  private def run(name: String) = SparkEntry.queries(name)(spark, dir)
  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  // ---- d16 chunk dedup -------------------------------------------------

  test("d16: no duplicated chunk survives, survivors reassemble in order") {
    import spark.implicits._
    val docs = Tables.t(spark, dir, "documents")
    // recompute the chunking independently (plain Scala, not the plan
    // under test) and derive the expected survivors
    val chunked = docs.select("doc_id", "text").as[(Long, String)].collect()
      .map { case (id, text) =>
        val w = text.split(" ", -1)
        id -> w.grouped(10).map(_.mkString(" ")).toVector
      }.toMap
    val df = chunked.values.flatten
      .groupBy(identity).map { case (c, o) => c -> o.size }
    val expected = chunked.map { case (id, cs) =>
      id -> cs.filter(c => df(c) == 1)
    }.filter(_._2.nonEmpty)
    val got = run("d16_chunk_dedup").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(got.keySet == expected.keySet.map(_.toLong))
    expected.foreach { case (id, kept) =>
      val (nKept, cleanedMd5) = got(id)
      assert(nKept == kept.size, s"doc $id kept $nKept, expected ${kept.size}")
      val md = java.security.MessageDigest.getInstance("MD5")
      val h = md.digest(kept.mkString(" ").getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
      assert(cleanedMd5 == h, s"doc $id reassembly hash mismatch")
    }
    // the corpus must actually exercise the op
    val dropped = chunked.values.map(_.size).sum - expected.values.map(_.size).sum
    assert(dropped > 0, "corpus has no duplicated chunks: op untested")
  }

  test("d16 plan: equi-joins only, never cartesian, scan in-plan") {
    val plan = planOf(run("d16_chunk_dedup"))
    assert(plan.contains("documents"), "documents scan missing from plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "chunk-df join degenerated to a non-equi join")
  }

  // ---- s07 BM25 --------------------------------------------------------

  test("s07: top-k scores positive, descending, every hit contains a term") {
    val rows = run("s07_bm25_topk").collect()
    assert(rows.length == 20)
    val scores = rows.map(_.getDouble(1))
    assert(scores.forall(_ > 0), "a zero-score doc reached the top 20")
    assert(scores.sameElements(scores.sorted.reverse), "not score-descending")
    // every top doc must actually contain at least one query term
    import spark.implicits._
    val ids = rows.map(_.getLong(0)).toSet
    val texts = Tables.t(spark, dir, "documents")
      .filter(col("doc_id").isin(ids.toSeq: _*))
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    ids.foreach { id =>
      val w = texts(id).split(" ", -1).toSet
      assert(Seq("spark", "join", "vector").exists(w.contains),
        s"top doc $id contains no query term")
    }
  }

  test("idx04: index-served BM25 equals the live s07 scan row-for-row") {
    // same query, same k — the artifact round trip must be invisible
    // in the ranking (and >= k docs match >= 1 term here, the
    // candidates-only precondition the kernel documents)
    val live = run("s07_bm25_topk").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val served = run("idx04_bm25_serve").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(served == live, s"index-served ranking diverged:\n$served\nvs\n$live")
    assert(live.forall(_._2 > 0), "precondition: all top-k docs match a term")
  }

  test("s07: adjacent repeated terms both count (regexp tf is exact)") {
    import spark.implicits._
    val tf = Seq("spark spark spark", "a spark b", "sparkle spark", "spark")
      .toDF("text")
      .select(regexp_count(col("text"), lit("(?<=^| )spark(?= |$)")).as("tf"))
      .as[Int].collect()
    assert(tf.sameElements(Array(3, 1, 1, 1)), tf.mkString(","))
  }

  test("s07: trailing newline does not count as a token boundary (\\z, not $)") {
    import spark.implicits._
    // Java's $ matches before a trailing line terminator, so "… spark\n"
    // would count under $ but not under an exact-token split — the
    // oracle's semantics (r6 advice). The kernel must use \z.
    val docs = Seq((1L, "the spark\n"), (2L, "the spark"), (3L, "spark\njoin"))
      .toDF("doc_id", "text")
    val scores = graft.queries.PipelineOps.bm25TopKOf(docs, Seq("spark"), k = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // doc 1: token is "spark\n", not "spark" -> tf 0 -> score 0
    // doc 3: token is "spark\njoin" -> tf 0
    assert(scores(1L) == 0.0, s"trailing-newline text must not match: $scores")
    assert(scores(3L) == 0.0, s"embedded-newline token must not match: $scores")
    assert(scores(2L) > 0.0)
  }

  test("s07 plan: stats broadcast back, top-k is TakeOrdered (no global sort)") {
    val plan = planOf(run("s07_bm25_topk"))
    assert(plan.contains("TakeOrderedAndProject"),
      "top-k must be TakeOrderedAndProject, not a global sort+limit")
    assert(plan.contains("BroadcastExchange") ||
      plan.contains("BroadcastNestedLoopJoin"),
      "single-row stats must broadcast back to the scoring scan")
    assert(!plan.contains("SortMergeJoin"),
      "scoring join must never sort-merge the corpus against one row")
  }

  // ---- s08 random projection ------------------------------------------

  test("s08: matches an independent driver-side projection, exact") {
    import spark.implicits._
    val emb = Tables.t(spark, dir, "embeddings")
      .select("vec_id", "embedding").as[(Long, Array[Float])].collect().toMap
    // the entry posexplodes the projection to (vec_id, j, pv) scalar
    // rows for the driver comparator — regroup by vec_id in j order
    val got = run("s08_random_projection").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).map { case (id, rs) => id -> rs.sortBy(_._2).map(_._3).toSeq }
    assert(got.size == emb.size)
    // recompute with plain Scala integer accumulation (sign matrix
    // hoisted: it is constant across rows)
    val signs = Array.tabulate(8, 64)((j, i) => graft.queries.PipelineOps.rpSign(i, j))
    emb.foreach { case (id, e) =>
      val proj = (0 until 8).map { j =>
        val acc = (0 until 64).map { i =>
          val q = math.floor(e(i).toDouble * 1e6 + 0.5).toLong
          if (signs(j)(i) > 0) q else -q
        }.sum
        BigDecimal(acc.toDouble / 1e6 / math.sqrt(8))
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      }
      assert(got(id) == proj, s"vec $id projection mismatch")
    }
  }

  test("s08 plan: pure map — no exchange before the output ordering") {
    val plan = planOf(run("s08_random_projection"))
    assert(plan.contains("embeddings"), "embeddings scan missing from plan")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"projection must not shuffle:\n$plan")
    // the KERNEL must never explode the vector; the entry's
    // presentation posexplode (bounded 8 rows/vec, driver-comparator
    // shape) is allowed
    val kplan = planOf(graft.queries.PipelineOps.randomProjectionOf(
      Tables.t(spark, dir, "embeddings")
        .select(org.apache.spark.sql.functions.col("vec_id"),
          org.apache.spark.sql.functions.col("embedding").as("e")),
      inDims = 64, outDims = 8))
    assert(!kplan.contains("Generate"), "projection kernel must not explode the vector")
  }

  test("jl_project: realistic dims (768→64) run without expression blowup; short/null inputs null out") {
    import spark.implicits._
    // the old unrolled literal tree would build ~50k expression nodes
    // here and blow Janino's 64 KB limit (r6 advice); the native loop
    // expression must both analyze instantly and stay codegen'd
    val big = Seq(
      (1L, Array.tabulate(768)(i => (i % 97).toDouble / 100)),
      (2L, Array.tabulate(768)(i => ((i * 31) % 89).toDouble / 100)))
      .toDF("vec_id", "e")
    val out = graft.queries.PipelineOps.randomProjectionOf(big, 768, 64)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(out.size == 2 && out.values.forall(_.length == 64))
    // deterministic: an independent recompute from rpSign agrees
    val e1 = Array.tabulate(768)(i => (i % 97).toDouble / 100)
    val expected0 = {
      val q = e1.map(x => math.floor(x * 1e6 + 0.5).toLong)
      val acc = q.indices.map(i =>
        if (graft.queries.PipelineOps.rpSign(i, 0) > 0) q(i) else -q(i)).sum
      BigDecimal(acc.toDouble / 1e6 / math.sqrt(64))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    assert(out(1L).head == expected0, "768-dim component 0 mismatch vs rpSign truth")
    // element_at semantics preserved: short array or null element -> null proj
    val edge = Seq(
      (1L, Array.fill(64)(0.5).map(Option(_))),
      (2L, Array.fill(63)(0.5).map(Option(_))),
      (3L, Array.fill(64)(0.5).map(Option(_)).updated(7, None)))
      .toDF("vec_id", "e")
    val rows = graft.queries.PipelineOps.randomProjectionOf(edge, 64, 8)
      .collect().map(r => r.getLong(0) -> r.isNullAt(1)).toMap
    assert(!rows(1L), "full vector must project")
    assert(rows(2L), "short vector must null out")
    assert(rows(3L), "null element must null out")
  }

  // ---- t13 BPE pair counts --------------------------------------------

  test("t13: matches an independent driver-side pair count; ties cut by pair") {
    import spark.implicits._
    val texts = Tables.t(spark, dir, "documents")
      .select("text").as[String].collect()
    val counts = scala.collection.mutable.Map[String, Long]()
    texts.foreach { t =>
      val w = t.split(" ", -1)
      var i = 0
      while (i + 1 < w.length) {
        val p = w(i) + " " + w(i + 1)
        counts(p) = counts.getOrElse(p, 0L) + 1
        i += 1
      }
    }
    val expected = counts.toSeq.sortBy { case (p, n) => (-n, p) }.take(20)
    val got = run("t13_bpe_pair_counts").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == expected)
  }

  test("word_pairs: non-distinct, ordered, codegen with no fallback") {
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      import spark.implicits._
      val out = Seq("a b a b", "solo", "", "x y").toDF("t")
        .selectExpr("word_pairs(t) as p").as[Seq[String]].collect()
      assert(out(0) == Seq("a b", "b a", "a b")) // duplicates kept, in order
      assert(out(1).isEmpty && out(2).isEmpty)
      assert(out(3) == Seq("x y"))
    } finally {
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
      spark.conf.set("spark.sql.codegen.fallback", "true")
    }
  }

  // ---- idx01 inverted index -------------------------------------------

  test("idx01: two-phase postings cap is lossless vs the single-phase truth") {
    import spark.implicits._
    val docs = Tables.t(spark, dir, "documents")
      .select("doc_id", "text").as[(Long, String)].collect()
    val postings = scala.collection.mutable.Map[String, List[Long]]()
    docs.foreach { case (id, t) =>
      t.split(" ", -1).distinct.foreach { term =>
        postings(term) = id :: postings.getOrElse(term, Nil)
      }
    }
    val expected = postings.toSeq
      .map { case (t, ids) => (t, ids.size.toLong, ids.sorted.take(20)) }
      .filter(_._2 >= 300).sortBy(_._1)
    // the entry serializes the postings head to a comma-joined string
    // (driver comparator can't sort array cells) — parse it back
    val got = run("idx01_inverted_index").collect()
      .map(r => (r.getString(0), r.getLong(1),
        r.getString(2).split(",").map(_.toLong).toList)).toSeq
    assert(got == expected)
    assert(got.nonEmpty, "df threshold excluded the whole vocabulary: op untested")
    got.foreach { case (t, df, heads) =>
      assert(heads.size == math.min(df, 20L), s"term $t postings head truncated wrong")
    }
  }

  // ---- t12 NFC normalize ----------------------------------------------

  test("t12: composes, reorders, and fast-paths per UAX#15") {
    val rows = run("t12_nfc_normalize").collect()
      .map(r => r.getInt(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(rows(1) == ("caf\u00E9", 4L))        // e + acute -> \u00E9
    assert(rows(2) == ("\u00C5", 1L))             // angstrom -> \u00C5
    assert(rows(3) == ("\u00C4\u0332", 2L))       // compose \u00C4, keep low line
    assert(rows(4) == ("\u0121\u0323", 2L))       // reorder, compose over ccc-220
    assert(rows(5) == ("plain ascii text", 16L)) // identity fast path
    assert(rows(6) == ("\uAC01", 1L))            // jamo -> syllable
  }

  test("t12: null in, null out; idempotent on already-normalized text") {
    import spark.implicits._
    val out = Seq(Option("caf\u00E9"), None).toDF("s")
      .selectExpr("nfc_normalize(s) as n").collect()
    assert(out(0).getString(0) == "caf\u00E9")
    assert(out(1).isNullAt(0))
  }

  test("t12: no interpreted fallback on any shape (CODEGEN_ONLY)") {
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      // non-nullable child (regexp output is non-null string)
      val nn = spark.range(1, 3)
        .selectExpr("nfc_normalize(concat('x', cast(id as string))) as n")
        .collect()
      assert(nn.length == 2 && nn(0).getString(0) == "x1")
      // nullable child
      import spark.implicits._
      val nv = Seq(Option("café"), None).toDF("s")
        .selectExpr("nfc_normalize(s) as n").collect()
      assert(nv(0).getString(0) == "café" && nv(1).isNullAt(0))
    } finally {
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
      spark.conf.set("spark.sql.codegen.fallback", "true")
    }
  }

  // ---- idx02 positional phrase search ------------------------------------

  test("idx02: adjacency corners (overlap, edges, repeats, miss) + corpus recompute") {
    import spark.implicits._
    // crafted corners through the FULL build+serve round trip
    val docs = Seq(
      (1L, "a b a b a"),          // overlapping hits of "a b a" at 0 and 2
      (2L, "slow hash batch end"), // phrase at doc start
      (3L, "x slow hash batch"),   // phrase at doc end
      (4L, "slow hash x slow hash batch"), // near-miss prefix then a hit
      (5L, "batch hash slow"))     // all terms present, wrong order
      .toDF("doc_id", "text")
    val idxDir = java.nio.file.Files.createTempDirectory("graft-idx02-spec").toString
    graft.pipeline.Curation.buildPositionalIndex(docs, idxDir)
    val index = spark.read.parquet(idxDir)
    def hits(phrase: Seq[String]) =
      graft.pipeline.Curation.phraseSearch(index, phrase).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(hits(Seq("a", "b", "a")) == Seq((1L, 2L, 0L)),
      "overlapping occurrences must both count")
    assert(hits(Seq("slow", "hash", "batch")) ==
      Seq((2L, 1L, 0L), (3L, 1L, 1L), (4L, 1L, 3L)),
      "edges hit, wrong order and bare prefix miss")
    assert(hits(Seq("slow")) ==
      Seq((2L, 1L, 0L), (3L, 1L, 1L), (4L, 2L, 0L), (5L, 1L, 2L)),
      "single-term phrase = plain postings lookup")
    assert(hits(Seq("absent", "term")).isEmpty)
    // corpus entry vs plain-Scala recompute
    val corpus = Tables.t(spark, dir, "documents").select("doc_id", "text")
      .as[(Long, String)].collect()
    val expected = corpus.flatMap { case (id, t) =>
      val w = t.split(" ", -1)
      val ps = (0 to w.length - 3).filter(i =>
        w(i) == "slow" && w(i + 1) == "hash" && w(i + 2) == "batch")
      if (ps.isEmpty) None else Some((id, ps.length.toLong, ps.min.toLong))
    }.sortBy(_._1)
    val got = run("idx02_phrase_search").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == expected.toSeq)
    assert(got.map(_._2).sum == 8L && got.length == 5,
      "fixture drift: expected 8 hits across 5 docs")
  }

  test("idx07 index health: catches a lost bucket and a double-append") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.t(spark, "/root/testdata/sf0.01", "documents")
      .select("doc_id", "text")
    val base = java.nio.file.Files.createTempDirectory("idx07spec").toString
    graft.queries.PipelineOps.positionalIndexBuild(docs, base)
    def audit() = graft.queries.PipelineOps
      .indexHealthOf(spark.read.parquet(base)).collect().head
    val clean = audit()
    // the corruption the audit exists for, case 1: a bucket directory
    // lost (partial copy, failed merge) — postings and bucket count
    // must both move
    val victim = new java.io.File(base).listFiles
      .filter(_.getName.startsWith("bucket=")).head
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
    }
    rm(victim)
    val lost = audit()
    assert(lost.getLong(3) == clean.getLong(3) - 1, "bucket loss not visible")
    assert(lost.getLong(1) < clean.getLong(1), "posting loss not visible")
    // case 2: a double-append (the non-idempotent replay idx05/st10
    // guard against) — postings double where terms and docs don't
    graft.queries.PipelineOps.positionalIndexAppend(docs, base)
    val doubled = audit()
    assert(doubled.getLong(1) > clean.getLong(1),
      "double-append not visible in posting count")
    assert(doubled.getLong(2) == clean.getLong(2),
      "doc count should not change under a double-append")
  }

  // ---- idx08 boolean search ------------------------------------------------

  test("idx08: every clause verified against the raw text; crafted corners; fail-loud requires") {
    import spark.implicits._
    import graft.queries.PipelineOps.{booleanSearchOf, positionalIndexBuild}
    // corpus entry: each of the 44 hits really carries both MUST terms
    // and zero 'slow' tokens, and no qualifying doc is missing
    val hits = run("idx08_boolean_search").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val truth = graft.Tables.t(spark, dir, "documents")
      .select(col("doc_id"),
        size(expr("filter(split(text, ' '), x -> x = 'data')")).cast("long").as("a"),
        size(expr("filter(split(text, ' '), x -> x = 'query')")).cast("long").as("b"),
        size(expr("filter(split(text, ' '), x -> x = 'slow')")).cast("long").as("c"))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(hits.size == 44)
    hits.foreach { case (id, n) =>
      val (a, b, c) = truth(id)
      assert(a > 0 && b > 0 && c == 0, s"doc $id violates a clause: a=$a b=$b c=$c")
      assert(n == a + b, s"doc $id n_must_hits $n != tf sum ${a + b}")
    }
    truth.foreach { case (id, (a, b, c)) =>
      if (a > 0 && b > 0 && c == 0)
        assert(hits.contains(id), s"qualifying doc $id missing from the result")
    }
    // crafted corners over a tiny index: AND-only query, NOT killing
    // everything, and a MUST term with zero postings
    val idxDir = java.nio.file.Files.createTempDirectory("graft-idx08-spec").toString
    val docs = Seq(
      (1L, "alpha beta gamma"),
      (2L, "alpha beta beta block"),
      (3L, "alpha gamma")).toDF("doc_id", "text")
    positionalIndexBuild(docs, idxDir)
    val idx = spark.read.parquet(idxDir)
    assert(booleanSearchOf(idx, Seq("alpha", "beta"), Nil).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 2L), (2L, 3L)))
    // NOT subtracting most of the candidates
    assert(booleanSearchOf(idx, Seq("alpha"), Seq("gamma")).collect()
      .map(_.getLong(0)).toSeq == Seq(2L))
    // a MUST term with zero postings empties the conjunction
    assert(booleanSearchOf(idx, Seq("alpha", "zzz"), Nil).collect().isEmpty)
  }

  test("idx08: requires fail loudly — empty MUST, overlapping term sets") {
    import spark.implicits._
    import graft.queries.PipelineOps.{booleanSearchOf, positionalIndexBuild}
    val idxDir = java.nio.file.Files.createTempDirectory("graft-idx08-req").toString
    positionalIndexBuild(Seq((1L, "a b")).toDF("doc_id", "text"), idxDir)
    val idx = spark.read.parquet(idxDir)
    intercept[IllegalArgumentException] {
      booleanSearchOf(idx, Nil, Seq("a"))
    }
    intercept[IllegalArgumentException] {
      booleanSearchOf(idx, Seq("a"), Seq("a"))
    }
  }

  // ---- idx09 snippets --------------------------------------------------------

  test("idx09: spans equal idx06, every snippet carries all terms, crafted edges clamp exactly") {
    import spark.implicits._
    import graft.queries.PipelineOps.{positionalIndexBuild, proximitySnippetsOf}
    // corpus: the snippet layer must not change WHO matches or their span
    val snips = run("idx09_snippets").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val near = run("idx06_proximity_search").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(snips.map(s => (s._1, s._3)).toMap == near,
      "snippet hits/spans diverged from idx06's NEAR result")
    snips.foreach { case (id, start, span, text) =>
      val toks = text.split(" ")
      Seq("slow", "hash", "batch").foreach(t =>
        assert(toks.contains(t), s"doc $id snippet lost term '$t': $text"))
      assert(start >= 0 && span >= 2 && span <= 6, s"doc $id bad span: $start/$span")
    }
    // crafted edges: window at the very start (left pad clamps to the
    // doc head) and at the very end (right pad clamps to the tail)
    val idxDir = java.nio.file.Files.createTempDirectory("graft-idx09-spec").toString
    val docs = Seq(
      (1L, "aa bb cc dd ee ff gg hh"), // middle window
      (2L, "aa bb zz zz zz zz zz zz"), // window at pos 0..1
      (3L, "zz zz zz zz zz zz aa bb")) // window at the tail
      .toDF("doc_id", "text")
    positionalIndexBuild(docs, idxDir)
    val got = proximitySnippetsOf(spark.read.parquet(idxDir), docs,
      Seq("aa", "bb"), window = 3, pad = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3))).toSeq
    assert(got == Seq(
      (1L, 0L, 1L, "aa bb cc dd"),      // left pad clamped at doc head
      (2L, 0L, 1L, "aa bb zz zz"),
      (3L, 6L, 1L, "zz zz aa bb")),     // right pad clamped at doc tail
      s"crafted snippets diverged: $got")
  }

  test("idx09: store-sidecar serve is row-identical to the live-docs form") {
    // the serve path reads the doc-store artifact, never the corpus;
    // the text it slices must be byte-equal to what a live-docs join
    // would have produced — any divergence means the sidecar drifted
    // from the index's corpus (build-time consistency broken)
    import spark.implicits._
    import graft.queries.PipelineOps.{positionalIndexBuild, docStoreBuild,
      proximitySnippetsOf, snippetsServeOf}
    val root = java.nio.file.Files.createTempDirectory("graft-idx09-store").toString
    val docs = Tables.t(spark, dir, "documents").select("doc_id", "text")
    positionalIndexBuild(docs, s"$root/index")
    docStoreBuild(docs, s"$root/store")
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))
    val live = proximitySnippetsOf(spark.read.parquet(s"$root/index"), docs,
      Seq("slow", "hash", "batch"), window = 6, pad = 3)
      .collect().map(key).toSet
    val served = snippetsServeOf(spark, s"$root/index", s"$root/store",
      Seq("slow", "hash", "batch"), window = 6, pad = 3)
      .collect().map(key).toSet
    assert(served.nonEmpty && served == live,
      s"store-served snippets diverged from the live-docs form")
  }

  // ---- idx10 prefix suggest / idx11 fuzzy correct ---------------------------

  test("idx10: suggestions equal corpus truth; crafted ranking, k-cut, empty-prefix corners") {
    import spark.implicits._
    import graft.queries.PipelineOps.{termDictBuild, prefixSuggestOf}
    // corpus entry: every suggestion's (df, cf) must equal an
    // independent recount, and the five rows must be exactly the
    // corpus top-5 for the prefix under (df desc, term asc)
    val got = run("idx10_prefix_suggest").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val truth = Tables.t(spark, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .filter(col("term").startsWith("s"))
      .groupBy("term")
      .agg(countDistinct("doc_id").as("df"), count(lit(1)).as("cf"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got.size == 5 && truth.size > 5,
      "corpus must have more 's' terms than k, or the cut is untested")
    val want = truth.sortBy { case (t, df, _) => (-df, t) }.take(5).toSeq
    assert(got == want, s"suggest diverged from corpus recount: $got vs $want")
    // crafted dictionary: ranking across distinct df, the k cut, a
    // miss prefix, and the fail-loud requires
    val dictDir = java.nio.file.Files.createTempDirectory("graft-idx10-spec").toString
    val docs = Seq(
      (1L, "apple apply ape banana"),
      (2L, "apple ape"),
      (3L, "apple banana")).toDF("doc_id", "text")
    termDictBuild(docs, dictDir)
    // df: apple 3, ape 2, apply 1 — rank order, then cf sanity
    assert(prefixSuggestOf(spark, dictDir, "ap", 10).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq(("apple", 3L, 3L), ("ape", 2L, 2L), ("apply", 1L, 1L)))
    assert(prefixSuggestOf(spark, dictDir, "ap", 2).collect()
      .map(_.getString(0)).toSeq == Seq("apple", "ape"))
    assert(prefixSuggestOf(spark, dictDir, "zz", 3).collect().isEmpty)
    intercept[IllegalArgumentException](prefixSuggestOf(spark, dictDir, "", 3))
    intercept[IllegalArgumentException](prefixSuggestOf(spark, dictDir, "a", 0))
  }

  private def levRef(a: String, b: String): Int = {
    // reference Wagner–Fischer, independent of the plan under test
    val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
      if (i == 0) j else if (j == 0) i else 0)
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }

  test("idx11: every hit is a true dist<=1 pair; the dist-2 shared-variant drill; ranking") {
    import spark.implicits._
    import graft.queries.PipelineOps.{termDictBuild, fuzzyCorrectOf}
    // corpus entry: each (q, term) verified against an independent
    // levenshtein; garbage 'zzz' must surface nothing; rk is dense
    // from 1 within each query under (dist, df desc, term)
    val got = run("idx11_fuzzy_correct").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getInt(3),
        r.getLong(4))).toSeq
    assert(got.nonEmpty && !got.exists(_._1 == "zzz"),
      "garbage query must return no candidates")
    got.foreach { case (q, _, term, dist, _) =>
      assert(levRef(q, term) == dist && dist <= 1,
        s"($q, $term) claims dist $dist, truth ${levRef(q, term)}") }
    got.groupBy(_._1).foreach { case (q, rows) =>
      assert(rows.map(_._2).sorted == (1 to rows.size), s"$q rk not dense")
      val sorted = rows.sortBy { case (_, _, t, dist, df) => (dist, -df, t) }
      assert(rows.sortBy(_._2).map(_._3) == sorted.map(_._3),
        s"$q ranking violates (dist, df desc, term)") }
    // the SymSpell false-positive drill: 'ab' and 'ba' SHARE deletion
    // variants ('a', 'b') so the equi-join surfaces the pair, but
    // plain levenshtein('ab','ba') = 2 (a transposition is two edits)
    // — the exact verify must discard it, returning nothing
    val dictDir = java.nio.file.Files.createTempDirectory("graft-idx11-spec").toString
    val docs = Seq(
      (1L, "ba ba ba"),
      (2L, "cart card ba"),
      (3L, "card")).toDF("doc_id", "text")
    termDictBuild(docs, dictDir)
    val r = fuzzyCorrectOf(spark, dictDir, Seq("ab", "cart", "carx"), 5)
      .collect().map(x => (x.getString(0), x.getInt(1), x.getString(2),
        x.getInt(3), x.getLong(4))).toSeq
    assert(!r.exists(_._1 == "ab"),
      s"dist-2 transposition 'ab'~'ba' survived the exact verify: $r")
    // edit classes: exact hit ranks before the substitution neighbor;
    // df desc breaks the carx tie (card df=2 beats cart df=1)
    assert(r.filter(_._1 == "cart").map(x => (x._2, x._3, x._4)) ==
      Seq((1, "cart", 0), (2, "card", 1)))
    assert(r.filter(_._1 == "carx").map(x => (x._2, x._3, x._4, x._5)) ==
      Seq((1, "card", 1, 2L), (2, "cart", 1, 1L)))
    // fail-loud requires
    intercept[IllegalArgumentException](fuzzyCorrectOf(spark, dictDir, Nil, 3))
    intercept[IllegalArgumentException](
      fuzzyCorrectOf(spark, dictDir, Seq("a", "a"), 3))
    intercept[IllegalArgumentException](
      fuzzyCorrectOf(spark, dictDir, Seq("a"), 0))
  }

  // ---- idx12 index deletes ---------------------------------------------------

  test("idx12: both stages equal idx06 minus the deleted docs; compaction leaves no trace; crafted term vanishes") {
    import spark.implicits._
    import graft.queries.PipelineOps.{positionalIndexBuild, tombstonedIndexOf,
      indexCompactOf, proximitySearchOf}
    val rows = run("idx12_index_delete").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val ts = rows.filter(_._1 == "tombstoned").map(x => (x._2, x._3)).toSet
    val cp = rows.filter(_._1 == "compacted").map(x => (x._2, x._3)).toSet
    assert(ts == cp, "tombstoned and compacted serves diverged")
    val before = run("idx06_proximity_search").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ts == before.filterNot(_._1 % 7 == 0),
      "delete result is not exactly idx06 minus the deleted docs")
    assert(before.exists(_._1 % 7 == 0),
      "no pre-delete hit was actually deleted: the drill is untested")
    // the compacted generation carries zero tombstoned postings
    val root = java.nio.file.Files.createTempDirectory("graft-idx12-spec").toString
    val docs = Seq(
      (7L, "unique slow marker"),      // deleted; sole holder of 'unique'
      (8L, "slow marker common here"),
      (9L, "slow marker also here")).toDF("doc_id", "text")
    positionalIndexBuild(docs, s"$root/g1")
    Seq(7L).toDF("doc_id").write.parquet(s"$root/tomb")
    indexCompactOf(spark, s"$root/g1", s"$root/tomb", s"$root/g2")
    assert(spark.read.parquet(s"$root/g2")
      .filter(col("doc_id") === 7L).count() == 0,
      "compacted generation still carries tombstoned postings")
    // a term whose only holder was deleted vanishes from BOTH stages
    val tsv = proximitySearchOf(tombstonedIndexOf(spark, s"$root/g1",
      s"$root/tomb"), Seq("unique", "slow"), 5).collect()
    val cpv = proximitySearchOf(spark.read.parquet(s"$root/g2"),
      Seq("unique", "slow"), 5).collect()
    assert(tsv.isEmpty && cpv.isEmpty,
      "a term whose sole holder was deleted still serves hits")
    // surviving docs still serve identically at both stages
    val tss = proximitySearchOf(tombstonedIndexOf(spark, s"$root/g1",
        s"$root/tomb"), Seq("slow", "marker"), 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(tss == Set((8L, 1L), (9L, 1L)))
  }

  // ---- p14 composed RAG serve -----------------------------------------------

  test("p14: artifact serve equals the live IVF->MMR->text recompute; previews slice the real docs") {
    import graft.queries.PipelineOps.{ivfTopKOf, mmrFromPoolOf}
    val served = run("p14_rag_serve").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getString(5))).toSeq
    assert(served.size == 50, s"expected 10 queries x 5, got ${served.size}")
    // live recompute: the same pool (IVF probes=2, top-20) and the
    // same MMR stage over the LIVE embeddings — the stored index,
    // postings and doc store must reproduce it bit-for-bit
    val emb = Tables.t(spark, dir, "embeddings")
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("e"))
    val pool = ivfTopKOf(emb,
        emb.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("e").as("qe")),
        k = 20, probes = 2)
      .select(col("qid"), col("nid"),
        floor(col("c") * lit(10000d) + lit(0.5)).cast("long").as("rel"))
    val live = mmrFromPoolOf(emb.select("vec_id", "e"), pool,
        poolK = 20, k = 5, lamTimes10 = 7)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(served.map(x => (x._1, x._2, x._3, x._4, x._5)) == live,
      "stored-artifact serve diverged from the live IVF->MMR recompute")
    // previews really slice the documents' text
    val texts = Tables.t(spark, dir, "documents").select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    served.foreach { case (_, _, docId, _, _, preview) =>
      assert(preview == texts(docId).take(80),
        s"doc $docId preview is not the 80-char text prefix")
      assert(preview.length <= 80)
    }
  }

  // ---- p12 composed search serve -------------------------------------------

  test("p12: ranked serve = boolean candidates sorted by a text-recomputed BM25") {
    val served = run("p12_search_pipeline").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(served.size == 10)
    // every served doc is an idx08 candidate (stage composition holds)
    val cands = run("idx08_boolean_search").collect().map(_.getLong(0)).toSet
    served.foreach { case (id, _) =>
      assert(cands.contains(id), s"served doc $id is not a boolean candidate")
    }
    // independent ground truth: recompute BM25 from the raw text with
    // full-corpus df/n, restrict to the clauses, sort, cut
    val f = graft.Tables.t(spark, dir, "documents")
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("double").as("dl"),
        size(expr("filter(split(text, ' '), x -> x = 'data')")).cast("double").as("tf0"),
        size(expr("filter(split(text, ' '), x -> x = 'query')")).cast("double").as("tf1"),
        size(expr("filter(split(text, ' '), x -> x = 'slow')")).cast("double").as("tfn"))
    val st = f.agg(count(lit(1)).cast("double").as("n"), avg("dl").as("avgdl"),
      sum(when(col("tf0") > 0, 1.0).otherwise(0.0)).as("df0"),
      sum(when(col("tf1") > 0, 1.0).otherwise(0.0)).as("df1"))
    def part(tf: org.apache.spark.sql.Column, df: org.apache.spark.sql.Column) =
      log((col("n") - df + 0.5) / (df + 0.5) + 1) * tf * 2.2 /
        (tf + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl")))
    val truth = f.crossJoin(st)
      .filter(col("tf0") > 0 && col("tf1") > 0 && col("tfn") === 0)
      .select(col("doc_id"),
        round(part(col("tf0"), col("df0")) + part(col("tf1"), col("df1")), 4)
          .as("score"))
      .orderBy(col("score").desc, col("doc_id")).limit(10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(served == truth,
      s"index-served ranking diverged from the text recompute:\n$served\nvs\n$truth")
  }

  // ---- idx06 proximity (NEAR) search --------------------------------------

  test("idx06: unordered window corners + phrase subset + corpus recompute") {
    import spark.implicits._
    val docs = Seq(
      (1L, "slow hash batch end"),        // adjacent in order: span 2
      (2L, "batch x hash y slow"),        // reversed with gaps: span 4
      (3L, "slow x x x x x hash batch"),  // span 7 > window 6: miss
      (4L, "slow hash x slow y batch"),   // min over combos: slow@3,hash@1,batch@5 -> 4 (not the first-occurrence 5)
      (5L, "slow hash nothing"),          // missing term: miss
      (6L, "batch slow hash"))            // any order adjacent: span 2
      .toDF("doc_id", "text")
    val idxDir = java.nio.file.Files.createTempDirectory("graft-idx06-spec").toString
    graft.queries.PipelineOps.positionalIndexBuild(docs, idxDir)
    val index = spark.read.parquet(idxDir)
    val got = graft.queries.PipelineOps.proximitySearchOf(
        index, Seq("slow", "hash", "batch"), window = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((1L, 2L), (2L, 4L), (4L, 4L), (6L, 2L)),
      s"proximity corners wrong: $got")
    // a repeated query term would satisfy itself at one position
    // (span 0 from a single occurrence) — the kernel must refuse it
    intercept[IllegalArgumentException] {
      graft.queries.PipelineOps.proximitySearchOf(
        index, Seq("slow", "slow"), window = 3)
    }
    // every idx02 phrase hit re-qualifies at span = terms-1
    val phraseDocs = run("idx02_phrase_search").collect().map(_.getLong(0)).toSet
    val corpusNear = run("idx06_proximity_search").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(phraseDocs.subsetOf(corpusNear.keySet),
      "a strict phrase hit must qualify under any-order slop")
    phraseDocs.foreach(d => assert(corpusNear(d) == 2L,
      s"phrase doc $d must have min span 2"))
    assert(corpusNear.size > phraseDocs.size,
      "the slop must genuinely widen the hit set")
    // plain-Scala recompute over the corpus
    val corpus = Tables.t(spark, dir, "documents").select("doc_id", "text")
      .as[(Long, String)].collect()
    val expected = corpus.flatMap { case (id, t) =>
      val w = t.split(" ", -1)
      def ps(tm: String) = w.indices.filter(w(_) == tm)
      val spans = for (a <- ps("slow"); b <- ps("hash"); c <- ps("batch"))
        yield Seq(a, b, c).max - Seq(a, b, c).min
      if (spans.isEmpty || spans.min > 6) None else Some(id -> spans.min.toLong)
    }.toMap
    assert(corpusNear == expected)
  }

  test("idx06: a high-tf doc costs O(doc length), not the position cross-product") {
    import spark.implicits._
    // the r9 plan joined raw position streams on doc_id — this doc
    // (each query term 100×) would cross 100³ = 10⁶ combination rows
    // from ONE doc before the span filter; the sliding-window plan
    // folds its 300 merged positions in-row. Correctness pins: the
    // block layout's true minimal span (99→200 = 101), and a second
    // doc with an adjacent pocket that must win over its blocks.
    val blocks = (("slow " * 100) + ("hash " * 100) + ("batch " * 100)).trim
    val pocket = blocks + " x slow hash batch"
    val docs = Seq((1L, blocks), (2L, pocket)).toDF("doc_id", "text")
    val idxDir = java.nio.file.Files.createTempDirectory("graft-idx06-tf").toString
    graft.queries.PipelineOps.positionalIndexBuild(docs, idxDir)
    val got = graft.queries.PipelineOps.proximitySearchOf(
        spark.read.parquet(idxDir), Seq("slow", "hash", "batch"), window = 150)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((1L, 101L), (2L, 2L)), s"high-tf spans wrong: $got")
  }

  // ---- s14 IVF-PQ search --------------------------------------------------

  test("s14: plain-Scala recompute of the whole IVFPQ pipeline matches exactly") {
    import spark.implicits._
    val emb = Tables.t(spark, dir, "embeddings")
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>"))
      .as[(Long, Int, Array[Double])].collect().sortBy(_._1)
    def r9(x: Double) =
      BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    def sqd(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }; s
    }
    // coarse centroids: per-label dim means, 9-decimal pin
    val cents = emb.groupBy(_._2).map { case (l, xs) =>
      l -> Array.tabulate(64)(i => r9(xs.map(_._3(i)).sum / xs.length))
    }
    // codebook: the 16 lowest ids, codeword index = id rank
    val cb = emb.map(_._1).sorted.take(16).zipWithIndex.map { case (id, rk) =>
      rk -> emb.find(_._1 == id).get._3
    }.toMap
    def subv(v: Array[Double], k: Int) = v.slice(k * 8, k * 8 + 8)
    // codes: per (vec, sub) the nearest codeword at 9 decimals, cw-asc ties
    val codes = emb.map { case (id, _, e) =>
      id -> Array.tabulate(8) { k =>
        (0 until 16).map(cw => (r9(sqd(subv(e, k), subv(cb(cw), k))), cw))
          .minBy { case (d, cw) => (d, cw) }._2
      }
    }.toMap
    val queries = emb.filter(_._1 < 10)
    val expected = queries.flatMap { case (qid, _, qe) =>
      val probed = cents.toSeq
        .map { case (l, ce) => (r9(sqd(qe, ce)), l) }.sorted.take(2).map(_._2).toSet
      val dt = Array.tabulate(8, 16) { (k, cw) =>
        math.floor(sqd(subv(qe, k), subv(cb(cw), k)) * 1000000 + 0.5).toLong }
      emb.filter { case (nid, l, _) => probed(l) && nid != qid }
        .map { case (nid, _, _) =>
          (nid, codes(nid).zipWithIndex.map { case (cw, k) => dt(k)(cw) }.sum) }
        .sortBy { case (nid, adc) => (adc, nid) }.take(5).zipWithIndex
        .map { case ((nid, adc), i) => (qid, i + 1, nid, adc) }
    }
    val got = run("s14_ivfpq_search").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == expected.toSeq)
  }

  test("s15: ADC shortlist + exact re-rank matches a plain-Scala recompute") {
    import spark.implicits._
    val emb = Tables.t(spark, dir, "embeddings")
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>"))
      .as[(Long, Int, Array[Double])].collect().sortBy(_._1)
    def r9(x: Double) =
      BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    def sqd(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }; s
    }
    val embMap = emb.map(e => e._1 -> e._3).toMap
    val cents = emb.groupBy(_._2).map { case (l, xs) =>
      l -> Array.tabulate(64)(i => r9(xs.map(_._3(i)).sum / xs.length))
    }
    val cb = emb.map(_._1).sorted.take(16).zipWithIndex.map { case (id, rk) =>
      rk -> embMap(id)
    }.toMap
    def subv(v: Array[Double], k: Int) = v.slice(k * 8, k * 8 + 8)
    val codes = emb.map { case (id, _, e) =>
      id -> Array.tabulate(8) { k =>
        (0 until 16).map(cw => (r9(sqd(subv(e, k), subv(cb(cw), k))), cw))
          .minBy { case (d, cw) => (d, cw) }._2
      }
    }.toMap
    val queries = emb.filter(_._1 < 10)
    val expected = queries.flatMap { case (qid, _, qe) =>
      val probed = cents.toSeq
        .map { case (l, ce) => (r9(sqd(qe, ce)), l) }.sorted.take(2).map(_._2).toSet
      val dt = Array.tabulate(8, 16) { (k, cw) =>
        math.floor(sqd(subv(qe, k), subv(cb(cw), k)) * 1000000 + 0.5).toLong }
      val shortlist = emb.filter { case (nid, l, _) => probed(l) && nid != qid }
        .map { case (nid, _, _) =>
          (nid, codes(nid).zipWithIndex.map { case (cw, k) => dt(k)(cw) }.sum) }
        .sortBy { case (nid, adc) => (adc, nid) }.take(20).map(_._1)
      shortlist.map(nid => (nid, r9(sqd(qe, embMap(nid)))))
        .sortBy { case (nid, d) => (d, nid) }.take(5).zipWithIndex
        .map { case ((nid, d), i) => (qid, i + 1, nid, d) }
    }
    val got = run("s15_pq_rerank").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == expected.toSeq)
  }

  test("s15 plan: shortlist broadcasts onto the vector fetch, no corpus shuffle join") {
    val df = run("s15_pq_rerank")
    val plan = planOf(df)
    assert(plan.contains("BroadcastHashJoin"),
      "shortlist / query frames must broadcast onto the vector table")
    assert(!plan.contains("SortMergeJoin"),
      s"refine must not shuffle the corpus to fetch kShort vectors:\n$plan")
    assert(!plan.contains("CartesianProduct"), "unexpected cartesian")
  }

  test("s17: merged-artifact probe equals a live recompute; batch vectors become searchable") {
    import spark.implicits._
    val emb = Tables.t(spark, dir, "embeddings")
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>"))
      .as[(Long, Int, Array[Double])].collect().sortBy(_._1)
    def rd(x: Double, p: Int) =
      BigDecimal(x).setScale(p, BigDecimal.RoundingMode.HALF_UP).toDouble
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val corpus = emb.filter(_._1 % 17 != 3)
    val batch = emb.filter(_._1 % 17 == 3)
    val cents = corpus.groupBy(_._2).map { case (l, xs) =>
      l -> Array.tabulate(64)(i => xs.map(_._3(i)).sum / xs.length)
    }.toSeq.sortBy(_._1)
    // stale-centroid assignment: max rounded cosine, label-asc ties
    val assigned = batch.map { case (id, _, e) =>
      val l = cents.map { case (cl, ce) => (-rd(cos(e, ce), 6), cl) }.min._2
      (id, l, e)
    }
    val merged = corpus ++ assigned
    val expected = corpus.filter(_._1 < 10).flatMap { case (qid, _, qe) =>
      val probed = cents.map { case (cl, ce) => (-rd(cos(qe, ce), 6), cl) }
        .sorted.take(2).map(_._2).toSet
      merged.filter { case (nid, l, _) => probed(l) && nid != qid }
        .map { case (nid, _, e) => (nid, rd(cos(qe, e), 4)) }
        .sortBy { case (nid, c) => (-c, nid) }.take(5).zipWithIndex
        .map { case ((nid, c), i) => (qid, i + 1, nid, c) }
    }
    val got = run("s17_ivf_incremental").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == expected.toSeq,
      s"${got.take(6).toSeq} vs ${expected.take(6)}")
    // the point of the op: appended vectors are served without a rebuild
    assert(got.exists(_._3 % 17 == 3),
      "no batch vector reached a served top-5 — the append is vacuous")
  }

  test("s16: per-label outlier cut matches a plain-Scala centroid+quantile recompute") {
    import spark.implicits._
    val emb = Tables.t(spark, dir, "embeddings")
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>"))
      .as[(Long, Int, Array[Double])].collect()
    def rd(x: Double, p: Int) =
      BigDecimal(x).setScale(p, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expected = emb.groupBy(_._2).map { case (l, xs) =>
      val ce = Array.tabulate(64)(i => rd(xs.map(_._3(i)).sum / xs.length, 9))
      val ds = xs.map { case (id, _, e) =>
        var s = 0.0; var i = 0
        while (i < 64) { val d = e(i) - ce(i); s += d * d; i += 1 }
        (id, rd(s, 6))
      }
      val p95 = rd(graft.exprs.Boxplot.quantileCont(
        ds.map(_._2).sorted.toIndexedSeq, 0.95), 6)
      val out = ds.filter(_._2 > p95)
      l -> (xs.length.toLong, p95, out.length.toLong, out.map(_._1).sum,
        rd(ds.map(_._2).max, 6))
    }
    val got = run("s16_embedding_outliers").collect().map(r =>
      r.getInt(0) -> (r.getLong(1), r.getDouble(2), r.getLong(3), r.getLong(4),
        r.getDouble(5))).toMap
    assert(got == expected, s"$got\nvs\n$expected")
    assert(got.values.forall(_._3 > 0), "every label should have p95 outliers")
  }

  test("s16 plan: broadcast centroid/threshold joins, windowless partial-agg rollup") {
    val df = run("s16_embedding_outliers")
    val plan = planOf(df)
    assert(!plan.contains("Window"), s"outlier cut must not window:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), s"non-equi join:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"centroids/thresholds must broadcast onto the vector pass:\n$plan")
    assert(plan.contains("partial_percentile") || plan.contains("percentile"),
      s"per-label p95 not the partial-aggregable percentile:\n$plan")
  }

  test("s14 plan: broadcast ADC/candidate joins, code stream never sort-merges") {
    val df = run("s14_ivfpq_search")
    val plan = planOf(df)
    assert(plan.contains("BroadcastHashJoin"),
      "ADC table / candidate pairs must broadcast onto the code stream")
    assert(!plan.contains("SortMergeJoin"),
      s"code stream must not shuffle to be scored:\n$plan")
    assert(!plan.contains("CartesianProduct"), "unexpected cartesian")
  }

  // ---- s13 hybrid RRF ---------------------------------------------------

  test("s13: plain-Scala recompute of both rankings and the fusion matches exactly") {
    import spark.implicits._
    val docs = Tables.t(spark, dir, "documents")
      .select("doc_id", "text").as[(Long, String)].collect()
    val emb = Tables.t(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Array[Double])].collect()
    def round4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    // dense: rounded cosine top-20 per query, nid-asc tiebreak
    val qs = emb.filter(_._1 < 8)
    def norm(v: Array[Double]) = math.sqrt(v.map(x => x * x).sum)
    val dense = qs.map { case (qid, qe) =>
      val qn = norm(qe)
      val ranked = emb.filter(_._1 != qid).map { case (nid, e) =>
        (nid, round4(qe.zip(e).map { case (a, b) => a * b }.sum / (qn * norm(e))))
      }.sortBy { case (nid, c) => (-c, nid) }.take(20).zipWithIndex
        .map { case ((nid, _), i) => nid -> (i + 1) }.toMap
      qid -> ranked
    }.toMap
    // lexical: distinct-token jaccard top-20 per query
    val tokSets = docs.map { case (id, t) => id -> t.split(" ", -1).distinct.toSet }.toMap
    val lex = qs.map(_._1).map { qid =>
      val qt = tokSets(qid)
      val ranked = tokSets.iterator
        .filter { case (nid, ts) => nid != qid && (qt & ts).nonEmpty }
        .map { case (nid, ts) =>
          (nid, (qt & ts).size.toDouble / (qt | ts).size) }
        .toArray.sortBy { case (nid, j) => (-j, nid) }.take(20).zipWithIndex
        .map { case ((nid, _), i) => nid -> (i + 1) }.toMap
      qid -> ranked
    }.toMap
    // fuse: micro-unit RRF, top-10 per query
    val expected = qs.map(_._1).sorted.flatMap { qid =>
      val cands = (dense(qid).keySet ++ lex(qid).keySet).toArray
      val scored = cands.map { nid =>
        val rrf = dense(qid).get(nid).map(r => 1.0 / (60 + r)).getOrElse(0.0) +
          lex(qid).get(nid).map(r => 1.0 / (60 + r)).getOrElse(0.0)
        (nid, math.floor(rrf * 1000000 + 0.5).toLong,
          dense(qid).contains(nid), lex(qid).contains(nid))
      }.sortBy { case (nid, m, _, _) => (-m, nid) }.take(10).zipWithIndex
      scored.map { case ((nid, m, ind, inl), i) =>
        (qid, i + 1, nid, m, if (ind) 1 else 0, if (inl) 1 else 0) }
    }
    val got = run("s13_hybrid_rrf").collect().map(r =>
      (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getInt(4), r.getInt(5)))
    assert(got.toSeq == expected.toSeq)
    // the fusion must be a real blend on this corpus: some fused doc
    // must come from only one system in each direction
    assert(got.exists(r => r._5 == 1 && r._6 == 0), "no dense-only doc fused")
    assert(got.exists(r => r._5 == 0 && r._6 == 1), "no lexical-only doc fused")
    assert(got.exists(r => r._5 == 1 && r._6 == 1), "no doc retrieved by both")
  }

  // ---- idx13 MaxScore safe pruning -------------------------------------------

  test("idx13: pruned top-k IS the exhaustive ranking; the certificate accounts for every candidate; bounds are strict") {
    import graft.queries.PipelineOps.{positionalIndexBuild, docLengthBuild,
      impactSidecarBuild, maxScoreServeOf, bm25TermScans, bm25ScoresOf}
    val root = java.nio.file.Files.createTempDirectory("graft-idx13-spec").toString
    val docs = Tables.t(spark, dir, "documents").select("doc_id", "text")
    positionalIndexBuild(docs, s"$root/index")
    docLengthBuild(docs, s"$root/doclen")
    impactSidecarBuild(spark.read.parquet(s"$root/index"),
      spark.read.parquet(s"$root/doclen"), s"$root/impact")
    val index = spark.read.parquet(s"$root/index")
    val doclen = spark.read.parquet(s"$root/doclen")
    // safety over varied term-impact mixes: one rare + frequent terms
    // (the entry's shape), all-frequent, and a two-term pair
    for (terms <- Seq(Seq("dup", "vector", "sort"),
        Seq("data", "table", "query"), Seq("scan", "join"))) {
      val got = maxScoreServeOf(spark, s"$root/index", s"$root/doclen",
        s"$root/impact", terms, k = 10).collect()
      val tfs = bm25TermScans(index, terms)
      val cands = tfs.map(_.select("doc_id")).reduce(_ unionByName _).distinct()
      val exhaustive = bm25ScoresOf(tfs, doclen, cands, 1.2, 0.75)
        .orderBy(col("score").desc, col("doc_id")).limit(10).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(got.map(r => (r.getLong(0), r.getDouble(1))).toSeq == exhaustive,
        s"pruned serve diverged from the exhaustive ranking for $terms")
      // the certificate accounts for EVERY candidate exactly once
      val (nScored, nPruned) = (got.head.getLong(2), got.head.getLong(3))
      assert(nScored + nPruned == cands.count(),
        s"certificate does not partition the candidate set for $terms")
    }
    // pruning is actually exercised on the entry's query
    val entry = maxScoreServeOf(spark, s"$root/index", s"$root/doclen",
      s"$root/impact", Seq("dup", "vector", "sort"), k = 10).collect()
    assert(entry.head.getLong(3) > 0, "no candidate was pruned: op untested")
    // sidecar strictness: no single doc's one-term score exceeds its
    // term's stored bound (the property that makes skipping SAFE)
    val impact = spark.read.parquet(s"$root/impact").collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    for (tm <- Seq("dup", "vector", "sort")) {
      val tf = bm25TermScans(index, Seq(tm))
      val mx = bm25ScoresOf(tf, doclen, tf.head.select("doc_id"), 1.2, 0.75)
        .agg(max("score")).head().getDouble(0)
      assert(math.round(mx * 10000) <= impact(tm),
        s"'$tm' contribution ${mx} exceeds its sidecar bound ${impact(tm)}")
    }
    // fail-loud requires
    intercept[IllegalArgumentException](maxScoreServeOf(spark,
      s"$root/index", s"$root/doclen", s"$root/impact", Seq("dup"), 5))
    intercept[IllegalArgumentException](maxScoreServeOf(spark,
      s"$root/index", s"$root/doclen", s"$root/impact", Seq("dup", "dup"), 5))
    intercept[IllegalArgumentException](maxScoreServeOf(spark,
      s"$root/index", s"$root/doclen", s"$root/impact",
      Seq("dup", "zzzzabsent"), 5))
  }

  test("idx13 under-fill: fewer phase-1 hits than k disables pruning and still serves the exact ranking") {
    import spark.implicits._
    import graft.queries.PipelineOps.{positionalIndexBuild, docLengthBuild,
      impactSidecarBuild, maxScoreServeOf, bm25TermScans, bm25ScoresOf}
    // theta = 0 when phase 1 cannot fill k: every other-term doc must
    // survive the bound check and score — the correctness edge of the
    // threshold rule (a wrong theta here silently drops results)
    val root = java.nio.file.Files.createTempDirectory("graft-idx13-uf").toString
    val docs = Seq((1L, "alpha beta"), (2L, "alpha"),
      (3L, "beta beta beta"), (4L, "gamma")).toDF("doc_id", "text")
    positionalIndexBuild(docs, s"$root/index")
    docLengthBuild(docs, s"$root/doclen")
    impactSidecarBuild(spark.read.parquet(s"$root/index"),
      spark.read.parquet(s"$root/doclen"), s"$root/impact")
    val got = maxScoreServeOf(spark, s"$root/index", s"$root/doclen",
      s"$root/impact", Seq("alpha", "beta"), k = 5).collect()
    val index = spark.read.parquet(s"$root/index")
    val tfs = bm25TermScans(index, Seq("alpha", "beta"))
    val cands = tfs.map(_.select("doc_id")).reduce(_ unionByName _).distinct()
    val exhaustive = bm25ScoresOf(tfs,
        spark.read.parquet(s"$root/doclen"), cands, 1.2, 0.75)
      .orderBy(col("score").desc, col("doc_id")).limit(5).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got.map(r => (r.getLong(0), r.getDouble(1))).toSeq == exhaustive)
    assert(got.length == 3 && got.head.getLong(3) == 0,
      "under-filled phase 1 must disable pruning (theta = 0)")
  }

  // ---- p15 incremental refresh ----------------------------------------------

  test("p15: card partitions the batch; stages agree with the standalone operators; the written generation is exactly the kept set") {
    import graft.queries.PipelineOps.{incrementalRefreshOf,
      qualityModelPersist, qualityModelLoad, trainedQualityScoreOf}
    val card = run("p15_incremental_refresh").collect().head
    val (nBatch, nDup, nLowq, nKept, keptTok, postings, checksum) =
      (card.getLong(0), card.getLong(1), card.getLong(2), card.getLong(3),
        card.getLong(4), card.getLong(5), card.getLong(6))
    // the three gates partition the batch exactly
    assert(nDup + nLowq + nKept == nBatch,
      s"card does not partition the batch: $nDup+$nLowq+$nKept != $nBatch")
    assert(nDup > 0 && nLowq > 0 && nKept > 0,
      "a stage dropped nothing: the composition is untested")
    // round-trip certificate: the written generation's postings count
    // equals the kept token mass
    assert(postings == keptTok,
      s"index write lost postings: $postings != $keptTok")
    // stage 1 agrees with d14 (same split, same threshold): the dup
    // drops are exactly d14's distinct batch-side ids
    val d14b = run("d14_incremental_dedup").collect()
      .map(_.getLong(0)).distinct.length
    assert(nDup == d14b, s"dup stage diverged from d14: $nDup != $d14b")
    // stage 2+3 replay: rebuild via the kernel into a fresh dir; the
    // card matches and the generation holds exactly the kept docs
    val docs = Tables.t(spark, dir, "documents")
    val mdir = java.nio.file.Files.createTempDirectory("graft-p15-m").toString
    qualityModelPersist(docs, lr = 2.0, iters = 8, mdir)
    val w = qualityModelLoad(spark, mdir)
    val gen2 = java.nio.file.Files.createTempDirectory("graft-p15-g").toString
    val batch = docs.filter(col("doc_id") % 7 === 3)
    val replay = incrementalRefreshOf(batch,
      docs.filter(col("doc_id") % 7 =!= 3), w, gen2).collect().head
    assert(replay.toSeq == card.toSeq,
      s"kernel replay diverged from the entry: ${replay.toSeq} vs ${card.toSeq}")
    val written = spark.read.parquet(gen2).select("doc_id").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(written.size.toLong == nKept && written.map(identity).sum == checksum,
      "the written generation is not exactly the admitted set")
    // every admitted doc really clears the stored-model boundary
    val scores = trainedQualityScoreOf(batch, w)
      .select("doc_id", "s").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(written.forall(id => scores(id) >= 0L),
      "an admitted doc scores below the model boundary")
  }

  // ---- idx16 index freshness -------------------------------------------------

  test("idx16: clean index audits clean; crafted defects found exactly; entry checksums match the perturbation predicates") {
    import spark.implicits._
    import graft.queries.PipelineOps.{positionalIndexBuild, indexFreshnessOf}
    val root = java.nio.file.Files.createTempDirectory("graft-idx16-spec").toString
    // false-positive check: a healthy build must audit with zero
    // defects — otherwise every real alert is noise
    val docs = Tables.t(spark, dir, "documents").select("doc_id", "text")
    positionalIndexBuild(docs, s"$root/clean")
    val clean = indexFreshnessOf(docs, spark.read.parquet(s"$root/clean"))
      .collect().head
    assert(clean.getLong(0) == clean.getLong(1) &&
      clean.getLong(2) == 0 && clean.getLong(3) == 0 && clean.getLong(4) == 0,
      s"healthy index audited dirty: ${clean.toSeq}")
    // crafted defects: doc 1 unindexed, ghost 99, doc 3 truncated
    positionalIndexBuild(Seq((2L, "alpha beta"), (3L, "one two three"),
      (99L, "ghost words here")).toDF("doc_id", "text"), s"$root/full")
    spark.read.parquet(s"$root/full")
      .filter(!(col("doc_id") === 3L && col("pos") >= 2))
      .write.mode("overwrite").partitionBy("bucket").parquet(s"$root/bad")
    val got = indexFreshnessOf(
      Seq((1L, "solo doc"), (2L, "alpha beta"), (3L, "one two three"))
        .toDF("doc_id", "text"),
      spark.read.parquet(s"$root/bad")).collect().head
    assert(got.toSeq == Seq(3L, 3L, 1L, 1L, 1L, 1L, 99L),
      s"crafted defects not found exactly: ${got.toSeq}")
    // the entry's checksums identify exactly the perturbed id sets
    val row = run("idx16_index_freshness").collect().head
    val ids = docs.select("doc_id").collect().map(_.getLong(0))
    assert(row.getLong(5) == ids.filter(_ % 11 == 7).sum,
      "missing checksum != the skipped-build id set")
    assert(row.getLong(6) == ids.filter(_ % 13 == 2).map(_ + 10000000L).sum,
      "ghost checksum != the shifted-id set")
    assert(row.getLong(4) > 0, "no length mismatch found: truncation inert")
  }

  // ---- idx15 document updates ------------------------------------------------

  test("idx15: gen-scoped update == fresh build of the edited corpus; stale postings invisible; doc-id tombstone would over-kill") {
    import spark.implicits._
    import graft.queries.PipelineOps.{positionalIndexBuild,
      updatedIndexViewOf, proximitySearchOf}
    val root = java.nio.file.Files.createTempDirectory("graft-idx15-spec").toString
    val docs = Seq((1L, "alpha old beta"), (2L, "alpha beta"))
      .toDF("doc_id", "text")
    positionalIndexBuild(docs, s"$root/gen1")
    val upd = Seq((1L, "alpha new beta")).toDF("doc_id", "text")
    positionalIndexBuild(upd, s"$root/gen2")
    Seq((1L, 2L)).toDF("doc_id", "asof_gen").write.parquet(s"$root/tomb")
    val view = updatedIndexViewOf(spark,
      Seq(s"$root/gen1", s"$root/gen2"), s"$root/tomb")
    def hits(ix: org.apache.spark.sql.DataFrame, ts: Seq[String], w: Int) =
      proximitySearchOf(ix, ts, w).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
    // the doc's OLD content no longer serves; its NEW content does
    assert(hits(view, Seq("old", "beta"), 5).isEmpty,
      "a stale gen-1 posting of an updated doc still serves")
    assert(hits(view, Seq("new", "beta"), 5) == Seq((1L, 1L)),
      "the updated doc's gen-2 content does not serve")
    // the view answers exactly what a fresh build of the edited
    // corpus answers — the whole update contract
    val edited = Seq((1L, "alpha new beta"), (2L, "alpha beta"))
      .toDF("doc_id", "text")
    positionalIndexBuild(edited, s"$root/fresh")
    val fresh = spark.read.parquet(s"$root/fresh")
    for ((ts, w) <- Seq((Seq("alpha", "beta"), 5), (Seq("new", "beta"), 5)))
      assert(hits(view, ts, w) == hits(fresh, ts, w),
        s"view diverged from the fresh-build serve for $ts")
    // the drill: idx12's bare doc_id tombstone over the unioned
    // generations kills the NEW postings too — the reason the
    // tombstone must be generation-scoped
    val naive = spark.read.parquet(s"$root/gen1")
      .unionByName(spark.read.parquet(s"$root/gen2"))
      .join(Seq(1L).toDF("doc_id"), Seq("doc_id"), "left_anti")
    assert(hits(naive, Seq("alpha", "beta"), 5) !=
      hits(fresh, Seq("alpha", "beta"), 5),
      "bare doc-id tombstone coincided with the update serve: drill inert")
    // serve plan: broadcast tombstone join, term scans stay pruned in
    // EVERY generation
    val plan = planOf(proximitySearchOf(view, Seq("alpha", "beta"), 5))
    assert(plan.contains("BroadcastHashJoin"),
      s"tombstones lost their broadcast join:\n$plan")
    val pruned = "PartitionFilters: \\[[^\\]]*bucket[^\\]]*\\]".r
      .findAllIn(plan).size
    assert(pruned >= 4, // 2 terms x 2 generations
      s"expected >=4 bucket-pruned generation scans, saw $pruned:\n$plan")
    intercept[IllegalArgumentException](
      updatedIndexViewOf(spark, Nil, s"$root/tomb"))
    intercept[IllegalArgumentException](updatedIndexViewOf(spark,
      Seq(s"$root/gen1", s"$root/gen1"), s"$root/tomb"))
    // a doc updated TWICE (tombstone rows (1,2) and (1,3)): only the
    // newest generation may serve, with no duplicated postings — the
    // raw-tombstone join would both resurrect gen-2 content and emit
    // gen-3 postings twice (self-review regression)
    positionalIndexBuild(Seq((1L, "alpha newest beta"))
      .toDF("doc_id", "text"), s"$root/gen3")
    Seq((1L, 2L), (1L, 3L)).toDF("doc_id", "asof_gen")
      .write.parquet(s"$root/tomb2")
    val v3 = updatedIndexViewOf(spark,
      Seq(s"$root/gen1", s"$root/gen2", s"$root/gen3"), s"$root/tomb2")
    assert(hits(v3, Seq("new", "beta"), 5).isEmpty,
      "a twice-updated doc's middle generation still serves")
    assert(hits(v3, Seq("newest", "beta"), 5) == Seq((1L, 1L)))
    assert(v3.filter(col("doc_id") === 1L).count() == 3,
      "multi-row tombstones duplicated the newest generation's postings")
  }

  // ---- idx14 federated multi-segment serve -----------------------------------

  test("idx14: federated serve == single merged build; naive local-idf shard scoring diverges; segment scans stay pruned") {
    import graft.queries.PipelineOps.{positionalIndexBuild, docLengthBuild,
      bm25ServeFromIndex, federatedBm25TopKOf}
    val root = java.nio.file.Files.createTempDirectory("graft-idx14-spec").toString
    val docs = Tables.t(spark, dir, "documents").select("doc_id", "text")
    for (g <- 0 to 2) {
      val slice = docs.filter(col("doc_id") % 3 === g)
      positionalIndexBuild(slice, s"$root/g$g/index")
      docLengthBuild(slice, s"$root/g$g/doclen")
    }
    positionalIndexBuild(docs, s"$root/full/index")
    docLengthBuild(docs, s"$root/full/doclen")
    val terms = Seq("merge", "filter", "stream")
    val fed = federatedBm25TopKOf(spark, (0 to 2).map(g => s"$root/g$g"),
      terms, k = 15).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val single = bm25ServeFromIndex(
      spark.read.parquet(s"$root/full/index"),
      spark.read.parquet(s"$root/full/doclen"), terms, k = 15)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(fed == single,
      "federated serve diverged from the single merged-build serve")
    // the drill: the classic distributed-IR bug — score each segment
    // with its LOCAL idf, merge by score — must NOT equal the truth
    // (if it did, the global-stats correction would be dead code)
    val naive = (0 to 2).flatMap { g =>
      bm25ServeFromIndex(spark.read.parquet(s"$root/g$g/index"),
        spark.read.parquet(s"$root/g$g/doclen"), terms, k = 15).collect()
        .map(r => (r.getLong(0), r.getDouble(1)))
    }.sortBy { case (id, sc) => (-sc, id) }.take(15)
    assert(naive != single,
      "local-idf shard scoring coincided with global scoring: drill inert")
    // plan: every segment's term scan keeps its bucket PartitionFilter
    // + pushed term predicate under the Union — federation never
    // degrades to an unpruned index scan
    val plan = planOf(federatedBm25TopKOf(spark,
      (0 to 2).map(g => s"$root/g$g"), terms, k = 15))
    val scans = "PartitionFilters: \\[[^\\]]*bucket[^\\]]*\\]".r
      .findAllIn(plan).size
    assert(scans >= 9, // 3 segments x 3 terms
      s"expected >=9 bucket-pruned segment scans, saw $scans:\n$plan")
    assert(plan.contains("PushedFilters: [IsNotNull(term), EqualTo(term,"),
      s"term predicate no longer pushes to the segment scans:\n$plan")
    intercept[IllegalArgumentException](
      federatedBm25TopKOf(spark, Nil, terms, 5))
    intercept[IllegalArgumentException](federatedBm25TopKOf(spark,
      Seq(s"$root/g0", s"$root/g0"), terms, 5))
  }

  // ---- s26 vector deletes ----------------------------------------------------

  test("s26: tombstoned == compacted == stale-centroid purged recompute; deleted vectors vanish from serving") {
    val rows = run("s26_vector_delete").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2), r.getLong(3),
        r.getDouble(4)))
    val ts = rows.filter(_._1 == "tombstoned")
      .map(x => (x._2, x._3, x._4, x._5)).toSet
    val cp = rows.filter(_._1 == "compacted")
      .map(x => (x._2, x._3, x._4, x._5)).toSet
    assert(ts == cp, "tombstoned and compacted probes diverged")
    // independent replay: probe the LIVE embeddings minus the deleted
    // ids under the SAME stale full-corpus centroids (deletion changes
    // who is served, never how cells are probed)
    import graft.queries.PipelineOps.ivfProbeOf
    val emb = Tables.t(spark, dir, "embeddings")
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("e"))
    val cent = emb.select(col("label"), posexplode(col("e")).as(Seq("dim", "v")))
      .groupBy("label", "dim").agg(avg("v").as("v"))
      .groupBy("label")
      .agg(array_sort(collect_list(struct(col("dim"), col("v")))).as("pv"))
      .select(col("label").as("clabel"), expr("transform(pv, x -> x.v)").as("ce"))
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("e").as("qe"))
    val purged = ivfProbeOf(cent, emb.filter(col("vec_id") % 7 =!= 2),
        queries, k = 5, probes = 2).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    assert(ts == purged, "delete stages diverged from the purged recompute")
    // no tombstoned vector is served, and the drill is real: the
    // pre-delete probe DID serve some now-deleted neighbors
    assert(ts.forall(_._3 % 7 != 2), "a tombstoned vector was served")
    val before = ivfProbeOf(cent, emb, queries, k = 5, probes = 2).collect()
      .map(_.getLong(2))
    assert(before.exists(_ % 7 == 2),
      "no pre-delete result was actually deleted: the drill is untested")
  }

  test("s28: update == re-embed + re-quantize replay; old vector stops serving; lazy relabeling would diverge") {
    import spark.implicits._
    import graft.queries.PipelineOps.{reassignToCentroidsOf,
      generationViewOf, ivfProbeOf}
    // crafted re-quantization: v2 re-embeds from cell 0's direction to
    // cell 1's — it must land in cell 1, not keep its stale label
    val cent = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0)))
      .toDF("clabel", "ce")
    val re = reassignToCentroidsOf(
      Seq((2L, Seq(0.1, 0.9))).toDF("vec_id", "e"), cent).collect()
    assert(re.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((2L, 1L)),
      "re-embedded vector did not re-quantize to its nearest centroid")
    // entry vs a live replay: re-embed (reverse), re-quantize against
    // the stale centroids, probe — the artifacts must serve exactly it
    val emb = Tables.t(spark, dir, "embeddings")
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("e"))
    val cents = emb.select(col("label"), posexplode(col("e")).as(Seq("dim", "v")))
      .groupBy("label", "dim").agg(avg("v").as("v"))
      .groupBy("label")
      .agg(array_sort(collect_list(struct(col("dim"), col("v")))).as("pv"))
      .select(col("label").as("clabel"), expr("transform(pv, x -> x.v)").as("ce"))
    val updated = reassignToCentroidsOf(
      emb.filter(col("vec_id") % 9 === 4)
        .select(col("vec_id"), reverse(col("e")).as("e")), cents)
    val relab = emb.filter(col("vec_id") % 9 =!= 4)
      .select("vec_id", "label", "e")
      .unionByName(updated.select("vec_id", "label", "e"))
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("e").as("qe"))
    val live = ivfProbeOf(cents, relab, queries, k = 5, probes = 2)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val served = run("s28_vector_update").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(served == live, "artifact serve diverged from the live replay")
    // the drill: keeping updated vectors in their OLD cells (lazy
    // relabeling) must diverge — re-quantization is load-bearing
    val lazyRelab = emb.filter(col("vec_id") % 9 =!= 4)
      .select("vec_id", "label", "e")
      .unionByName(emb.filter(col("vec_id") % 9 === 4)
        .select(col("vec_id"), col("label"), reverse(col("e")).as("e")))
    val lazyServe = ivfProbeOf(cents, lazyRelab, queries, k = 5, probes = 2)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(lazyServe != live,
      "lazy relabeling coincided with re-quantization: drill inert")
    // the re-embed is real on this corpus: some updated vector serves
    // differently than before the update
    val before = ivfProbeOf(cents, emb.select("vec_id", "label", "e"),
        queries, k = 5, probes = 2).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(before != live, "the update changed nothing: drill untested")
  }

  test("s27: staleness audit matches exact hand arithmetic on a crafted drift fixture; totals partition; corpus never scanned") {
    import spark.implicits._
    import graft.queries.PipelineOps.ivfStalenessOf
    val root = java.nio.file.Files.createTempDirectory("graft-s27-spec").toString
    // cell 0's centroid points at [1,0], cell 1's at [0,1]; v2 sits in
    // cell 0 but points at [0,1] — the drifted member a stale
    // quantizer keeps serving from the wrong cell; v4 is deleted
    Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0)))
      .toDF("clabel", "ce").write.parquet(s"$root/centroids")
    Seq((1L, 0L, Seq(1.0, 0.0)), (2L, 0L, Seq(0.1, 0.99)),
        (3L, 1L, Seq(0.0, 1.0)), (4L, 0L, Seq(1.0, 0.0)))
      .toDF("vec_id", "label", "e")
      .write.partitionBy("label").parquet(s"$root/g1")
    Seq(4L).toDF("vec_id").write.parquet(s"$root/tomb")
    val got = ivfStalenessOf(spark, s"$root/g1", s"$root/tomb",
        s"$root/centroids").collect()
      .map(r => (r.getAs[Number](0).longValue, r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val ccV2 = r6(0.1 / math.sqrt(0.1 * 0.1 + 0.99 * 0.99)) // v2 . c0
    val mean0 = ((1000000L + math.round(ccV2 * 1e6)) / 2.0).floor.toLong
    assert(got == Seq((0L, 3L, 2L, 1L, 1L, mean0),
      (1L, 1L, 1L, 0L, 0L, 1000000L)),
      s"audit diverged from hand arithmetic: $got")
    // a FULLY-deleted cell reports a NULL live mean, not a 0/0
    // artifact (self-review regression): tombstone every cell-1 member
    Seq(3L, 4L).toDF("vec_id").write.parquet(s"$root/tombAll1")
    val dead = ivfStalenessOf(spark, s"$root/g1", s"$root/tombAll1",
        s"$root/centroids").collect()
      .map(r => (r.getAs[Number](0).longValue, r.getLong(2), r.isNullAt(5)))
    assert(dead.toSeq == Seq((0L, 2L, false), (1L, 0L, true)),
      s"fully-deleted cell mean is not NULL: ${dead.toSeq}")
    // the real-corpus entry: totals partition and the audit sees the
    // whole index (sum of cells == corpus), misassignment has signal
    val rows = run("s27_ivf_staleness").collect()
      .map(r => (r.getAs[Number](0).longValue, r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(rows.forall(r => r._3 + r._4 == r._2),
      "live + deleted != total in some cell")
    val corpusN = Tables.t(spark, dir, "embeddings").count()
    assert(rows.map(_._2).sum == corpusN,
      "cells do not partition the corpus")
    assert(rows.map(_._5).sum > 0, "zero misassignment: audit has no signal")
    // the audit runs off the stored artifacts alone
    val plan = planOf(graft.queries.PipelineOps.ivfStalenessOf(spark,
      s"$root/g1", s"$root/tomb", s"$root/centroids"))
    assert(!plan.contains("embeddings.parquet"),
      s"the audit scanned the live corpus:\n$plan")
    assert(plan.contains("BroadcastHashJoin") &&
      plan.contains("BroadcastNestedLoopJoin"),
      s"tombstone/centroid sides lost their broadcasts:\n$plan")
  }

  test("s29: clean postings audit clean; crafted IVF defects found exactly; entry checksums match the damage predicates") {
    import spark.implicits._
    import graft.queries.PipelineOps.ivfFreshnessOf
    val emb = Tables.t(spark, dir, "embeddings")
    // false-positive check: the exact corpus posted once per vector
    val cleanPost = emb.select("vec_id", "label")
    val clean = ivfFreshnessOf(emb.select("vec_id"), cleanPost).collect().head
    assert(clean.getLong(0) == clean.getLong(1) &&
      (2 to 5).forall(clean.getLong(_) == 0),
      s"healthy postings audited dirty: ${clean.toSeq}")
    // crafted defects, one of each class: v1 missing, ghost 99,
    // v3 in two cells, v4 twice in one cell
    val post = Seq((2L, 0L), (99L, 1L), (3L, 0L), (3L, 1L),
      (4L, 1L), (4L, 1L)).toDF("vec_id", "label")
    val corpus = Seq(1L, 2L, 3L, 4L).toDF("vec_id")
    val got = ivfFreshnessOf(corpus, post).collect().head
    assert(got.toSeq == Seq(4L, 4L, 1L, 1L, 1L, 1L, 1L, 99L),
      s"crafted defects not found exactly: ${got.toSeq}")
    // the entry's checksums identify exactly the perturbed id sets
    val row = run("s29_vector_index_freshness").collect().head
    val ids = emb.select("vec_id").collect().map(_.getLong(0))
    assert(row.getLong(6) == ids.filter(_ % 11 == 7).sum,
      "missing checksum != the skipped-build id set")
    assert(row.getLong(7) == ids.filter(_ % 13 == 2).map(_ + 10000000L).sum,
      "ghost checksum != the shifted-id set")
    assert(row.getLong(4) > 0 && row.getLong(5) > 0,
      "a damage class found nothing: perturbation inert")
  }

  test("s26 compaction: new generation carries no tombstones, keeps the label layout; anti-join stays broadcast with pruning intact") {
    import spark.implicits._
    import graft.queries.PipelineOps.{tombstonedPostingsOf, ivfCompactOf}
    val root = java.nio.file.Files.createTempDirectory("graft-s26-spec").toString
    Seq((1L, 0L, Seq(1.0, 0.0)), (2L, 0L, Seq(0.9, 0.1)),
        (3L, 1L, Seq(0.0, 1.0)), (4L, 1L, Seq(0.1, 0.9)))
      .toDF("vec_id", "label", "e")
      .write.partitionBy("label").parquet(s"$root/g1")
    Seq(2L).toDF("vec_id").write.parquet(s"$root/tomb")
    ivfCompactOf(spark, s"$root/g1", s"$root/tomb", s"$root/g2")
    val g2 = spark.read.parquet(s"$root/g2")
    assert(g2.filter(col("vec_id") === 2L).count() == 0,
      "compacted generation still carries a tombstoned vector")
    assert(g2.count() == 3)
    val dirs = new java.io.File(s"$root/g2").list().toSet
    assert(dirs.contains("label=0") && dirs.contains("label=1"),
      s"compaction lost the label partitioning: $dirs")
    // serve-plan shape: tombstones apply as a broadcast ANTI-join and
    // a label predicate still prunes partitions underneath it
    val plan = planOf(tombstonedPostingsOf(spark, s"$root/g1", s"$root/tomb")
      .filter(col("label") === 0L))
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"tombstones lost their broadcast anti-join:\n$plan")
    assert("PartitionFilters: \\[[^\\]]*label".r.findFirstIn(plan).nonEmpty,
      s"label pruning no longer reaches the postings scan:\n$plan")
  }
}
