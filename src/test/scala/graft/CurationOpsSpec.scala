package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Invariants for the round-6 curation operators (quality gating,
  * duplicated-gram mass, mixture sampling, domain caps, sequence
  * packing, Bloom decontamination, streaming sessionization) beyond
  * the DuckDB oracle gate: each test pins a property the hash compare
  * alone would not explain if it broke.
  */
class CurationOpsSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val dir = "/root/testdata/sf0.01"
  private def run(name: String) =
    SparkEntry.queries(name)(spark, dir)

  test("t10 gopher rules: pass is the rule conjunction, every doc scored") {
    val rows = run("t10_gopher_rules").collect()
    assert(rows.length == 500)
    rows.foreach { r =>
      val conj = r.getBoolean(4) && r.getBoolean(5) && r.getBoolean(6) && r.getBoolean(7)
      assert(r.getBoolean(8) == conj, s"pass flag disagrees with rules for doc ${r.getLong(0)}")
    }
    // the gate must actually discriminate on this corpus (a gate that
    // passes or fails everything is a broken gate, oracle or not)
    val passed = rows.count(_.getBoolean(8))
    assert(passed > 0 && passed < 500, s"degenerate gate: $passed/500 pass")
  }

  test("d12 duplicated-gram mass: bounded, and near-dup docs carry high dup mass") {
    val d12 = run("d12_dup_gram_mass").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(d12.size == 500)
    d12.foreach { case (id, (n, dup, frac)) =>
      assert(dup >= 0 && dup <= n && frac >= 0.0 && frac <= 1.0, s"doc $id out of bounds")
    }
    // every doc in a jaccard >= 0.5 near-dup pair shares most shingles
    // with its twin, so its duplicated fraction must be at least 0.5
    val nearDup = run("d03_ngram_jaccard").collect()
      .flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    nearDup.foreach { id =>
      assert(d12(id)._3 >= 0.5, s"near-dup doc $id has dup_frac ${d12(id)._3} < 0.5")
    }
  }

  test("d18 exact-substring dedup equals a brute-force string-level recompute") {
    // handcrafted corpus against an independent brute force: collect
    // every L-token window AS A STRING across all docs, mark windows
    // with total occurrence count >= 2, remove covered tokens. Cases:
    // a shared run longer than L (cross-boundary for chunkers), a
    // doc-internal repeat, a short doc (< L tokens), an untouched doc.
    import spark.implicits._
    val L = 4
    val shared = "alpha beta gamma delta epsilon zeta" // 6-token shared run
    val docs = Seq(
      (1L, s"one two $shared three four"),
      (2L, s"five six seven $shared"),
      (3L, "rep rep rep rep rep rep rep rep rep"), // internal repeat
      (4L, "too short here"),                      // < L tokens
      (5L, "nothing duplicated in this document at all"))
      .toDF("doc_id", "text")
    val got = graft.pipeline.Curation.exactSubstringDedup(docs, runLen = L)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(4))).toMap

    // brute force on strings (no hashing — pins the hash path lossless here)
    val toks = docs.collect().map(r => r.getLong(0) -> r.getString(1).split(" ", -1)).toMap
    val counts = scala.collection.mutable.Map.empty[String, Int]
    toks.values.foreach { ts =>
      (0 to ts.length - L).foreach { i =>
        val g = ts.slice(i, i + L).mkString(" ")
        counts(g) = counts.getOrElse(g, 0) + 1
      }
    }
    toks.foreach { case (id, ts) =>
      val covered = Array.fill(ts.length)(false)
      (0 to ts.length - L).foreach { i =>
        if (counts(ts.slice(i, i + L).mkString(" ")) >= 2)
          (i until i + L).foreach(covered(_) = true)
      }
      val kept = ts.indices.filterNot(covered).map(ts)
      val (n, nd, cleaned) = got(id)
      assert(n == ts.length, s"doc $id n_tokens")
      assert(nd == covered.count(identity), s"doc $id n_dup_tokens")
      assert(cleaned == kept.mkString(" "), s"doc $id cleaned text")
    }
    // the interesting cases actually fired
    assert(got(1L)._2 == 6 && got(2L)._2 == 6, "whole shared run must go, not just one window")
    assert(got(3L)._2 == 9, "doc-internal periodic repeat fully covered")
    assert(got(4L)._2 == 0 && got(5L)._2 == 0, "short/unique docs untouched")
  }

  test("t16 BPE merge loop: fold equals greedy scan on overlap corners, merges compound") {
    import spark.implicits._
    import graft.queries.PipelineOps.{bpeApplyMerge, bpeMergeLoopOf}
    // overlap corner: pair (a,a) over a run merges LEFTMOST
    // NON-OVERLAPPING occurrences only — 'a a a a a' -> 'aa aa a',
    // never re-merging a token produced in the same pass
    def merge1(s: String, a: String, b: String): String =
      bpeApplyMerge(Seq((s, 1L)).toDF("s", "cnt"), a, b)
        .collect()(0).getString(0)
    assert(merge1("a a a a a", "a", "a") == "aa aa a")
    assert(merge1("a a a a", "a", "a") == "aa aa")
    // a merge must not fire across symbol boundaries: pair (x,a) has
    // no occurrence in [x, ab] even though 'x a' appears in the chars
    assert(merge1("x ab y", "x", "a") == "x ab y")
    // removal cannot cascade within one pass: [a,a,b] with pair (a,b)
    // merges at (1,2) only
    assert(merge1("a a b", "a", "b") == "a ab")
    // multi-char pairs from earlier merges apply cleanly
    assert(merge1("th e c at", "th", "e") == "the c at")
    // end-to-end on a crafted corpus: merges COMPOUND — with 'ab'
    // learned first, the second merge consumes it
    val docs = Seq((1L, "abc abc abc abd"), (2L, "abc abq")).toDF("doc_id", "text")
    val learned = bpeMergeLoopOf(docs, merges = 2).collect()
    assert(learned.map(_.getString(1)).toSeq == Seq("a b", "ab c"),
      learned.mkString(", "))
    assert(learned.map(_.getLong(3)).toSeq == Seq(6L, 4L))
  }

  test("s12 bitext mining: entry equals a pure-Scala margin recompute") {
    import org.apache.spark.sql.functions.col
    val docs = graft.Tables.t(spark, dir, "documents")
      .select("doc_id", "lang").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val emb = graft.Tables.t(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def cq(x: Array[Double], y: Array[Double]): Long = {
      var dot = 0.0; var nx = 0.0; var ny = 0.0
      // strict left-to-right like CosineSim: three separate loops
      for (i <- x.indices) dot += x(i) * y(i)
      for (i <- x.indices) nx += x(i) * x(i)
      for (i <- y.indices) ny += y(i) * y(i)
      math.floor(dot / (math.sqrt(nx) * math.sqrt(ny)) * 1000000d + 0.5).toLong
    }
    val as = docs.collect { case (id, "de") if emb.contains(id) => id }.toSeq.sorted
    val bs = docs.collect { case (id, "en") if emb.contains(id) => id }.toSeq.sorted
    val c = (for (a <- as; b <- bs) yield (a, b) -> cq(emb(a), emb(b))).toMap
    def topk(keys: Seq[Long], others: Seq[Long], get: (Long, Long) => Long) =
      keys.map { k =>
        val top = others.map(o => (get(k, o), o)).sortBy(t => (-t._1, t._2)).take(4)
        k -> (top.map(_._1).sum, top.size)
      }.toMap
    val fa = topk(as, bs, (a, b) => c((a, b)))
    val fb = topk(bs, as, (b, a) => c((a, b)))
    def r4(x: Double) = BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expected = as.flatMap { a =>
      val cands = bs.map { b =>
        val (fas, fan) = fa(a); val (fbs, fbn) = fb(b)
        val m = r4(c((a, b)) * 2.0 * fan * fbn / (fas * fbn + fbs * fan))
        (m, b)
      }
      val (m, b) = cands.maxBy(t => (t._1, -t._2))
      if (m >= 1.15) Some((a, b, c((a, b)), m)) else None
    }
    val got = run("s12_bitext_mining").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(got == expected, s"${got.size} vs ${expected.size}")
    assert(got.nonEmpty && got.size < as.size, "margin cut must be real")
  }

  test("t20 unigram segmentation: plain-Scala Viterbi recompute, optimality invariant, capped seed model") {
    import spark.implicits._
    val maxPiece = 4
    val seedVocab = 128
    val docs = Tables.t(spark, dir, "documents").select("doc_id", "text")
      .as[(Long, String)].collect()
      .map { case (id, t) => (id, t.split(" ", -1).filter(_.nonEmpty)) }
    val vocab = docs.flatMap(_._2).groupBy(identity)
      .map { case (w, o) => w -> o.size.toLong }
    val pf = scala.collection.mutable.Map.empty[String, Long]
    vocab.foreach { case (w, cnt) =>
      for (st <- 0 until w.length; k <- 1 to math.min(maxPiece, w.length - st))
        pf(w.substring(st, st + k)) = pf.getOrElse(w.substring(st, st + k), 0L) + cnt
    }
    val total = pf.values.sum // pre-cut: retained piece costs don't depend on V
    // seed-vocab pruning replay: top-V multi-char by (freq desc, piece
    // asc), single chars always kept — and the cut must genuinely BITE
    // at this scale, or the capped path the contract promises is untested
    val multi = pf.toSeq.filter(_._1.length > 1)
    assert(multi.size > seedVocab,
      s"seed cut must bite: ${multi.size} multi-char pieces <= V=$seedVocab")
    val keep = pf.toSeq.filter(_._1.length == 1) ++
      multi.sortBy { case (p, f) => (-f, p) }.take(seedVocab)
    // the contract the r8 verdict asked for: the driver-collected model
    // is bounded at V + charset rows regardless of corpus charset
    assert(keep.size <= seedVocab + pf.count(_._1.length == 1),
      "piece model exceeds the V + charset contract bound")
    val bits = keep.map { case (p, f) =>
      p -> math.floor(-(math.log(f.toDouble / total) / math.log(2.0)) * 1000000 + 0.5).toLong }.toMap
    def viterbi(w: String): Long = {
      val dp = Array.fill(w.length + 1)(Long.MaxValue / 4); dp(0) = 0L
      for (i <- 1 to w.length; k <- 1 to math.min(maxPiece, i))
        bits.get(w.substring(i - k, i)).foreach { b =>
          dp(i) = math.min(dp(i), dp(i - k) + b * 64 + 1) }
      dp(w.length)
    }
    val wkey = vocab.keys.map(w => w -> viterbi(w)).toMap
    val expected = docs.sortBy(_._1).map { case (id, ws) =>
      (id, ws.length.toLong, ws.map(w => wkey(w) % 64).sum,
        ws.map(w => wkey(w) / 64).sum)
    }
    val got = run("t20_unigram_segmentation").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == expected.toSeq)
    // optimality: the DP can never lose to the trivial all-single-chars
    // segmentation, and on this corpus it must strictly beat it for
    // some word (multi-char pieces actually chosen)
    val strict = vocab.keys.exists { w =>
      wkey(w) / 64 < w.map(c => bits(c.toString)).sum }
    vocab.keys.foreach { w =>
      assert(wkey(w) / 64 <= w.map(c => bits(c.toString)).sum, s"DP beaten on $w") }
    assert(strict, "no word benefits from multi-char pieces: DP untested")
    assert(vocab.keys.forall(w => wkey(w) % 64 <= w.length), "piece count exceeds chars")
  }

  test("cur03 datasheet: plain-Scala recompute, fingerprint dups live") {
    import spark.implicits._
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    def h60(s: String) = java.lang.Long.parseLong(md5hex(s).substring(0, 15), 16)
    def r4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val docs = Tables.t(spark, dir, "documents")
      .select("doc_id", "source", "lang", "text")
      .as[(Long, String, String, String)].collect()
    val rows = docs.map { case (_, src, lang, t) =>
      val toks = t.split(" ", -1)
      val score = r4(1.0 / (1.0 + math.exp(
        -4 * toks.map(tok => (h60(tok) % 2049 - 1024) / 1024.0).sum / toks.length)))
      (src, lang, toks.length.toLong, score,
        md5hex(toks.distinct.sorted.mkString(" ")))
    }
    val expected = rows.groupBy(_._1).toSeq.sortBy(_._1).map { case (src, xs) =>
      val dups = xs.groupBy(_._5).values.filter(_.size >= 2).map(_.size).sum
      (src, xs.length.toLong, xs.map(_._3).sum, xs.map(_._2).distinct.length.toLong,
        r4(xs.map(_._4).sum / xs.length), dups.toLong)
    }
    val got = run("cur03_source_datasheet").collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getLong(5)))
    assert(got.length == expected.length)
    got.zip(expected).foreach { case (g, e) =>
      assert((g._1, g._2, g._3, g._4, g._6) == ((e._1, e._2, e._3, e._4, e._6)), s"$g vs $e")
      assert(math.abs(g._5 - e._5) <= 1e-4, s"${g._1} mean_quality ${g._5} vs ${e._5}")
    }
    // the dup signal must be live: this corpus has no byte-exact dups,
    // but the order-insensitive fingerprint finds reordered twins
    assert(got.map(_._6).sum > 0, "no fingerprint dup in any source: column dead")
    assert(got.exists(_._6 == 0), "every source has dups: fixture can't discriminate")
  }

  test("spl03 temporal split: plain-Scala recompute, spanning users a strict subset") {
    import spark.implicits._
    val cutoff = java.sql.Timestamp.valueOf("2024-01-30 20:00:00")
    val ev = Tables.t(spark, dir, "events").select("user_id", "ts")
      .as[(Long, java.sql.Timestamp)].collect()
    val perUser = ev.groupBy(_._1).map { case (u, xs) =>
      (u, xs.count(_._2.before(cutoff)).toLong,
        xs.count(!_._2.before(cutoff)).toLong) }.toSeq
    val spanning = perUser.count(x => x._2 > 0 && x._3 > 0).toLong
    val expected = Seq(
      ("test", perUser.map(_._3).sum, perUser.count(_._3 > 0).toLong, spanning),
      ("train", perUser.map(_._2).sum, perUser.count(_._2 > 0).toLong, spanning))
    val got = run("spl03_temporal_split").collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == expected)
    assert(spanning > 0 && spanning < perUser.length,
      "boundary must be spanned by some users but not all")
    assert(got.forall(_._2 > 0), "a split side is empty")
  }

  test("p06 governed release: plain-Scala recompute of the whole composition") {
    import spark.implicits._
    val L = 4
    val rules = Set("src3.example.com", "h7.src7.example.com")
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    def h60(s: String) = java.lang.Long.parseLong(md5hex(s).substring(0, 15), 16)
    val docs = Tables.t(spark, dir, "documents")
      .select("doc_id", "lang", "source", "text")
      .as[(Long, String, String, String)].collect()
    val allowed = docs.filter { case (id, _, src, _) =>
      val host = s"h${id % 40}.$src.example.com"
      val l = host.split("\\.")
      !l.indices.exists(i => rules(l.drop(i).mkString(".")))
    }
    val evalGrams = allowed.filter(_._1 % 50 == 0)
      .flatMap { case (_, _, _, t) =>
        t.split(" ", -1).sliding(L).filter(_.length == L).map(_.mkString(" ")) }
      .toSet
    def weight(t: String) = (h60(t) % 2049 - 1024) / 1024.0
    def r4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val rows = allowed.filter(_._1 % 50 != 0).map { case (id, lang, _, t) =>
      val w = t.split(" ", -1)
      val starts = (0 to w.length - L)
        .filter(i => evalGrams.contains(w.slice(i, i + L).mkString(" ")))
      val covered = starts.flatMap(p => p until p + L).toSet
      val kept = w.zipWithIndex.collect { case (tok, i) if !covered(i) => tok }
      val ct = kept.mkString(" ")
      val toks = ct.split(" ", -1)
      val score = r4(1.0 / (1.0 + math.exp(-4 * toks.map(weight).sum / toks.length)))
      val b = h60(id.toString) % 100
      val split = if (b < 90) "train" else if (b < 95) "val" else "test"
      (split, lang, id, kept.length.toLong, score)
    }.filter(_._5 >= 0.45)
    val expected = rows.groupBy(r => (r._1, r._2)).toSeq
      .sortBy { case ((sp, lg), _) => (sp, lg) }
      .map { case ((sp, lg), xs) =>
        (sp, lg, xs.length.toLong, xs.map(_._4).sum, xs.map(_._3).sum,
          r4(xs.map(_._5).sum / xs.length)) }
    val got = run("p06_governed_release").collect().map(r =>
      (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(5), r.getDouble(4)))
    assert(got.length == expected.length)
    got.zip(expected).foreach { case (g, e) =>
      assert((g._1, g._2, g._3, g._4, g._5) == ((e._1, e._2, e._3, e._4, e._5)),
        s"cell mismatch: $g vs $e")
      // mean of rounded-4 doubles: partial-agg order may differ from the
      // sequential recompute in the last ulp — compare at the 4-decimal
      // granularity the column carries
      assert(math.abs(g._6 - e._6) < 1e-9 || math.abs(g._6 - e._6) <= 1e-4,
        s"mean_score ${g._6} vs ${e._6}")
    }
    // every governance stage must bite on this corpus
    val allIds = docs.map(_._1).toSet
    assert(allowed.length < docs.length, "blocklist stage idle")
    assert(rows.nonEmpty && rows.length < allowed.count(_._1 % 50 != 0),
      "quality gate idle")
    assert(expected.map(_._1).distinct.sorted == Seq("test", "train", "val"),
      "a split bucket is empty")
    assert(allIds.nonEmpty)
  }

  test("lm03 Kneser-Ney: plain-Scala recompute, backoff and OOV branches live") {
    import spark.implicits._
    val D = 0.75
    val docs = Tables.t(spark, dir, "documents").select("doc_id", "text")
      .as[(Long, String)].collect()
      .map { case (id, t) => (id, t.split(" ", -1)) }
      .filter(_._2.length >= 2)
    def bigrams(w: Array[String]) = (0 until w.length - 1).map(i => (w(i), w(i + 1)))
    val seedBis = docs.filter(_._1 % 10 == 0).flatMap(d => bigrams(d._2))
    val c12 = seedBis.groupBy(identity).map { case (b, o) => b -> o.size.toLong }
    val c1 = c12.groupBy(_._1._1).map { case (w1, m) => w1 -> m.values.sum }
    val n1w1 = c12.groupBy(_._1._1).map { case (w1, m) => w1 -> m.size.toLong }
    val n1w2 = c12.groupBy(_._1._2).map { case (w2, m) => w2 -> m.size.toLong }
    val n1tot = c12.size.toLong
    var backoffSeen = false
    val expected = docs.sortBy(_._1).map { case (id, w) =>
      val bs = bigrams(w)
      val scored = bs.flatMap { case (a, b) =>
        if (!c1.contains(a) || !n1w2.contains(b)) None
        else {
          if (!c12.contains((a, b))) backoffSeen = true
          val p = math.max(c12.getOrElse((a, b), 0L) - D, 0.0) / c1(a) +
            (D * n1w1(a) / c1(a)) * (n1w2(b).toDouble / n1tot)
          Some(math.floor(-(math.log(p) / math.log(2.0)) * 1000000 + 0.5).toLong)
        }
      }
      val avg =
        if (scored.isEmpty) null
        else java.lang.Double.valueOf(BigDecimal(
          scored.sum.toDouble / (scored.size * 1000000.0))
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
      (id, bs.size.toLong, scored.size.toLong, avg)
    }
    val got = run("lm03_kneser_ney").collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) null else java.lang.Double.valueOf(r.getDouble(3))))
    assert(got.toSeq == expected.toSeq)
    assert(backoffSeen, "no unseen-bigram-of-seen-words: backoff branch untested")
    assert(got.exists(r => r._3 < r._2), "no OOV bigram: vocab cut untested")
    assert(got.forall(r => r._3 == 0 || r._4.asInstanceOf[Double] > 0.0),
      "bits must be positive (P < 1 for every bigram here)")
  }

  test("guard02 drift: plain-Scala recompute, L1 identity, one-sided cells loud") {
    import spark.implicits._
    val docs = Tables.t(spark, dir, "documents")
      .select("doc_id", "lang", "source", "text")
      .as[(Long, String, String, String)].collect()
      .map { case (id, l, s, t) => (id, s"$l/$s", t.split(" ", -1).length.toLong) }
    def shares(half: Array[(Long, String, Long)]): Map[String, Long] = {
      val m = half.groupBy(_._2).map { case (d, xs) => d -> xs.map(_._3).sum }
      val tot = m.values.sum
      m.map { case (d, mass) =>
        d -> math.floor(mass.toDouble / tot * 1000000 + 0.5).toLong }
    }
    val rs = shares(docs.filter(_._1 % 3 == 0))
    val cs = shares(docs.filter(_._1 % 3 != 0))
    val expected = (rs.keySet ++ cs.keySet).toSeq.sorted.map { d =>
      val (r, c) = (rs.getOrElse(d, 0L), cs.getOrElse(d, 0L))
      (d, r, c, math.abs(r - c))
    }
    val got = run("guard02_distribution_drift").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == expected)
    // the fixture must exercise both failure modes the gate exists
    // for: real drift on shared cells and a cell present in only one
    // release (one side at share 0)
    assert(got.exists(r => r._2 > 0 && r._3 > 0 && r._4 > 0), "no shared-cell drift")
    assert(got.exists(r => r._2 == 0 || r._3 == 0), "no one-sided cell in the fixture")
    // Σ drift is the L1 distance between the micro-share distributions
    val l1 = expected.map(_._4).sum
    assert(got.map(_._4).sum == l1 && l1 > 0)
  }

  test("dec04 span decontamination: plain-Scala recompute, fixture discriminates") {
    import spark.implicits._
    val L = 4
    val docs = Tables.t(spark, dir, "documents").select("doc_id", "text")
      .as[(Long, String)].collect().map { case (id, t) => (id, t.split(" ", -1)) }
    val evalGrams = docs.filter(_._1 % 50 == 0)
      .flatMap { case (_, w) => w.sliding(L).filter(_.length == L).map(_.mkString(" ")) }
      .toSet
    val expected = docs.filter(_._1 % 50 != 0).sortBy(_._1).map { case (id, w) =>
      val starts = (0 to w.length - L)
        .filter(i => evalGrams.contains(w.slice(i, i + L).mkString(" ")))
      val covered = starts.flatMap(p => p until p + L).toSet
      val kept = w.zipWithIndex.collect { case (t, i) if !covered(i) => t }
      val md = java.security.MessageDigest.getInstance("MD5")
      val h = md.digest(kept.mkString(" ").getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
      (id, w.length.toLong, covered.size.toLong, h)
    }
    val got = run("dec04_span_decontaminate").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(4)))
    assert(got.toSeq == expected.toSeq)
    // the fixture must exercise the cut without emptying the corpus
    val touched = got.count(_._3 > 0)
    assert(touched > 0 && touched < got.length,
      s"span cut untested: $touched of ${got.length} docs touched")
    // eval docs themselves never appear in the output
    assert(got.forall(_._1 % 50 != 0))
  }

  test("samp05 epoch plan: plain-Scala recompute, cap and fractional branches live") {
    import spark.implicits._
    val docs = Tables.t(spark, dir, "documents").select("doc_id", "lang", "text")
      .as[(Long, String, String)].collect()
      .map { case (id, l, t) => (id, l, t.split(" ", -1).length.toLong) }
    val mass = docs.groupBy(_._2).map { case (l, xs) => l -> xs.map(_._3).sum }
    val tot = mass.values.sum
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    val wq = mass.map { case (l, m) =>
      l -> math.floor(math.pow(m.toDouble / tot, 0.7) * 1000000 + 0.5).toLong }
    val sumWq = wq.values.sum
    val budget = wq.map { case (l, q) =>
      l -> math.floor((100000L * q).toDouble / sumWq + 0.5).toLong }
    val expected = mass.keys.toSeq.sorted.map { l =>
      val m = mass(l); val b = budget(l)
      val nFull = math.min(b / m, 4L)
      val remainder = if (b / m >= 4L) 0L else b - nFull * m
      val ordered = docs.filter(_._2 == l)
        .sortBy { case (id, _, _) => (md5hex(s"${id}_e"), id) }
      var cum = 0L
      val frac = ordered.takeWhile { case (_, _, n) =>
        val before = cum; cum += n; remainder > 0 && before < remainder }
      val fracTok = frac.map(_._3).sum
      val served = nFull * m + fracTok
      (l, docs.count(_._2 == l).toLong, m, b, nFull, frac.length.toLong,
        fracTok, served, math.max(b - served, 0L), frac.map(_._1).sum)
    }
    val got = run("samp05_epoch_plan").collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6), r.getLong(7), r.getLong(8), r.getLong(9)))
    assert(got.toSeq == expected)
    // both branches must be live on this corpus: langs at the 4-epoch
    // cap report real unserved budget and zero fractional fill; at
    // least one lang takes whole epochs plus a non-empty fraction
    val capped = got.filter(_._5 == 4L)
    assert(capped.nonEmpty, "no lang hits the epoch cap")
    capped.foreach { r =>
      assert(r._6 == 0L && r._9 > 0L, s"${r._1}: cap must zero the fraction and leave unserved budget") }
    assert(got.exists(r => r._5 > 0L && r._5 < 4L && r._6 > 0L),
      "no lang exercises whole-epochs + fractional fill")
    // uncapped langs must be served at least their budget (first-overrun rule)
    got.filter(_._5 < 4L).foreach { r =>
      assert(r._8 >= r._4 && r._9 == 0L, s"${r._1}: under-served without cap") }
  }

  test("u03 PII audit: plain-Scala coin+count recompute, flag splits the sources") {
    import java.security.MessageDigest
    def coin(id: Long, salt: String, m: Int): Boolean = {
      val hex = MessageDigest.getInstance("MD5")
        .digest((id.toString + salt).getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16) % m == 0
    }
    val docs = graft.Tables.t(spark, dir, "documents")
      .select("doc_id", "source").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    // the three synthetic-PII appends each regexp-match exactly once
    // and never cross-match (no '@' in phone/IP, no '555' or dotted
    // quad in the email), so per-doc counts are the coin values
    val expected = docs.groupBy(_._2).map { case (src, xs) =>
      val hits = xs.map { case (id, _) =>
        (if (coin(id, "_e", 4)) 1L else 0L, if (coin(id, "_p", 3)) 1L else 0L,
          if (coin(id, "_i", 5)) 1L else 0L)
      }
      val (ne, np, ni) = (hits.map(_._1).sum, hits.map(_._2).sum, hits.map(_._3).sum)
      val rate = math.round((ne + np + ni) * 10000.0 / xs.length) / 10000.0
      src -> (xs.length.toLong, hits.count(h => h._1 + h._2 + h._3 > 0).toLong,
        ne, np, ni, rate, if (rate >= 0.8) 1L else 0L)
    }
    val got = run("u03_pii_audit").collect().map(r =>
      r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getDouble(6), r.getLong(7))).toMap
    assert(got == expected, s"$got\nvs\n$expected")
    val flags = got.values.map(_._7).toSet
    assert(flags == Set(0L, 1L), "threshold must flag some sources and clear others")
  }

  test("u02 blocklist: plain-Scala recompute, suffix semantics, keep complements the audit") {
    import spark.implicits._
    val rules = Seq("src3.example.com", "h7.src7.example.com",
      "h23.src3.example.com", "example.org")
    def suffixes(host: String): Seq[String] = {
      val l = host.split("\\.")
      l.indices.map(i => l.drop(i).mkString("."))
    }
    val hosts = Tables.t(spark, dir, "documents").select("doc_id", "source")
      .as[(Long, String)].collect()
      .map { case (id, src) => id -> s"h${id % 40}.$src.example.com" }
    // independent audit recompute
    val expected = rules.flatMap { rule =>
      val m = hosts.filter { case (_, h) => suffixes(h).contains(rule) }
      if (m.isEmpty) None
      else Some((rule, m.length.toLong, m.map(_._2).distinct.length.toLong,
        m.map(_._1).min, m.map(_._1).max))
    }.sortBy(_._1)
    val got = run("u02_domain_blocklist").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(got == expected)
    // semantics corners the fixture must exercise: a whole-domain rule
    // covering >1 host, a host matched by two rules, a no-match rule
    assert(expected.exists(_._3 > 1), "no multi-host domain rule bit")
    assert(!got.exists(_._1 == "example.org"), "no-match rule must emit no row")
    val blocked = hosts.filter { case (_, h) =>
      suffixes(h).exists(rules.contains) }.map(_._1).toSet
    assert(blocked.nonEmpty && blocked.size < hosts.length)
    // keep facade: exact complement, caller columns untouched
    val docsDf = hosts.toSeq.toDF("doc_id", "host").withColumn("extra", lit(1))
    val kept = graft.pipeline.Curation.domainBlocklistKeep(docsDf, rules)
    assert(kept.columns.toSeq == Seq("doc_id", "host", "extra"))
    val keptIds = kept.select("doc_id").as[Long].collect().toSet
    assert(keptIds == hosts.map(_._1).toSet -- blocked)
    // and the keep is a pure map: no exchange, no join in its plan
    val plan = kept.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Join"),
      s"keep must run at scan speed:\n$plan")
  }

  test("t19 fertility: equals t17 aggregated by lang, ratios exact, chars recomputed") {
    import spark.implicits._
    val langs = Tables.t(spark, dir, "documents").select("doc_id", "lang")
    val exp = run("t17_bpe_tokenize").join(langs, "doc_id")
      .groupBy("lang")
      .agg(sum("n_words").cast("long").as("w"), sum("n_tokens").cast("long").as("t"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val got = run("t19_tokenizer_fertility").collect()
    assert(got.map(_.getString(0)).toSeq == exp.keySet.toSeq.sorted,
      "one ordered row per language")
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    got.foreach { r =>
      val (lang, nw, nt, nc) =
        (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))
      assert((nw, nt) == exp(lang), s"$lang disagrees with t17's rollup")
      assert(r.getDouble(4) == r6(nt.toDouble / nw), s"$lang fertility rounding")
      assert(r.getDouble(5) == r6(nc.toDouble / nt), s"$lang compression rounding")
      assert(r.getDouble(4) >= 1.0, "a word is at least one token")
    }
    // n_chars: independent plain-Scala recompute
    val chars = Tables.t(spark, dir, "documents").select("lang", "text")
      .as[(String, String)].collect()
      .flatMap { case (l, t) =>
        t.split(" ", -1).filter(_.nonEmpty).map(w => l -> w.length.toLong) }
      .groupBy(_._1).map { case (l, ws) => l -> ws.map(_._2).sum }
    got.foreach(r => assert(r.getLong(3) == chars(r.getString(0)),
      s"${r.getString(0)} char mass mismatch"))
    // the audit must show a real spread on this corpus — a flat table
    // would mean the fixture can't exercise the fairness signal
    val fs = got.map(_.getDouble(4))
    assert(fs.max > fs.min, "no fertility spread across languages")
  }

  test("t18 stored tokenizer: cold-read merges encode bit-identically to t17") {
    def key(name: String) = run(name).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val fused = key("t17_bpe_tokenize")
    val stored = key("t18_tokenizer_artifact")
    assert(stored == fused && fused.nonEmpty,
      s"tokenizer artifact round trip diverged: ${stored.size} vs ${fused.size}")
  }

  test("d20 stored dedup index: probe verdict bit-identical to d14's live recompute") {
    def key(name: String) = run(name).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(x => (x._1, x._2)).toSeq
    val live = key("d14_incremental_dedup")
    val stored = key("d20_dedup_index_persist")
    assert(stored == live && live.nonEmpty,
      s"artifact round trip diverged: ${stored.size} vs ${live.size}")
  }

  test("spl02 split leakage: cross-split near-dups counted, within-split ones ignored") {
    import spark.implicits._
    import graft.queries.PipelineOps.splitLeakageOf
    // resolve the md5 split assignment for small ids, then plant one
    // near-dup pair crossing train->val, one crossing train->test, a
    // within-eval dup (must NOT count: neither side is train), and
    // unique filler
    val b = org.apache.spark.sql.functions.expr(
      "cast(conv(substring(md5(cast(id as string)), 1, 15), 16, 10) as bigint) % 100")
    val split = spark.range(0, 200).withColumn("b", b)
      .collect().map(r => r.getLong(0) ->
        (if (r.getLong(1) < 90) "train" else if (r.getLong(1) < 95) "val" else "test")).toMap
    val trainIds = split.collect { case (id, "train") => id }.toSeq.sorted
    val valIds = split.collect { case (id, "val") => id }.toSeq.sorted
    val testIds = split.collect { case (id, "test") => id }.toSeq.sorted
    assert(trainIds.size >= 2 && valIds.size >= 3 && testIds.size >= 1)
    val dupA = "one two three four five six seven eight nine ten"
    val dupB = "ichi ni san shi go roku nana hachi kyu ju"
    val dupC = "uno dos tres cuatro cinco seis siete ocho nueve diez"
    val docs = Seq(
      (trainIds(0), dupA), (valIds(0), dupA),            // train->val leak
      (trainIds(1), dupB), (testIds(0), dupB),           // train->test leak
      (valIds(1), dupC), (valIds(2), dupC)               // eval-internal: no leak
    ).toDF("doc_id", "text")
    val out = splitLeakageOf(docs, 0.5).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out("val") == ((3L, 1L, 1.0)), out.toString)
    assert(out("test") == ((1L, 1L, 1.0)), out.toString)
  }

  test("d19 quality keep: election is argmax score with id tiebreak, singletons absent") {
    import spark.implicits._
    import graft.queries.PipelineOps.{qualityKeepOf, qualityScoreOf}
    // one 3-member near-dup cluster (shared 10-word base, one word
    // varies -> jaccard >= 0.5) + one exact-pair cluster + a singleton
    val base = "the quick brown fox jumps over the lazy sleeping dog"
    val docs = Seq(
      (1L, s"$base alpha"), (2L, s"$base beta"), (3L, s"$base gamma"),
      (10L, "completely different words entirely here now today ok fine yes"),
      (11L, "completely different words entirely here now today ok fine yes"),
      (99L, "a lone unique document sharing nothing with the others at all")
    ).toDF("doc_id", "text")
    val edges = graft.queries.PipelineOps.exactJaccardPairsOf(docs, 0.5)
      .select(col("d1"), col("d2"))
    val out = qualityKeepOf(docs, edges, rounds = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    val score = qualityScoreOf(docs).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    // cluster 1 = {1,2,3}: expected keep = argmax score, id-asc tiebreak
    val exp1 = Seq(1L, 2L, 3L).sortBy(id => (-score(id), id)).head
    // cluster 10 = {10,11}: identical text, equal scores -> id tiebreak
    assert(out == Seq(
      (1L, exp1, score(exp1), 2L),
      (10L, 10L, score(10L), 1L)), out.mkString(", "))
    assert(!out.exists(_._1 == 99L), "singleton must not form a cluster")
  }

  test("d21 soft dedup: weight is 1/cluster-size, total mass = docs minus dups (4dp-bounded)") {
    val rows = run("d21_soft_dedup_weights").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4)))
    val nDocs = graft.Tables.t(spark, dir, "documents").count()
    assert(rows.length == nDocs, "soft dedup keeps EVERY doc")
    // per-row invariants: weight = round(1/csize, 4), eff = round(n_tok/csize, 4)
    assert(rows.forall { case (_, nt, cs, w, eff) =>
      cs >= 1 && w == math.round(10000.0 / cs) / 10000.0 &&
        eff == math.round(nt * 10000.0 / cs) / 10000.0
    })
    // cross-check cluster sizes against the oracle-verified d11 entry:
    // every member of a d11 cluster carries that cluster's size, and
    // docs outside any cluster carry size 1 / weight 1.0
    val clustered = run("d11_dup_clusters").collect()
      .flatMap { r =>
        val members = r.getString(2).split(",").map(_.toLong)
        members.map(_ -> members.length.toLong)
      }.toMap
    val sizes = rows.map(r => r._1 -> r._3).toMap
    assert(clustered.forall { case (id, n) => sizes(id) == n },
      "cluster members must carry the d11 cluster size")
    assert(rows.filterNot(r => clustered.contains(r._1)).forall(_._3 == 1L),
      "unclustered docs are weight-1 singletons")
    // the defining invariant: total effective doc mass = docs - dups
    // (4-decimal weight rounding leaves ≤ 5e-5 per member, e.g. a
    // 3-cluster sums to 0.9999 — bound the drift, don't demand exact)
    val dups = clustered.size - run("d11_dup_clusters").count()
    val mass = rows.map(_._4).sum
    assert(math.abs(mass - (nDocs - dups)) < nDocs * 5e-5,
      s"sum(weight)=$mass != ${nDocs - dups}")
  }

  test("p07 weighted release: card equals d21 weights x spl01 split, recomputed") {
    import java.security.MessageDigest
    def bucket(id: Long): Long = {
      val hex = MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8")).map("%02x".format(_))
        .mkString.take(15)
      java.lang.Long.parseLong(hex, 16) % 100
    }
    val langs = graft.Tables.t(spark, dir, "documents")
      .select("doc_id", "lang").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // d21 is oracle-verified; derive the card from its rows + the split
    val d21 = run("d21_soft_dedup_weights").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val expected = d21.groupBy { case (id, _, _) =>
      val b = bucket(id)
      (if (b < 90) "train" else if (b < 95) "val" else "test", langs(id))
    }.map { case (k, xs) =>
      k -> (xs.length.toLong, xs.map(_._2).sum,
        math.round(xs.map(x => 1000000L / x._3).sum / 100.0) / 10000.0,
        math.round(xs.map(x => x._2 * (1000000L / x._3)).sum / 100.0) / 10000.0)
    }
    val got = run("p07_weighted_release").collect().map(r =>
      (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5))).toMap
    assert(got == expected, s"$got\nvs\n$expected")
    // soft dedup ships everything: raw doc mass equals the corpus
    assert(got.values.map(_._1).sum == langs.size.toLong)
  }

  test("d23 bloom dedup gate: crafted multiplicity/tau-boundary + sketchless corpus recompute") {
    import spark.implicits._
    import graft.queries.PipelineOps.bloomDedupGateOf
    // crafted: batch-chunk multiplicity counts per OCCURRENCE, and the
    // tau boundary rejects (keep iff ratio < tau, strictly)
    val corpus = Seq((10L, "a b c d e f")).toDF("doc_id", "text")
    val batch = Seq(
      (1L, "a b c a b c x y z"),  // [abc][abc][xyz]: dup 2/3 -> reject
      (2L, "a b c x x x"),        // dup 1/2 = tau exactly  -> reject
      (3L, "p q r s t u")         // dup 0/2               -> keep
    ).toDF("doc_id", "text")
    val got = bloomDedupGateOf(batch, corpus, 3, 0.5, 0.03).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getBoolean(4)))).toMap
    assert(got(1L) == ((3L, 2L, 0.6667, false)), got(1L).toString)
    assert(got(2L) == ((2L, 1L, 0.5, false)), got(2L).toString)
    assert(got(3L) == ((2L, 0L, 0.0, true)), got(3L).toString)
    // corpus recompute WITHOUT the sketch: the verdict must be exactly
    // plain exact membership — the bloom is a cost reducer only
    val docs = graft.Tables.t(spark, dir, "documents")
      .select("doc_id", "text").as[(Long, String)].collect()
    def chunks(t: String) = t.split(" ", -1).grouped(3).map(_.mkString(" ")).toSeq
    val corpusSet = docs.filter(_._1 % 7 != 3).flatMap(d => chunks(d._2)).toSet
    val expected = docs.filter(_._1 % 7 == 3).map { case (id, t) =>
      val cs = chunks(t)
      val dup = cs.count(corpusSet.contains)
      val ratio = BigDecimal(dup.toDouble / cs.size)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      id -> ((cs.size.toLong, dup.toLong, ratio, dup.toDouble / cs.size < 0.5))
    }.toMap
    val full = run("d23_bloom_dedup_gate").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getBoolean(4)))).toMap
    assert(full == expected)
    assert(full.values.exists(!_._4) && full.values.exists(_._4),
      "both verdicts must bite on the corpus")
  }

  test("st10 streaming index append: drained stream serves exactly like the single build") {
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1), r.getLong(2))
    val streamed = graft.queries.MediaCatalogOps
      .defs("st10_stream_index_append")(spark, dir).collect().map(key).toSeq
    val single = graft.queries.PipelineOps
      .defs("idx02_phrase_search")(spark, dir).collect().map(key).toSeq
    assert(streamed == single,
      s"streamed-append index diverged from the single build:\n$streamed\nvs\n$single")
    assert(streamed.nonEmpty, "phrase must hit on this corpus")
  }

  test("u04 k-anon release: plain-Scala recompute, suppressed cells withhold every metric") {
    import spark.implicits._
    val ev = graft.Tables.t(spark, dir, "events")
      .selectExpr("event_type", "CAST(ts AS STRING) AS ts", "user_id",
        "CAST(round(value * 100) AS BIGINT) AS cents")
      .as[(String, String, Long, Long)].collect()
    val cells = ev.groupBy { case (t, ts, _, _) =>
      (t, ts.substring(0, 10), ts.substring(11, 13).toInt / 6) }
    val expected = cells.map { case ((t, day, b), g) =>
      val nu = g.map(_._3).distinct.size.toLong
      if (nu >= 10)
        (t, day, b.toLong, false, Some(g.size.toLong), Some(nu), Some(g.map(_._4).sum))
      else (t, day, b.toLong, true, None, None, None)
    }.toSet
    def opt(r: org.apache.spark.sql.Row, i: Int): Option[Long] =
      if (r.isNullAt(i)) None else Some(r.getLong(i))
    val got = run("u04_kanon_release").collect()
      .map(r => (r.getString(0), r.getDate(1).toString, r.getLong(2),
        r.getBoolean(3), opt(r, 4), opt(r, 5), opt(r, 6))).toSet
    assert(got == expected)
    val sup = got.count(_._4)
    assert(sup > 0 && sup < got.size, s"suppression must bite partially: $sup/${got.size}")
    got.filter(_._4).foreach(c =>
      assert(c._5.isEmpty && c._6.isEmpty && c._7.isEmpty,
        s"suppressed cell leaked a metric: $c"))
  }

  test("p09 curation v4: stages equal the standalone d22/t21 kernels; every stage bites") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.queries.PipelineOps
    val docs = graft.Tables.t(spark, dir, "documents")
    val batch = docs.filter(col("doc_id") % 7 === 3).select("doc_id", "lang", "text")
    // stage-1 equivalence: the in-row cleaned text hashes to exactly
    // what the standalone d22 kernel reports
    val s1 = batch.select(col("doc_id"), split(col("text"), " ").as("w"))
      .withColumn("c1", expr(
        "array_join(array_distinct(transform(sequence(0, cast(ceil(size(w) / 2.0) as int) - 1), " +
          "k -> concat_ws(' ', slice(w, k * 2 + 1, 2)))), ' ')"))
      .select("doc_id", "c1")
    val s1Map = s1.as[(Long, String)].collect().toMap
    def m(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val d22Map = PipelineOps.intraDocDedupOf(batch.select("doc_id", "text"), 2)
      .select("doc_id", "cleaned_md5").as[(Long, String)].collect().toMap
    assert(s1Map.keySet == d22Map.keySet)
    s1Map.foreach { case (id, c1) => assert(m(c1) == d22Map(id), s"stage-1 drift at $id") }
    // stage-2 equivalence: t21 on the stage-1 text agrees on verdicts
    val t21 = PipelineOps.c4LineGateOf(
        s1.select(col("doc_id"), col("c1").as("text")), 10, 6, Seq("vector"), Seq("dup"), 2)
      .select("doc_id", "verdict").as[(Long, String)].collect().toMap
    // the composed entry's card must match the t21 verdicts per LANG,
    // not just in total
    val card = run("p09_curation_v4").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))).toMap
    val langOf = batch.select("doc_id", "lang").as[(Long, String)].collect().toMap
    val gateByLang = t21.toSeq.filter(_._2 == "kept")
      .groupBy { case (id, _) => langOf(id) }.map { case (l, g) => l -> g.size.toLong }
    assert(card.map { case (l, c) => l -> c._2 } == gateByLang,
      s"stage-2 per-lang survivor drift: ${card.map { case (l, c) => l -> c._2 }} vs $gateByLang")
    // stage funnel strictly narrows and nothing vanishes
    val (raw, gate, fin) = (card.values.map(_._1).sum, card.values.map(_._2).sum,
      card.values.map(_._3).sum)
    assert(raw > gate && gate > fin && fin > 0, s"funnel $raw -> $gate -> $fin must bite at every stage")
  }

  test("t22 tfidf keywords: plain-Scala recompute, rare term dominates its docs") {
    import spark.implicits._
    val docs = graft.Tables.t(spark, dir, "documents")
      .select("doc_id", "text").as[(Long, String)].collect()
    val n = docs.length.toDouble
    val dfm = docs.flatMap { case (id, t) => t.split(" ", -1).distinct.map(_ -> id) }
      .groupBy(_._1).map { case (t, g) => t -> g.size }
    def r4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expected = docs.flatMap { case (id, t) =>
      t.split(" ", -1).groupBy(identity).toSeq
        .map { case (tm, occ) => (tm, r4(occ.length * math.log(n / dfm(tm)))) }
        .sortBy { case (tm, s) => (-s, tm) }
        .take(3).zipWithIndex
        .map { case ((tm, s), i) => (id, i + 1, tm, s) }
    }.toSet
    val got = run("t22_tfidf_keywords").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getDouble(3))).toSet
    assert(got == expected)
    // the rare token must take slot 1 in every doc that contains it
    val dupDocs = docs.filter(_._2.split(" ", -1).contains("dup")).map(_._1).toSet
    assert(dupDocs.nonEmpty)
    dupDocs.foreach { id =>
      assert(got.contains((id, 1,
        "dup", got.find(e => e._1 == id && e._2 == 1).get._4)),
        s"doc $id: rare term not the top keyword")
      assert(got.find(e => e._1 == id && e._2 == 1).get._3 == "dup")
    }
  }

  test("guard03 canary audit: A cleans to the original text, control B caught leaking") {
    import spark.implicits._
    val got = run("guard03_canary_audit").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getBoolean(4)))).toMap
    // class sizes recomputed independently from the md5 coin
    def bk(id: Long): Long = {
      val h = graft.exprs.Md5Bits60.compute(
        org.apache.spark.unsafe.types.UTF8String.fromString(s"g3:$id"))
      ((h % 100) + 100) % 100
    }
    val ids = graft.Tables.t(spark, dir, "documents")
      .select("doc_id").as[Long].collect()
    val nA = ids.count(bk(_) < 5).toLong
    val nB = ids.count(i => bk(i) >= 5 && bk(i) < 10).toLong
    assert(got("A") == ((nA, 0L, 0.0, true)), got("A").toString)
    assert(got("B") == ((nB, nB, 1.0, false)), got("B").toString)
    assert(nA > 0 && nB > 0, "both canary classes must be populated")
    // the deep pin: the cleaner removed EXACTLY the plant — cleaned
    // class-A text equals the pristine original, token for token
    import org.apache.spark.sql.functions._
    val docs = graft.Tables.t(spark, dir, "documents")
    val tagged = docs.select(col("doc_id"), col("text"),
        expr("pmod(md5_bits60(concat('g3:', doc_id)), 100)").as("bk"),
        expr("substring(md5(cast(doc_id as string)), 1, 8)").as("h"))
      .withColumn("cls", when(col("bk") < 5, "A").when(col("bk") < 10, "B"))
      .withColumn("canary", when(col("cls").isNotNull,
        concat(lit("cn"), col("cls"), col("h"), lit(" sc"), col("cls"), col("h"),
          lit(" pr"), col("cls"), col("h"))))
      .withColumn("aug", when(col("cls").isNotNull,
        concat(col("text"), lit(" "), col("canary"))).otherwise(col("text")))
    val corpusRows = tagged.select(col("doc_id"), col("aug").as("text"),
      coalesce(col("cls"), lit("-")).as("cls"), lit(false).as("ev"))
    val evalRows = tagged.filter(col("cls") === "A")
      .select((col("doc_id") + lit(10000000L)).as("doc_id"),
        col("canary").as("text"), lit("EV").as("cls"), lit(true).as("ev"))
    val cleaned = graft.queries.PipelineOps.spanDecontaminateOf(
        corpusRows.unionByName(evalRows), col("ev"), 3, carry = Seq("cls"))
      .select("doc_id", "cleaned_text", "cls")
    val orig = docs.select("doc_id", "text").as[(Long, String)].collect().toMap
    val aug = tagged.select("doc_id", "aug").as[(Long, String)].collect().toMap
    cleaned.filter(col("cls") === "A").as[(Long, String, String)].collect()
      .foreach { case (id, ct, _) =>
        assert(ct == orig(id), s"A doc $id: cleaner removed more/less than the plant") }
    cleaned.filter(col("cls") === "B").as[(Long, String, String)].collect()
      .foreach { case (id, ct, _) =>
        assert(ct == aug(id), s"B doc $id: control was modified") }
  }

  test("p08 training order: plain-Scala recompute, epochs decorrelated, permutation per epoch") {
    import spark.implicits._
    def okey(e: Long, id: Long): Long =
      graft.exprs.Md5Bits60.compute(
        org.apache.spark.unsafe.types.UTF8String.fromString(s"$e:$id"))
    val docs = graft.Tables.t(spark, dir, "documents")
      .select("doc_id", "text").as[(Long, String)].collect()
    // full recompute of the audit
    val rows = for { (id, t) <- docs; e <- 0L to 1L } yield {
      val k = okey(e, id)
      (e, k % 4, id, t.split(" ", -1).length.toLong, k)
    }
    val expected = rows.groupBy(r => (r._1, r._2)).map { case ((e, sh), g) =>
      (e, sh, g.size.toLong, g.map(_._4).sum, g.map(_._3).sum,
        g.map(_._5 % 1000000007L).sum, g.map(_._5).min)
    }.toSet
    val got = run("p08_training_order").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toSet
    assert(got == expected)
    // each epoch is a full permutation of the corpus...
    val byEpoch = rows.groupBy(_._1)
    assert(byEpoch.values.forall(_.map(_._3).toSet == docs.map(_._1).toSet))
    // ...and epochs are DECORRELATED: shard placement differs between
    // epoch 0 and epoch 1 for a substantial fraction of docs
    val sh0 = rows.filter(_._1 == 0L).map(r => r._3 -> r._2).toMap
    val moved = rows.filter(_._1 == 1L).count(r => sh0(r._3) != r._2)
    assert(moved > docs.length / 2,
      s"only $moved/${docs.length} docs changed shard between epochs")
    // every (epoch, shard) cell is populated (hash balance at 4 shards)
    assert(got.size == 8, s"expected 8 cells, got ${got.size}")
  }

  test("d24 alternating CC: converges on a diameter-9 path that defeats 3-round propagation; corpus equals d11") {
    import spark.implicits._
    import graft.queries.PipelineOps.{ccAlternatingOf, dupClustersOf}
    // the motivating case: a 10-node path (diameter 9). 3-round
    // min-label propagation CANNOT finish it; the alternating
    // contraction must — and the contrast is asserted, not assumed.
    val path = (1L to 9L).map(i => (i, i + 1)).toDF("d1", "d2")
    val alt = ccAlternatingOf(path).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(alt.toSeq == Seq((1L, 10L, (1L to 10L).mkString(","))),
      s"path must contract to one cluster rooted at 1: ${alt.toSeq}")
    val prop3 = dupClustersOf(path, rounds = 3).collect()
    assert(prop3.length > 1,
      "3-round propagation unexpectedly finished a diameter-9 path — contrast case broken")
    // full corpus: identical clusters to the oracle-verified d11
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getString(2))
    val d24 = run("d24_cc_largestar").collect().map(key).toSet
    val d11 = run("d11_dup_clusters").collect().map(key).toSet
    assert(d24 == d11)
    assert(d24.nonEmpty && d24.exists(_._2 > 2), "corpus must have a >2-member cluster")
  }

  test("s21 matryoshka audit: full-dim row is exact recall 1.0, counts bounded, no rescan after the top cut") {
    val rows = run("s21_matryoshka_recall").collect()
    assert(rows.map(_.getInt(0)).toSeq == Seq(8, 16, 32, 64))
    rows.foreach { r =>
      assert(r.getLong(1) == 10L) // n_queries
      assert(r.getLong(2) >= 0L && r.getLong(2) <= 50L, s"hits out of range: $r")
      val rec = r.getDouble(3)
      assert(rec >= 0.0 && rec <= 1.0)
    }
    val full = rows.find(_.getInt(0) == 64).get
    assert(full.getLong(2) == 50L && full.getDouble(3) == 1.0,
      s"full-dim recall must be exactly 1.0: $full")
    // the comparison never rescans the corpus: the bounded top table
    // checkpointed, so the final plan carries no file scan at all
    val plan = run("s21_matryoshka_recall").queryExecution.executedPlan.toString
    assert(!plan.contains("FileScan"),
      s"post-checkpoint comparison rescanned the corpus:\n$plan")
  }

  test("s21 recognizes a TRULY matryoshka embedding: zero tail dims -> recall 1.0 at every truncation") {
    // vectors whose dims 9..16 are zero: the 8-dim prefix carries all
    // the geometry, so truncated retrieval must equal full retrieval —
    // the audit must say so (its job is to distinguish this from the
    // corpus embeddings, where recall@8 reads 0.08)
    import spark.implicits._
    import graft.queries.PipelineOps.matryoshkaRecallOf
    val vecs = (0L until 40L).map { id =>
      val e = Array.tabulate(16)(j =>
        if (j < 8) math.sin(id * 37.0 + j * 11.0) else 0.0)
      (id, e)
    }.toDF("vec_id", "e")
    val got = matryoshkaRecallOf(vecs, vecs.filter(col("vec_id") < 5),
        dims = Seq(8, 16), k = 3)
      .collect().map(r => (r.getInt(0), r.getDouble(3))).toMap
    assert(got(8) == 1.0 && got(16) == 1.0,
      s"prefix-complete embedding must audit at recall 1.0: $got")
  }

  test("u07 canary drill: pinned grid — exact gate collapses verbatim, cannot see mutated") {
    val got = run("u07_canary_drill").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5), r.getDouble(6))).toSeq
    val want = Seq(
      ("mutated", 1L, 2L, 2L, 2L, 1.0, 1.0),
      ("mutated", 2L, 2L, 4L, 4L, 2.0, 2.0),
      ("mutated", 4L, 2L, 8L, 8L, 4.0, 4.0),
      ("mutated", 8L, 2L, 16L, 16L, 8.0, 8.0),
      ("verbatim", 1L, 2L, 2L, 2L, 1.0, 1.0),
      ("verbatim", 2L, 2L, 4L, 2L, 2.0, 1.0),
      ("verbatim", 4L, 2L, 8L, 2L, 4.0, 1.0),
      ("verbatim", 8L, 2L, 16L, 2L, 8.0, 1.0))
    assert(got == want, s"canary grid diverged:\n$got")
    // gate shape: one digest rollup + a broadcast join back — never a
    // corpus-keyed sort-merge join
    val plan = run("u07_canary_drill").queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"lost the broadcast join:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      s"canary drill grew a corpus-keyed join:\n$plan")
  }

  test("u07/s21 guards: canary id-range collision and a short dims.max fail loudly") {
    import spark.implicits._
    // a corpus doc inside the canary id range would fan out the
    // keep_id join and silently inflate the per-family counts
    val bad = Seq((10000000L, "text in the canary range"))
      .toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      graft.queries.PipelineOps.canaryDrillOf(bad,
        graft.queries.PipelineOps.canaryDocsOf(spark)).collect()
    }
    // s21: a dims list whose max is below the true dimensionality
    // would measure recall against a truncation, not the full vector
    val vecs = Seq((0L, Array(1.0, 2.0, 3.0, 4.0)),
      (1L, Array(4.0, 3.0, 2.0, 1.0))).toDF("vec_id", "e")
    intercept[IllegalArgumentException] {
      graft.queries.PipelineOps.matryoshkaRecallOf(vecs, vecs,
        dims = Seq(2), k = 1).collect()
    }
  }

  test("u07 handoff: the NEAR-dup gate collapses the mutated family the exact gate cannot") {
    // each mutated canary's copies differ by one trailing token —
    // shingle jaccard ~0.9, so minJaccard=0.8 clusters them; the
    // amp_after=mult rows in the entry are exactly what this gate fixes
    import graft.queries.PipelineOps.canaryDocsOf
    val mutated = canaryDocsOf(spark).filter(col("family") === "mutated" &&
      col("mult") >= 2)
    val clusters = graft.pipeline.Curation
      .dupClustersAlternating(mutated, minJaccard = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // one cluster per canary, each holding exactly its mult copies
    val expected = canaryDocsOf(spark)
      .filter(col("family") === "mutated" && col("mult") >= 2)
      .groupBy("canary_id").agg(min("doc_id").as("root"),
        count(org.apache.spark.sql.functions.lit(1)).as("m"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(clusters.toSet == expected,
      s"near-dup gate failed to collapse the mutated family: ${clusters.toSeq} vs $expected")
  }

  test("d26 dedup sweep: monotone curve, the 0.02 cliff, accounting identities, crafted grades") {
    val rows = run("d26_dedup_sweep").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(rows.map(_._1).toSeq == Seq(300L, 500L, 5000L, 9000L))
    // raising tau can only shrink the graph
    rows.sliding(2).foreach { case Array(lo, hi) =>
      assert(hi._2 <= lo._2 && hi._3 <= lo._3 && hi._5 <= lo._5,
        s"sweep not monotone: $lo -> $hi")
    }
    // accounting: every dup doc is either a cluster root or removed
    rows.foreach { case (_, _, dup, clusters, removed, _) =>
      assert(clusters + removed == dup)
    }
    // the cliff this corpus shows: background mass below 0.05
    val byThr = rows.map(r => r._1 -> r._2).toMap
    assert(byThr(300L) > 2 * byThr(5000L),
      s"expected the sub-0.05 background cliff: $byThr")
    assert(byThr(500L) == byThr(9000L) + 4,
      s"clean margin band drifted: $byThr")
    // crafted grades: identical pair J=1.0, half-overlap pair J=0.3333
    import spark.implicits._
    import graft.queries.PipelineOps.dedupSweepOf
    val fx = Seq(
      (1L, "a b c d e f"), (2L, "a b c d e f"),
      (3L, "p q r s t u"), (4L, "p q r s x y"))
      .toDF("doc_id", "text").withColumn("lang", lit("en"))
    val got = dedupSweepOf(fx, Seq(0.3, 0.95)).collect()
      .map(r => (r.getLong(0), r.getLong(4))).toMap // thr_bp -> n_removed
    assert(got == Map(3000L -> 2L, 9500L -> 1L),
      s"graded fixture diverged: $got")
  }

  test("s23 nprobe sweep: recall monotone in probes, cost axis strictly grows, p=2 row equals s06's measurement") {
    val rows = run("s23_nprobe_sweep").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getLong(4)))
    assert(rows.map(_._1).toSeq == Seq(1, 2, 4, 8))
    rows.foreach { case (_, nq, hits, rec, _) =>
      assert(nq == 10L && hits <= 50L && rec >= 0.0 && rec <= 1.0)
    }
    // probe sets are nested, so recall can only grow and the scan
    // cost strictly grows with nprobe
    rows.sliding(2).foreach { case Array(lo, hi) =>
      assert(hi._4 >= lo._4, s"recall dropped as probes grew: $lo -> $hi")
      assert(hi._5 > lo._5, s"scan cost must strictly grow: $lo -> $hi")
    }
    // cross-check: the p=2 row must reproduce s06's measured recall
    // (s06 = recall of s02's nprobe=2 serve vs s01's exact top-5)
    import org.apache.spark.sql.functions.avg
    val s06 = run("s06_ann_recall").agg(avg("recall")).head.getDouble(0)
    val p2 = rows.find(_._1 == 2).get._4
    assert(math.abs(p2 - s06) < 1e-9,
      s"sweep p=2 recall $p2 != s06's measurement $s06")
  }

  test("s22 filtered ANN: predicate holds on every result, k fills, post-filter would under-fill") {
    import org.apache.spark.sql.functions.{col => c}
    val served = run("s22_filtered_ann").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    // every served neighbor satisfies the predicate, every query fills k
    served.foreach { case (_, _, nid) =>
      assert(nid % 2 == 0, s"filtered ANN served an odd vec_id $nid")
    }
    val perQ = served.groupBy(_._1).view.mapValues(_.size).toMap
    assert(perQ.size == 10 && perQ.values.forall(_ == 5),
      s"scan-level filtering must still fill k=5: $perQ")
    // the post-filter bug, demonstrated: filtering s02's UNFILTERED
    // top-5 down to even ids under-fills at least one query
    val post = run("s02_ann_ivf").collect()
      .map(r => (r.getLong(0), r.getLong(2)))
      .filter(_._2 % 2 == 0)
      .groupBy(_._1).view.mapValues(_.size).toMap
    assert((0L until 10L).exists(q => post.getOrElse(q, 0) < 5),
      s"post-filtering never under-filled here — drill lost its bite: $post")
    // recall against the FILTERED exact ground truth is a real number
    import graft.queries.PipelineOps.{bruteForceTopKOf, recallOf}
    val emb = graft.Tables.t(spark, dir, "embeddings")
      .select(c("vec_id"), c("label"), c("embedding").cast("array<double>").as("e"))
    val exact = bruteForceTopKOf(emb.filter(c("vec_id") % 2 === 0),
      emb.filter(c("vec_id") < 10), 5)
    val rec = recallOf(exact, run("s22_filtered_ann"))
      .agg(org.apache.spark.sql.functions.avg("recall")).head.getDouble(0)
    assert(rec > 0.2 && rec <= 1.0, s"filtered-ANN recall implausible: $rec")
  }

  test("samp09 packing audit: mass conserved, sorted cuts truncation, crafted fixture exact") {
    val rows = run("samp09_packing_audit").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getDouble(6))).toMap
    assert(rows.keySet == Set("arrival", "sorted", "bucketed"))
    // every scheme packs the same corpus: docs and token mass conserved
    rows.values.foreach { case (nd, _, tot, o, p, w) =>
      assert(nd == 500L && tot == rows("arrival")._3)
      assert(o >= 0 && p >= 0 && w >= 0.0 && w <= 1.0)
    }
    // the paper's observation, pinned on this corpus: length-sorted
    // packing truncates less than arrival-order packing
    assert(rows("sorted")._4 < rows("arrival")._4,
      s"sorted should cut overflow: ${rows("sorted")._4} vs ${rows("arrival")._4}")
    // crafted fixture: sizes 200/100/200/100, one source, budget 256.
    // arrival (doc_id order): bins {300, 300} -> overflow 88, pad 0.
    // sorted (desc): 200,200,100,100 -> bins {400, 200} -> overflow
    // 144, pad 56 (sorted is NOT universally better — the audit
    // measures, it does not assume). bucketed (32-wide): sub-streams
    // {200,200} and {100,100} -> bins {400, 200} likewise.
    import spark.implicits._
    import graft.queries.PipelineOps.packingAuditOf
    def doc(n: Int) = (1 to n).map(i => s"w$i").mkString(" ")
    val fx = Seq((1L, "s", doc(200)), (2L, "s", doc(100)),
      (3L, "s", doc(200)), (4L, "s", doc(100)))
      .toDF("doc_id", "source", "text")
    val got = packingAuditOf(fx, budget = 256).collect()
      .map(r => r.getString(0) -> (r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5))).toMap
    assert(got("arrival") == ((2L, 600L, 88L, 0L)), s"arrival: ${got("arrival")}")
    assert(got("sorted") == ((2L, 600L, 144L, 56L)), s"sorted: ${got("sorted")}")
    assert(got("bucketed") == ((2L, 600L, 144L, 56L)), s"bucketed: ${got("bucketed")}")
  }

  test("samp10 BFD packing: zero truncation, beats samp09's best baseline, mass conserved") {
    val bfd = run("samp10_bfd_packing").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    val toks = Tables.t(spark, dir, "documents")
      .select(size(split(col("text"), " ")).cast("long").as("n_tok"))
      .agg(sum("n_tok"), sum(greatest(col("n_tok") - 256, lit(0L))),
        count(lit(1)))
      .head()
    // docs never split: token and doc mass conserved, and overflow is
    // EXACTLY the over-budget docs' tail mass (zero truncation of
    // anything that fits — the paper's point)
    assert(bfd.map(_._4).sum == toks.getLong(0), "token mass not conserved")
    assert(bfd.map(_._2).sum == toks.getLong(2), "doc count not conserved")
    assert(bfd.map(_._5).sum == toks.getLong(1),
      s"overflow must be only the >budget docs' tails: ${bfd.map(_._5).sum} vs ${toks.getLong(1)}")
    // corpus-level waste beats samp09's best baseline (the sorted
    // scheme) — the row teams pick exists for a reason
    val wasteBfd = (bfd.map(_._5).sum + bfd.map(_._6).sum).toDouble / bfd.map(_._4).sum
    val s09 = run("samp09_packing_audit").collect()
      .map(r => r.getString(0) -> ((r.getLong(4) + r.getLong(5)).toDouble / r.getLong(3)))
      .toMap
    assert(wasteBfd <= s09.values.min,
      s"BFD waste $wasteBfd worse than a samp09 baseline: $s09")
  }

  test("samp10 BFD: crafted fixture exact, cap eviction closes the fullest bin first") {
    import spark.implicits._
    import graft.queries.PipelineOps.bfdPackBinsOf
    def doc(id: Long, n: Int) = (id, "s", (1 to n).map(i => s"w$i").mkString(" "))
    // samp09's crafted corpus (200/100/200/100, budget 256): BFD in
    // decreasing order (200,200,100,100) packs the two 100s together
    // and each 200 alone — waste 168/600 = 0.28, beating samp09's
    // sorted scheme's 0.3333 on the same fixture
    val fx = Seq(doc(1, 200), doc(2, 100), doc(3, 200), doc(4, 100))
      .toDF("doc_id", "source", "text")
    val bins = bfdPackBinsOf(fx, budget = 256, shards = 1, cap = 64)
      .collect().map(b => (b.bin_id, b.n_docs, b.bin_tokens)).toSet
    assert(bins == Set((0L, 1L, 200L), (1L, 1L, 200L), (2L, 2L, 200L)),
      s"crafted BFD placement diverged: $bins")
    // eviction drill (cap 2, budget 100, one 32-token bucket): after
    // the third 63 evicts bin 0, the two 33s must land in bins 1 and 2
    // — an unevicted bin 0 would have taken the first 33 (min id wins
    // among equal remainders), so the per-bin doc counts pin that the
    // FULLEST-FIRST eviction really happened
    val ev = Seq(doc(1, 63), doc(2, 63), doc(3, 63), doc(4, 33), doc(5, 33))
      .toDF("doc_id", "source", "text")
    val evBins = bfdPackBinsOf(ev, budget = 100, shards = 1, cap = 2)
      .collect().map(b => (b.bin_id, b.n_docs, b.bin_tokens)).toSet
    assert(evBins == Set((0L, 1L, 63L), (1L, 2L, 96L), (2L, 2L, 96L)),
      s"cap-eviction placement diverged: $evBins")
    // an over-budget doc gets its own overflow bin; mass conserved
    val big = Seq(doc(1, 300)).toDF("doc_id", "source", "text")
    val bigBins = bfdPackBinsOf(big, budget = 256, shards = 1, cap = 64)
      .collect().map(b => (b.bin_id, b.n_docs, b.bin_tokens)).toSet
    assert(bigBins == Set((0L, 1L, 300L)), s"oversize doc mishandled: $bigBins")
  }

  test("distPrefixSumOf: bit-equal to the running-sum window, incl. a desc ordPrefix") {
    // the two-level decomposition must reproduce the naive window's
    // cum_before EXACTLY on every row — offsets + local sums are pure
    // BIGINT arithmetic, so equality is bitwise, not approximate
    import graft.queries.PipelineOps.distPrefixSumOf
    val d = Tables.t(spark, dir, "documents")
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
      .localCheckpoint()
    def naive(ord: org.apache.spark.sql.Column*) =
      d.withColumn("cum_before", coalesce(sum("n_tok").over(
        Window.partitionBy("source").orderBy(ord: _*)
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select("doc_id", "cum_before")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def dist(pfx: Seq[(String, Boolean)]) =
      distPrefixSumOf(d.withColumnRenamed("source", "part"), Seq("part"),
        pfx, "n_tok")
        .select("doc_id", "cum_before")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dist(Nil) == naive(col("doc_id")), "arrival-order prefix sum diverged")
    assert(dist(Seq(("n_tok", false))) ==
      naive(col("n_tok").desc, col("doc_id")),
      "desc-prefix (sorted scheme) prefix sum diverged")
  }

  test("distPrefixSumOf: a 95%-one-source skew fixture splits into many blocks, still exact") {
    // the reason the helper exists: a bare per-source window puts the
    // whole giant source in ONE task. The id-range blocking must
    // actually split it (many (source, bkt_) groups), and the result
    // must still equal the naive window bit-for-bit.
    import spark.implicits._
    import graft.queries.PipelineOps.distPrefixSumOf
    val n = 2000
    val rows = (1 to n).map { i =>
      val src = if (i % 20 == 0) "tail" else "giant" // 95% one source
      (i.toLong, src, (i % 37 + 1).toLong)
    }
    val fx = rows.toDF("doc_id", "part", "n_tok").localCheckpoint()
    val got = distPrefixSumOf(fx, Seq("part"), Nil, "n_tok")
      .select("doc_id", "cum_before")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = fx.withColumn("cum_before", coalesce(sum("n_tok").over(
      Window.partitionBy("part").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("doc_id", "cum_before")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want, "skewed prefix sum diverged from the window form")
    // NULL part keys are ordinary window groups — the offset join-back
    // must be null-safe or those rows silently vanish (r11 self-review)
    val withNull = (rows :+ ((2001L, null: String, 7L)))
      .toDF("doc_id", "part", "n_tok").localCheckpoint()
    val gotN = distPrefixSumOf(withNull, Seq("part"), Nil, "n_tok")
      .select("doc_id", "cum_before")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val wantN = withNull.withColumn("cum_before", coalesce(sum("n_tok").over(
      Window.partitionBy("part").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("doc_id", "cum_before")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotN.size == rows.size + 1 && gotN == wantN,
      "a NULL part key was dropped or mis-summed by the offset join")
    // the giant source must spread over many id-range blocks — the
    // same `div`-width formula the helper uses (buckets default 256)
    val width = (n - 1) / 256 + 1
    val giantBlocks = rows.filter(_._2 == "giant")
      .map(r => (r._1 - 1) / width).distinct.size
    assert(giantBlocks >= 64,
      s"giant source landed in only $giantBlocks blocks — not parallelized")
  }

  test("d24 under a RELIABLE checkpoint dir: identical clusters, rounds really write through the dir") {
    // the 100 TB story the localCheckpoint barrier can't tell: a
    // reliable checkpointDir writes each round through the (Hadoop)
    // FS so an executor loss doesn't kill the lineage. Same kernel,
    // same clusters — and the dir must actually receive RDD
    // checkpoint data, or the option silently no-ops.
    import spark.implicits._
    import graft.queries.PipelineOps.ccAlternatingOf
    val ckDir = java.nio.file.Files.createTempDirectory("d24ck").toString
    val edges = ((1L to 9L).map(i => (i, i + 1)) ++
      Seq((20L, 21L), (21L, 22L), (30L, 30L))).toDF("d1", "d2")
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getString(2))
    val local = ccAlternatingOf(edges).collect().map(key).toSet
    val reliable = ccAlternatingOf(edges, checkpointDir = Some(ckDir))
      .collect().map(key).toSet
    assert(reliable == local,
      s"reliable-checkpoint run diverged: $reliable vs $local")
    val written = new java.io.File(ckDir).listFiles()
    assert(written != null && written.nonEmpty,
      "checkpointDir received no checkpoint data — the reliable barrier never engaged")
    // d11's propagation kernel honors the same option
    import graft.queries.PipelineOps.dupLabelsOf
    val l1 = dupLabelsOf(edges, rounds = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val l2 = dupLabelsOf(edges, rounds = 3, checkpointDir = Some(ckDir))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(l1 == l2)
  }

  test("d24 alternating CC equals plain union-find on cycle/star/complete/multi-component graphs") {
    import spark.implicits._
    import graft.queries.PipelineOps.ccAlternatingOf
    def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      // relabel each component by its minimum member
      val byRoot = nodes.groupBy(find)
      byRoot.values.flatMap(ns => ns.map(_ -> ns.min)).toMap
    }
    val graphs = Seq(
      "cycle" -> (1L to 6L).map(i => (i, i % 6 + 1)),
      "star" -> (2L to 7L).map(i => (1L, i)),
      "complete" -> (for { a <- 1L to 5L; b <- a + 1 to 5L } yield (a, b)),
      "two components + chain" ->
        (Seq((10L, 11L), (11L, 12L), (20L, 21L)) ++ (30L to 36L).map(i => (i, i + 1))),
      "reversed edges" -> Seq((5L, 2L), (9L, 5L), (2L, 1L), (7L, 9L))
    )
    graphs.foreach { case (name, edges) =>
      val expected = unionFind(edges).groupBy(_._2).map { case (root, g) =>
        (root, g.keys.size.toLong, g.keys.toSeq.sorted.mkString(","))
      }.toSet
      val got = ccAlternatingOf(edges.toDF("d1", "d2")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
      assert(got == expected, s"graph '$name': $got vs $expected")
    }
  }

  test("s19 NN-descent: measured recall@3 gain over the within-cell graph (s06's harness)") {
    import spark.implicits._
    // exact ground truth: brute-force top-3 per vector under the same
    // (rounded cosine desc, nbr_id asc) order the operators use
    val vecs = Tables.t(spark, dir, "embeddings")
      .selectExpr("vec_id", "CAST(embedding AS ARRAY<DOUBLE>) AS e")
      .as[(Long, Seq[Double])].collect().toMap
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      a.indices.foreach { i => d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      math.round(d / math.sqrt(na * nb) * 10000) / 10000.0
    }
    val ids = vecs.keys.toSeq.sorted
    val exact = ids.map { v =>
      v -> ids.filter(_ != v)
        .map(n => (n, cos(vecs(v), vecs(n))))
        .sortBy { case (n, c) => (-c, n) }.take(3).map(_._1).toSet
    }.toMap
    def recall(name: String): Double = {
      val got = run(name).collect()
        .map(r => (r.getLong(0), r.getLong(2)))
        .groupBy(_._1).map { case (v, xs) => v -> xs.map(_._2).toSet }
      val hits = ids.map(v => (exact(v) & got.getOrElse(v, Set.empty)).size).sum
      hits.toDouble / (ids.size * 3)
    }
    val (base, refined) = (recall("s18_knn_graph"), recall("s19_nn_descent"))
    assert(refined > base,
      f"NN-descent must improve recall: base $base%.4f vs refined $refined%.4f")
    assert(refined >= base + 0.02,
      f"refinement gain too small to be real: $base%.4f -> $refined%.4f")
    // every vertex still carries exactly topK=3 refined edges
    val perVec = run("s19_nn_descent").groupBy("vec_id").count().collect()
    assert(perVec.forall(_.getLong(1) == 3L))
  }

  test("s20 graph-ANN serve: recall@5 comparable to IVF, bounded visit certificate") {
    // the serve side of verdict gap #2. Absolute recall is CAPPED by
    // the fixture: these synthetic embeddings are near-random, so the
    // oracled IVF baseline itself (s06) measures only ~0.32 mean
    // recall@5 — no locality-structure method can do much better
    // here. The honest bar is comparative: the graph serve must reach
    // at least half of IVF's recall while scoring a bounded
    // neighborhood (n_visited, the serve-cost certificate).
    val exact = run("s01_cosine_topk").collect()
      .map(r => (r.getLong(0), r.getLong(2)))
      .groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2).toSet }
    val served = run("s20_graph_ann_serve").collect()
    val got = served.map(r => (r.getLong(0), r.getLong(2)))
      .groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2).toSet }
    assert(got.keySet == exact.keySet, "every query must be served")
    val hits = exact.keys.map(q => (exact(q) & got(q)).size).sum
    val recall = hits.toDouble / (exact.size * 5)
    val ivfRecall = run("s06_ann_recall").collect()
      .map(_.getDouble(2)).sum / exact.size
    assert(recall >= ivfRecall * 0.5,
      f"graph serve recall@5 $recall%.4f below half of IVF's $ivfRecall%.4f")
    assert(recall >= 0.15, f"graph serve recall@5 $recall%.4f below the floor")
    // visit bound: the search scored a neighborhood, not the corpus.
    // Out-degree is the graph topK but a hub vertex's SYMMETRIZED
    // degree is unbounded, so the formula bound uses the measured max
    // degree of the degree-6 serve graph: entries + rounds·beam·maxdeg
    import org.apache.spark.sql.functions._
    val emb = Tables.t(spark, dir, "embeddings")
      .selectExpr("vec_id", "CAST(embedding AS ARRAY<DOUBLE>) AS e")
    val g = graft.queries.PipelineOps.nnDescentOf(emb,
      graft.queries.PipelineOps.knnGraphOf(emb, 8, 3, 6), 6, 1, 31)
    val maxDeg = g.select(col("vec_id").as("v"), col("nbr_id").as("o"))
      .union(g.select(col("nbr_id").as("v"), col("vec_id").as("o")))
      .distinct().groupBy("v").count().agg(max("count")).head().getLong(0)
    val n = emb.count()
    val maxVisited = served.map(_.getLong(4)).max
    assert(maxVisited <= 4 + 3 * 4 * maxDeg + 1,
      s"visited $maxVisited exceeds entries + rounds*beam*maxdeg($maxDeg)")
    assert(maxVisited < n / 4,
      s"visited $maxVisited is not a small fraction of the $n-vector corpus")
    // build-vs-serve split: the entry serves COLD from the persisted
    // adjacency artifact — it must be row-identical to the live-graph
    // serve over the same degree-6 graph (idx04's stored-artifact
    // discipline: the artifact round trip changes nothing)
    val live = graft.queries.PipelineOps.graphAnnServeOf(emb, g,
        emb.filter(col("vec_id") < 10),
        entries = 4, beam = 4, rounds = 3, k = 5)
      .orderBy("qid", "rk").collect().toSeq
    assert(served.toSeq == live,
      "cold artifact serve diverged from the live-graph serve")
  }

  test("t23 html extraction: every rule branch bites on a crafted page") {
    import spark.implicits._
    val nl = "\n"
    // one page exercising each branch: pure-link nav (link-drop even
    // though also short — precedence), short heading (short-drop),
    // normal paragraph (keep), exactly-at-the-boundary block
    // (2·linkChars == textChars → KEPT: the rule is strict-greater),
    // link-heavy sidebar (link-drop), empty-anchor link (counts zero
    // link chars → length rule decides), and order preservation
    val page =
      "<nav><a href=\"/\">Home</a> <a href=\"/x\">About</a></nav>" + nl + // link-drop
        "<h1>Tiny heading</h1>" + nl +                       // short-drop (2 words)
        "<p>alpha beta gamma delta</p>" + nl +               // keep
        "<div><a href=\"/y\">abcde</a> abcd</div>" + nl +    // EXACT boundary: 2·5 == len("abcde abcd")=10 → strict-greater keeps it off the link path; wc=2 → short-drop
        "<p>one <a href=\"/z\">two three four</a> five</p>" + nl + // l=14, t="one two three four five"=23, 28>23 → link-drop
        "<p><a href=\"/e\"></a>solo word here</p>"           // empty anchor: l=0 → keep (3 words)
    val df = graft.queries.PipelineOps.htmlExtractOf(
      Seq((1L, page)).toDF("doc_id", "html"), minWords = 3)
    val out = df.collect().head
    def l(c: String) = out.getLong(out.fieldIndex(c))
    assert(l("n_blocks") == 6, "n_blocks")
    assert(l("n_kept") == 2, s"n_kept: $out")
    assert(l("n_drop_link") == 2, s"n_drop_link: $out")
    assert(l("n_drop_short") == 2, s"n_drop_short: $out")
    // extracted text preserves block order: paragraph then the
    // empty-anchor block
    val expected = "alpha beta gamma delta solo word here"
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest(expected.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    assert(out.getString(out.fieldIndex("extracted")) == expected,
      "extracted text must be the ordered kept blocks")
    assert(out.getString(out.fieldIndex("extracted_md5")) == md5,
      "extracted_md5 must hash the ordered kept text")
    assert(l("extracted_wc") == 7, "extracted_wc")
    // corpus sanity: the doc-dependent sidebar flips both ways (the
    // density depends on the doc's own first two words)
    val corpus = run("t23_html_extract").collect()
    assert(corpus.count(_.getLong(3) == 2) > 0, "sidebar-kept branch never bites")
    assert(corpus.count(_.getLong(3) == 3) > 0, "sidebar-dropped branch never bites")
    assert(corpus.forall(_.getLong(2) >= 1), "every doc keeps at least one paragraph")
  }

  test("samp06 curriculum schedule: plain-Scala recompute, annealing invariants") {
    import spark.implicits._
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    def h60(s: String) = java.lang.Long.parseLong(md5hex(s).substring(0, 15), 16)
    def r4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val docs = Tables.t(spark, dir, "documents").select("doc_id", "text")
      .as[(Long, String)].collect()
    val scored = docs.map { case (id, t) =>
      val toks = t.split(" ", -1)
      val score = r4(1.0 / (1.0 + math.exp(
        -4 * toks.map(tok => (h60(tok) % 2049 - 1024) / 1024.0).sum / toks.length)))
      (id, toks.length.toLong, score)
    }
    val sortedScores = scored.map(_._3).sorted.toIndexedSeq
    val t1 = r4(graft.exprs.Boxplot.quantileCont(sortedScores, 1.0 / 3))
    val t2 = r4(graft.exprs.Boxplot.quantileCont(sortedScores, 2.0 / 3))
    val binned = scored.map { case (id, n, s) =>
      (id, n, if (s > t2) "hi" else if (s > t1) "mid" else "lo")
    }
    val rows = binned.flatMap { case (id, n, b) =>
      val epochs = b match {
        case "hi" => Seq(0, 1, 2); case "mid" => Seq(1, 2); case _ => Seq(2) }
      epochs.map(e => (e.toLong, b, id, n, h60(s"$e:$id")))
    }
    val expected = rows.groupBy(r => (r._1, r._2)).toSeq.sortBy(_._1).map {
      case ((e, b), g) =>
        (e, b, g.size.toLong, g.map(_._4).sum, g.map(_._3).sum,
          g.map(_._5 % 1000000007L).sum, g.map(_._5).min)
    }
    val got = run("samp06_curriculum_schedule").collect().map(r =>
      (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toSeq
    assert(got == expected)
    // annealing invariants: epoch 0 = hi only; epoch 1 = hi+mid;
    // epoch 2 = all three bins; terciles are real (each bin populated)
    def bins(e: Long) = got.filter(_._1 == e).map(_._2).toSet
    assert(bins(0) == Set("hi"))
    assert(bins(1) == Set("hi", "mid"))
    assert(bins(2) == Set("hi", "mid", "lo"))
    val binSizes = binned.groupBy(_._3).map { case (b, g) => b -> g.size }
    assert(binSizes.values.forall(_ >= docs.length / 5),
      s"terciles badly unbalanced: $binSizes")
    // hi membership is exactly t14's top tercile
    val hiIds = binned.filter(_._3 == "hi").map(_._1).toSet
    assert(hiIds == scored.filter(_._3 > t2).map(_._1).toSet)
  }

  test("samp08 temperature grid: plain-Scala recompute, flattening monotonicity") {
    import spark.implicits._
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val docs = Tables.t(spark, dir, "documents").select("lang", "text")
      .as[(String, String)].collect()
    val mass = docs.groupBy(_._1).map { case (l, g) =>
      (l, g.map(_._2.split(" ", -1).length.toLong).sum) }.toSeq.sortBy(_._1)
    val taus = Seq(0.3, 0.5, 0.7, 1.0)
    val expected = taus.flatMap { tau =>
      val ws = mass.map { case (l, m) => (l, m, math.pow(m.toDouble, tau)) }
      val z = ws.map(_._3).sum
      ws.map { case (l, m, w) =>
        (tau, l, m, r6(w / z), r6(w / z - 1.0 / mass.size)) }
    }
    val got = run("samp08_temperature_grid").collect().map(r =>
      (r.getDouble(0), r.getString(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4))).toSeq
    assert(got == expected)
    // each tau's shares are a distribution, and lowering tau must
    // FLATTEN: the biggest language loses share, the smallest gains
    taus.foreach { tau =>
      val sl = got.filter(_._1 == tau)
      assert(math.abs(sl.map(_._4).sum - 1.0) < 1e-4, s"tau=$tau not normalized")
    }
    val big = mass.maxBy(_._2)._1; val small = mass.minBy(_._2)._1
    def share(tau: Double, l: String) =
      got.find(g => g._1 == tau && g._2 == l).get._4
    assert(share(0.3, big) < share(1.0, big),
      "low tau did not downweight the dominant language")
    assert(share(0.3, small) > share(1.0, small),
      "low tau did not upweight the smallest language")
    // tau = 1 is exactly proportional
    val tot = mass.map(_._2).sum
    mass.foreach { case (l, m) =>
      assert(share(1.0, l) == r6(m.toDouble / tot), s"tau=1 not proportional for $l")
    }
  }

  test("samp07 doremi: plain-Scala recompute, group-DRO invariants") {
    import spark.implicits._
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    def h60(s: String) = java.lang.Long.parseLong(md5hex(s).substring(0, 15), 16)
    def r(x: Double, n: Int) =
      BigDecimal(x).setScale(n, BigDecimal.RoundingMode.HALF_UP).toDouble
    val docs = Tables.t(spark, dir, "documents").select("source", "text")
      .as[(String, String)].collect()
    val scored = docs.map { case (src, t) =>
      val toks = t.split(" ", -1)
      val loss = r(1.0 - 1.0 / (1.0 + math.exp(
        -4 * toks.map(tok => (h60(tok) % 2049 - 1024) / 1024.0).sum / toks.length)), 4)
      (src, toks.length.toLong, loss)
    }
    // mirror the kernel's two-level mean: per-domain loss sums first,
    // the corpus mean from the domain sums (the one-pass shape)
    val domSums = scored.groupBy(_._1).toSeq.sortBy(_._1).map { case (src, g) =>
      (src, g.length.toLong, g.map(_._2).sum, g.map(_._3).sum)
    }
    val refLoss = r(domSums.map(_._4).sum / domSums.map(_._2).sum, 4)
    val totTok = domSums.map(_._3).sum
    val dom = domSums.map { case (src, nDocs, nTok, sumLoss) =>
      val meanLoss = r(sumLoss / nDocs, 4)
      val excess = r(meanLoss - refLoss, 4)
      val raw = nTok.toDouble / totTok * math.exp(10.0 * excess)
      (src, nDocs, nTok, meanLoss, excess, raw)
    }
    val z = dom.map(_._6).sum
    val expected = dom.map { case (src, nd, nt, ml, ex, raw) =>
      (src, nd, nt, ml, ex, r(raw / z, 6)) }
    val got = run("samp07_doremi_reweight").collect().map(rr =>
      (rr.getString(0), rr.getLong(1), rr.getLong(2), rr.getDouble(3),
        rr.getDouble(4), rr.getDouble(5))).toSeq
    assert(got == expected)
    // group-DRO invariants: weights are a distribution; the update
    // must actually move mass. After normalization only the RATIO
    // w/share is monotone in excess (a small positive excess can
    // still end below its prior when others move more), so pin the
    // ratio ordering plus the guaranteed extremes: the max-excess
    // domain gains over its prior, the min-excess domain loses.
    val wsum = got.map(_._6).sum
    assert(math.abs(wsum - 1.0) < 1e-4, s"weights not normalized: $wsum")
    val byExcess = got.map { case (src, _, nt, _, ex, w) =>
      (ex, w / (nt.toDouble / totTok), src, w, nt.toDouble / totTok)
    }.sortBy(_._1)
    // tolerance covers the round-6 weight quantization (w error up to
    // 5e-7 on shares ~0.05 → ratio error up to ~1e-5)
    byExcess.sliding(2).foreach { case Seq(a, b) =>
      assert(a._2 <= b._2 + 1e-4,
        s"w/share not monotone in excess: ${a._3} vs ${b._3}")
    }
    assert(byExcess.last._4 > byExcess.last._5,
      s"${byExcess.last._3}: max-excess domain did not upweight")
    assert(byExcess.head._4 < byExcess.head._5,
      s"${byExcess.head._3}: min-excess domain did not downweight")
    // the signal must discriminate on this corpus (a flat mixture
    // means the proxy loss is degenerate, oracle or not)
    assert(got.map(_._5).distinct.length > 1, "degenerate mixture")
  }

  test("u06 deletion drill: clean purge certifies; a stale generation leaks and is CAUGHT") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val docs = (1L to 40L).map(i =>
      (i, "en", "src", s"doc $i body")).toDF("doc_id", "lang", "source", "text")
    val isDel = col("doc_id") % 5 === 0 // 8 of 40
    val out = java.nio.file.Files.createTempDirectory("u06spec").toString
    val cert = graft.queries.PipelineOps.deletionDrillOf(docs, isDel, out, shards = 4)
      .collect().head
    assert((cert.getLong(0), cert.getLong(1), cert.getLong(2)) == (40L, 8L, 32L))
    assert(cert.getLong(3) == (1L to 40L).filter(_ % 5 != 0).sum)
    assert(cert.getLong(4) == 0L, "clean purge reported a leak")
    // CONTROL: plant a stale generation carrying deleted docs — an
    // erasure that misses an old artifact generation. The same
    // certificate must now see the leak (an absence proof that cannot
    // fail proves nothing — guard03's discipline).
    graft.queries.PipelineOps.tarShardWriteGen(
      docs.filter(isDel), out, batchId = 7L, shards = 4)
    val bad = graft.queries.PipelineOps.deletionDrillOf(docs, isDel, out, shards = 4)
      .collect().head
    assert(bad.getLong(4) == 8L,
      s"the drill missed the planted stale-generation leak: ${bad.getLong(4)}")
    assert(bad.getLong(2) == 40L, "remaining count should include the stale members")
  }

  test("sink04 tar shards: byte-identical reruns, full round-trip fidelity") {
    import spark.implicits._
    import org.apache.commons.compress.archivers.tar.TarArchiveInputStream
    def md5f(f: java.io.File): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
      d.digest(java.nio.file.Files.readAllBytes(f.toPath))
        .map(b => f"$b%02x").mkString
    }
    val docs = Seq(
      (7L, "en", "srcA", "hello tar world"),
      (12L, "fr", "srcB", "bonjour \"quoted\" text"),
      (40L, "en", "srcA", "third doc")).toDF("doc_id", "lang", "source", "text")
    def writeOnce(): (java.io.File, Map[String, String]) = {
      val dir = java.nio.file.Files.createTempDirectory("sink04spec").toFile
      graft.queries.PipelineOps.tarShardWrite(docs, dir.getPath, shards = 2)
      (dir, dir.listFiles.filter(_.getName.endsWith(".tar"))
        .map(f => f.getName -> md5f(f)).toMap)
    }
    val (dir1, m1) = writeOnce(); val (_, m2) = writeOnce()
    // a rerun must produce byte-identical shard files (epoch mtimes,
    // fixed member order) — the reproducibility contract a training
    // shard set ships under
    assert(m1 == m2, s"shard bytes differ across reruns: $m1 vs $m2")
    // full round trip: every member name and payload parses back
    val members = dir1.listFiles.filter(_.getName.endsWith(".tar")).flatMap { f =>
      val in = new TarArchiveInputStream(new java.io.FileInputStream(f))
      Iterator.continually(in.getNextEntry).takeWhile(_ != null).map { e =>
        val buf = new Array[Byte](e.getSize.toInt)
        var off = 0
        while (off < buf.length) {
          val n = in.read(buf, off, buf.length - off)
          require(n > 0); off += n
        }
        e.getName -> new String(buf, "UTF-8")
      }.toVector
    }.toMap
    val expected = docs.collect().flatMap { r =>
      val key = f"${r.getLong(0)}%012d"
      Seq(s"$key.txt" -> r.getString(3),
        s"$key.json" ->
          s"""{"doc_id":${r.getLong(0)},"lang":"${r.getString(1)}","source":"${r.getString(2)}"}""")
    }.toMap
    assert(members.view.filterKeys(_.endsWith(".txt")).toMap ==
      expected.view.filterKeys(_.endsWith(".txt")).toMap)
    // metadata JSON carries the quoted fields intact (engine-built
    // to_json — compare parsed values, not raw strings)
    val metaIds = members.collect { case (k, v) if k.endsWith(".json") =>
      "\"doc_id\":(\\d+)".r.findFirstMatchIn(v).get.group(1).toLong
    }.toSet
    assert(metaIds == Set(7L, 12L, 40L))
    // the audit over the corpus entry: every sample has its meta pair
    run("sink04_tar_shards").collect().foreach { r =>
      assert(r.getLong(1) == r.getLong(4),
        s"shard ${r.getLong(0)}: ${r.getLong(1)} docs vs ${r.getLong(4)} meta")
    }
  }

  test("tar sink commit: duplicate attempts install byte-identical shards, no residue") {
    // speculative-execution drill: the same partition written twice
    // (a retried/speculated task) must leave the final tree
    // byte-identical to a single clean write, with no temp files
    def md5f(f: java.io.File): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
      d.digest(java.nio.file.Files.readAllBytes(f.toPath))
        .map(b => f"$b%02x").mkString
    }
    val rows = Seq(
      0L -> Seq("000000000001.txt" -> "alpha".getBytes("UTF-8"),
        "000000000002.txt" -> "beta".getBytes("UTF-8")),
      2L -> Seq("000000000009.txt" -> "gamma".getBytes("UTF-8")))
    def tree(dir: java.io.File) =
      dir.listFiles.filterNot(_.getName.endsWith(".crc"))
        .map(f => f.getName -> md5f(f)).toMap
    val clean = java.nio.file.Files.createTempDirectory("tarc1").toFile
    graft.queries.TarIO.writeGrouped(clean.getPath, rows.iterator)
    val dup = java.nio.file.Files.createTempDirectory("tarc2").toFile
    graft.queries.TarIO.writeGrouped(dup.getPath, rows.iterator)
    graft.queries.TarIO.writeGrouped(dup.getPath, rows.iterator) // twin attempt
    assert(tree(dup) == tree(clean),
      s"duplicate attempt changed the final tree: ${tree(dup)} vs ${tree(clean)}")
    def residue(dir: java.io.File) = dir.listFiles.filterNot(f =>
      f.getName.matches("shard-\\d{5}\\.tar") || f.getName.endsWith(".crc"))
    assert(residue(dup).isEmpty,
      s"temp residue left behind: ${residue(dup).map(_.getName).toSeq}")
    // a failed attempt (bad input mid-stream) must clean its temp up
    val fail = java.nio.file.Files.createTempDirectory("tarc3").toFile
    intercept[Exception] {
      graft.queries.TarIO.writeGrouped(fail.getPath,
        Iterator(3L -> Seq("a.txt" -> "x".getBytes("UTF-8")),
          1L -> Seq("b.txt" -> "y".getBytes("UTF-8")))) // out of order
    }
    assert(residue(fail).isEmpty,
      s"failed attempt left temp residue: ${residue(fail).map(_.getName).toSeq}")
    // failure mid-members (after a shard opened): the ORIGINAL cause
    // must propagate and the temp still deletes
    val fail2 = java.nio.file.Files.createTempDirectory("tarc4").toFile
    val thrown = intercept[Exception] {
      graft.queries.TarIO.writeGrouped(fail2.getPath,
        Iterator(0L -> Seq("a.txt" -> "x".getBytes("UTF-8"),
          "b.txt" -> null))) // null body fails inside the member loop
    }
    assert(thrown.isInstanceOf[NullPointerException],
      s"original failure was masked: $thrown")
    assert(residue(fail2).isEmpty,
      s"mid-stream failure left temp residue: ${residue(fail2).map(_.getName).toSeq}")
    // and the commons-compress behavior that motivates the guarded
    // close in the finally: close() on an archive with an UNCLOSED
    // entry throws — unguarded, that IOException would replace the
    // real cause and skip the temp delete
    val bos = new java.io.ByteArrayOutputStream()
    val tar = new org.apache.commons.compress.archivers.tar.TarArchiveOutputStream(bos)
    val entry = new org.apache.commons.compress.archivers.tar.TarArchiveEntry("open.txt")
    entry.setSize(4L)
    tar.putArchiveEntry(entry)
    val maskEx = intercept[java.io.IOException] { tar.close() }
    assert(String.valueOf(maskEx.getMessage).toLowerCase.contains("unclosed"),
      s"commons-compress close() contract changed: $maskEx")
  }

  test("tar sink guards: negative doc_id rejected; shardOf binds to the basename") {
    import spark.implicits._
    // a negative doc_id would read back as the metadata sentinel -1's
    // neighborhood and vanish from every audit filter — write rejects
    val bad = Seq((-3L, "en", "src", "ghost doc"))
      .toDF("doc_id", "lang", "source", "text")
    val dir = java.nio.file.Files.createTempDirectory("tarneg").toString
    val ex = intercept[Exception] {
      graft.queries.PipelineOps.tarShardWrite(bad, dir, shards = 1)
    }
    assert(ex.getMessage != null || ex.getCause != null) // require surfaced
    // shardOf: a parent directory crafted like a shard file must not
    // hijack the number; only the basename binds
    assert(graft.queries.TarIO.shardOf(
      "/data/shard-9.tar/gen=1/shard-00002.tar") == 2L)
    intercept[Exception] {
      graft.queries.TarIO.shardOf("/data/shard-7.tar/part-0001.bin")
    }
    ()
  }

  test("u06 deletion drill: a non-deterministic predicate still certifies ONE corpus") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // the tagged frame checkpoints before the write AND the
    // certificate, so even a per-evaluation-random predicate yields a
    // self-consistent drill: totals add up and the rebuilt artifact
    // matches the deletion set judged (leak_count 0). Without the
    // barrier the write and the certificate would flip coins
    // independently.
    val docs = (1L to 60L).map(i =>
      (i, "en", "src", s"doc $i body")).toDF("doc_id", "lang", "source", "text")
    val out = java.nio.file.Files.createTempDirectory("u06nd").toString
    val c = graft.queries.PipelineOps.deletionDrillOf(
      docs, rand() < 0.5, out, shards = 2).collect().head
    assert(c.getLong(0) == 60L)
    assert(c.getLong(1) + c.getLong(2) == 60L,
      s"deleted+remaining != total: ${c.getLong(1)}+${c.getLong(2)}")
    assert(c.getLong(4) == 0L,
      "a checkpointed predicate must never certify a leak against its own write")
  }

  test("reliable barrier chain: a long run retires old rounds — at most two barrier dirs survive") {
    // r10 ADVICE: the reliable mode wrote a fresh barrier-<UUID> dir
    // per round and never deleted any. The chain retires round k-2 at
    // round k's write (k-1 must outlive the write: the convergence
    // checks read k and k-1 together), so a long iterative run holds
    // bounded checkpoint storage — and the labels stay identical.
    import spark.implicits._
    import graft.queries.PipelineOps.ccLabelsOf
    val ckDir = java.nio.file.Files.createTempDirectory("chainck").toString
    // a 24-node path needs several alternating rounds to converge
    val edges = (1L to 23L).map(i => (i, i + 1)).toDF("d1", "d2")
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1))
    val local = ccLabelsOf(edges).collect().map(key).toSet
    val reliable = ccLabelsOf(edges, checkpointDir = Some(ckDir))
      .collect().map(key).toSet
    assert(reliable == local, "chain-retired run diverged from local form")
    val left = new java.io.File(ckDir).listFiles()
      .filter(_.getName.startsWith("barrier-"))
    assert(left.length <= 2,
      s"barrier retirement broke: ${left.length} dirs survived the run")
    assert(left.nonEmpty, "the live barrier must survive (labels read it)")
  }

  test("d26 sweep floor: a background-mass min-tau fails loudly") {
    import spark.implicits._
    val docs = Seq((1L, "a b c d"), (2L, "a b c e"))
      .toDF("doc_id", "text")
    val ex = intercept[IllegalArgumentException] {
      graft.queries.PipelineOps.dedupSweepOf(docs, Seq(0.01, 0.5))
    }
    assert(ex.getMessage.contains("floor"), ex.getMessage)
  }

  test("u06 deletion drill: corpus text drifting between scans raises instead of shipping") {
    // the narrow (doc_id, is_del, digest) checkpoint assumes the docs
    // frame re-scans deterministically; a frame whose text CHANGES
    // between the certificate scan and the payload scan must fail
    // loudly — a silent pass would tar one corpus and certify another
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val flips = new java.util.concurrent.atomic.AtomicLong(0)
    val drifty = udf(() => s"body ${flips.incrementAndGet()}").asNondeterministic()
    val docs = (1L to 20L).map(i => (i, "en", "src"))
      .toDF("doc_id", "lang", "source")
      .withColumn("text", drifty())
    val out = java.nio.file.Files.createTempDirectory("u06drift").toString
    val ex = intercept[Exception] {
      graft.queries.PipelineOps.deletionDrillOf(
        docs, col("doc_id") % 2 === 0, out, shards = 1).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(ex).exists(_.contains("drifted")),
      s"expected the drift raise, got: ${messages(ex).mkString(" | ")}")
    // MEMBERSHIP drift (ids change between scans, not just text): the
    // inner join silently drops the moved ids, so the written-vs-judged
    // count guard must fire instead of shipping a thinner tar
    val shifts = new java.util.concurrent.atomic.AtomicLong(0)
    val driftyId = udf(() => 1000 + shifts.incrementAndGet()).asNondeterministic()
    val docs2 = (1L to 20L).map(i => (i, "en", "src", s"body $i"))
      .toDF("k", "lang", "source", "text")
      .withColumn("doc_id", driftyId()).drop("k")
    val out2 = java.nio.file.Files.createTempDirectory("u06mdrift").toString
    val ex2 = intercept[Exception] {
      graft.queries.PipelineOps.deletionDrillOf(
        docs2, col("doc_id") % 2 === 0, out2, shards = 1).collect()
    }
    assert(messages(ex2).exists(m =>
      m.contains("membership drifted") || m.contains("drifted")),
      s"expected the membership-drift raise, got: ${messages(ex2).mkString(" | ")}")
  }

  test("s21 matryoshka: ragged and empty embedding corpora fail with real messages") {
    import spark.implicits._
    import graft.queries.PipelineOps.matryoshkaRecallOf
    val ragged = Seq((1L, Seq(1.0, 0.0, 0.0, 0.0)), (2L, Seq(1.0, 0.0)))
      .toDF("vec_id", "e")
    val exR = intercept[IllegalArgumentException] {
      matryoshkaRecallOf(ragged, ragged.limit(1), dims = Seq(2, 4), k = 1)
    }
    assert(exR.getMessage.contains("ragged"), exR.getMessage)
    val empty = Seq.empty[(Long, Seq[Double])].toDF("vec_id", "e")
    val exE = intercept[IllegalArgumentException] {
      matryoshkaRecallOf(empty, empty, dims = Seq(2, 4), k = 1)
    }
    assert(exE.getMessage.contains("non-empty"), exE.getMessage)
  }

  test("samp08 temperature grid: duplicate taus fail loudly") {
    import spark.implicits._
    val docs = Seq(("en", "a b c"), ("fr", "d e"))
      .toDF("lang", "text")
    val ex = intercept[IllegalArgumentException] {
      graft.queries.PipelineOps.temperatureGridOf(docs, Seq(0.5, 0.7, 0.5))
    }
    assert(ex.getMessage.contains("distinct"), ex.getMessage)
  }

  test("t24 zipf audit: plain-Scala recompute; exact-Zipf fixture fits slope -1") {
    import spark.implicits._
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def recompute(texts: Seq[String], v: Int) = {
      val counts = texts.flatMap(_.split(" ", -1)).groupBy(identity)
        .map { case (t, g) => (t, g.size.toLong) }.toSeq
      val total = counts.map(_._2).sum
      val top = counts.sortBy { case (t, f) => (-f, t) }.take(v).zipWithIndex
        .map { case ((_, f), i) => (i + 1L, f) }
      val (n, sx, sy, sxy, sxx) = (top.size.toDouble,
        top.map(p => math.log(p._1.toDouble)).sum,
        top.map(p => math.log(p._2.toDouble)).sum,
        top.map(p => math.log(p._1.toDouble) * math.log(p._2.toDouble)).sum,
        top.map(p => math.log(p._1.toDouble) * math.log(p._1.toDouble)).sum)
      val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
      (counts.size.toLong, total,
        r6(slope), r6((sy - slope * sx) / n),
        r6(top.filter(_._1 <= 10).map(_._2).sum.toDouble / total),
        r6(top.filter(_._1 <= 100).map(_._2).sum.toDouble / total))
    }
    val texts = Tables.t(spark, dir, "documents").select("text")
      .as[String].collect().toSeq
    val exp = recompute(texts, 1000)
    val r = run("t24_zipf_audit").collect().head
    assert((r.getLong(2), r.getLong(1), r.getDouble(3), r.getDouble(4),
      r.getDouble(5), r.getDouble(6)) == exp)
    assert(r.getDouble(3) < 0, "frequencies must decay with rank")
    assert(r.getDouble(5) < r.getDouble(6) && r.getDouble(6) <= 1.0)
    // crafted exact-Zipf corpus (term k appears ~C/k times) must fit
    // slope ≈ -1 — the audit must RECOGNIZE a healthy distribution
    val zipf = (1 to 50).flatMap(k => Seq.fill(600 / k)(s"w$k"))
    val crafted = Seq(zipf.mkString(" ")).toDF("text")
    val slope = graft.queries.PipelineOps.zipfAuditOf(crafted, v = 50)
      .collect().head.getDouble(3)
    assert(math.abs(slope + 1.0) < 0.05, s"exact-Zipf fixture fit $slope")
  }

  test("cur05 source concentration: plain-Scala recompute, Gini extremes") {
    import spark.implicits._
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val docs = Tables.t(spark, dir, "documents").select("source", "text")
      .as[(String, String)].collect()
    val mass = docs.groupBy(_._1).map { case (s, g) =>
      (s, g.map(_._2.split(" ", -1).length.toLong).sum) }.toSeq
    val asc = mass.sortBy { case (s, m) => (m, s) }.zipWithIndex
    val n = mass.size.toLong; val total = mass.map(_._2).sum
    val sIm = asc.map { case ((_, m), i) => (i + 1) * m }.sum
    val gini = r6(2.0 * sIm / (n * total) - (n + 1) / n.toDouble)
    // the kernel's j-order is (m desc, source desc) = asc order reversed
    val desc = mass.sortBy { case (s, m) => (m, s) }.reverse
    val r = run("cur05_source_concentration").collect().head
    assert(r.getLong(0) == n && r.getLong(1) == total)
    assert(r.getDouble(2) == gini)
    assert(r.getDouble(3) == r6(desc.head._2.toDouble / total))
    assert(r.getDouble(4) == r6(desc.take(5).map(_._2).sum.toDouble / total))
    // extremes: equal masses → 0; a 2-source [1, 999] split →
    // 2·1999/2000 − 3/2 = 0.499, just under the n=2 supremum 0.5
    // (and top1 carries ~everything)
    val flat = Seq(("a", "x y"), ("b", "x y"), ("c", "x y"))
      .toDF("source", "text")
    assert(graft.queries.PipelineOps.sourceConcentrationOf(flat)
      .collect().head.getDouble(2) == 0.0)
    val skew = Seq(("a", "t"), ("b", Seq.fill(999)("t").mkString(" ")))
      .toDF("source", "text")
    val g2 = graft.queries.PipelineOps.sourceConcentrationOf(skew)
      .collect().head
    assert(g2.getDouble(2) == 0.499 && g2.getDouble(3) == 0.999)
  }

  test("d25 lsh calibration: closed-form S-curve, monotonicity, d03 consistency") {
    import spark.implicits._
    def r4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = run("d25_lsh_calibration").collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3), r.getLong(4),
        r.getDouble(5), r.getDouble(6))).sortBy(_._1)
    assert(got.map(g => (g._1, g._2)).toSeq ==
      Seq((1L, 16L), (2L, 8L), (4L, 4L), (8L, 2L), (16L, 1L)))
    // s50 falls as bands grow (fixed 16-hash budget): more bands =
    // more permissive
    got.sliding(2).foreach { case Array(a, b) =>
      assert(a._3 > b._3, s"s50 not decreasing: ${a._1} vs ${b._1} bands")
    }
    // expectations are probabilities over their pair sets
    got.foreach { g =>
      assert(g._6 >= 0 && g._6 <= g._4 + 1e-9, s"exp_true out of range: $g")
      assert(g._7 >= 0 && g._7 <= g._5 + 1e-9, s"exp_false out of range: $g")
    }
    // the trade the audit exists to expose, on this corpus: the
    // all-bands config catches every true pair but drowns in
    // background candidates; the one-band config is clean but blind
    val b16 = got.find(_._1 == 16L).get; val b1 = got.find(_._1 == 1L).get
    assert(b16._6 > 0.999 * b16._4, s"(16,1) should detect ~all true pairs: $b16")
    assert(b16._7 > 100, s"(16,1) should flood with background candidates: $b16")
    assert(b1._7 < 1.0, s"(1,16) background load should be ~zero: $b1")
    assert(b1._6 < b1._4, s"(1,16) must lose some recall: $b1")
    // n_true at tau = 0.5 is exactly d03's pair count
    val d03n = run("d03_ngram_jaccard").count()
    got.foreach(g => assert(g._4 == d03n, s"n_true disagrees with d03: $g"))
    // closed-form check on a crafted pair of known J = 0.5
    val crafted = Seq((1L, "a b c d e"), (2L, "a b c d x"),
      (3L, "p q r s t")).toDF("doc_id", "text")
    val m = graft.queries.PipelineOps.lshCalibrationOf(crafted, tau = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(5)))
    m.foreach { case (b, rr, expTrue) =>
      val p = r4(1.0 - math.pow(1.0 - math.pow(0.5, rr.toDouble), b.toDouble))
      assert(expTrue == p, s"closed-form mismatch at ($b,$rr): $expTrue vs $p")
    }
  }

  test("cur04 source overlap: plain-Scala recompute, pair completeness") {
    import spark.implicits._
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    val docs = Tables.t(spark, dir, "documents").select("source", "text")
      .as[(String, String)].collect()
    val perSrc = docs.map { case (src, t) =>
      (md5hex(t.split(" ", -1).distinct.sorted.mkString(" ")), src)
    }.groupBy(identity).map { case ((fp, src), g) => (fp, src, g.length.toLong) }
    val expected = perSrc.groupBy(_._1).values.filter(_.size > 1).toSeq
      .flatMap { g =>
        for (a <- g; b <- g if a._2 < b._2) yield (a._2, b._2, a._3, b._3)
      }
      .groupBy(p => (p._1, p._2)).toSeq.sortBy(_._1).map { case ((sa, sb), g) =>
        (sa, sb, g.size.toLong, g.map(_._3).sum, g.map(_._4).sum)
      }
    val got = run("cur04_source_overlap").collect().map(r =>
      (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got == expected)
    assert(got.nonEmpty, "no cross-source overlap found — degenerate corpus")
    got.foreach { case (sa, sb, n, da, db) =>
      assert(sa < sb, s"unordered pair $sa/$sb")
      assert(n >= 1 && da >= n && db >= n, s"inconsistent masses for $sa/$sb")
    }
    // a fingerprint spanning 3 sources must emit all 3 pairs, with
    // per-side doc multiplicity carried through
    val crafted = Seq(("sA", "x y z"), ("sB", "z y x"), ("sB", "x z y"),
      ("sC", "y x z"), ("sA", "only here")).toDF("source", "text")
    val m = graft.queries.PipelineOps.sourceOverlapOf(crafted).collect().map(r =>
      (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(m.toSet == Set(("sA", "sB", 1L, 1L, 2L), ("sA", "sC", 1L, 1L, 1L),
      ("sB", "sC", 1L, 2L, 1L)), s"crafted matrix wrong: ${m.mkString(", ")}")
  }

  test("u05 dp release: plain-Scala recompute, Laplace invariants, clip bites") {
    import spark.implicits._
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    def h60(s: String) = java.lang.Long.parseLong(md5hex(s).substring(0, 15), 16)
    def r4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    def lap(seed: String, b: Double): Double = {
      val u = (h60(seed) % 1000000L + 0.5) / 1000000.0
      -b * math.signum(u - 0.5) * math.log(1.0 - 2.0 * math.abs(u - 0.5))
    }
    val docs = Tables.t(spark, dir, "documents")
      .select("lang", "source", "text").as[(String, String, String)].collect()
    val expected = docs.groupBy(d => (d._1, d._2)).toSeq.sortBy(_._1).map {
      case ((lang, src), g) =>
        val nDocs = g.length.toLong
        val nTok = g.map(d => math.min(d._3.split(" ", -1).length.toLong, 2000L)).sum
        val seed = s"${lang.length}:$lang${src.length}:$src"
        (lang, src, 1.0,
          r4(nDocs + lap(seed + "docs", 1.0)),
          r4(nTok + lap(seed + "tokens", 2000.0)))
    }
    val got = run("u05_dp_release").collect().map(rr =>
      (rr.getString(0), rr.getString(1), rr.getDouble(2), rr.getDouble(3),
        rr.getDouble(4))).toSeq
    assert(got == expected)
    // Laplace invariants: noise is bounded by the inverse-CDF tail at
    // the 1e-6 grid (b·ln(1e6) ≈ 13.8·b) and actually perturbs —
    // a release equal to the true counts means the mechanism is off
    val trueCells = docs.groupBy(d => (d._1, d._2)).map { case (k, g) =>
      k -> (g.length.toLong,
        g.map(d => math.min(d._3.split(" ", -1).length.toLong, 2000L)).sum)
    }
    val maxD = 1.0 * math.log(1e6); val maxT = 2000.0 * math.log(1e6)
    var perturbed = 0
    got.foreach { case (lang, src, _, rd, rt) =>
      val (td, tt) = trueCells((lang, src))
      assert(math.abs(rd - td) <= maxD + 1e-6, s"$lang/$src doc noise out of range")
      assert(math.abs(rt - tt) <= maxT + 1e-6, s"$lang/$src token noise out of range")
      if (rd != td.toDouble || rt != tt.toDouble) perturbed += 1
    }
    assert(perturbed > got.length / 2, s"mechanism barely fired: $perturbed cells")
    // the clip must actually bound sensitivity: a crafted 3000-token
    // doc contributes exactly 2000 (this corpus has no doc that long,
    // so the gate alone cannot exercise the clip)
    val big = Seq(("zz", "crafted", ("tok " * 3000).trim),
      ("zz", "crafted", "short doc")).toDF("lang", "source", "text")
    val rel = graft.queries.PipelineOps.dpReleaseOf(big, eps = 1.0, clip = 2000L)
      .collect().head
    val expTok = r4(2000L + 2L + lap("2:zz7:craftedtokens", 2000.0))
    assert(rel.getDouble(4) == expTok,
      s"clip did not bound the 3000-token doc: ${rel.getDouble(4)} vs $expTok")
    // the length-prefixed seed keeps delimiter-carrying cells apart:
    // ("a|b", "c") and ("a", "b|c") collided under the old 'l|s|stat'
    // encoding — their releases must now draw DIFFERENT noise
    val tricky = Seq(("a|b", "c", "one two"), ("a", "b|c", "one two"))
      .toDF("lang", "source", "text")
    val tr = graft.queries.PipelineOps.dpReleaseOf(tricky, eps = 1.0, clip = 2000L)
      .collect().map(r => r.getString(0) -> ((r.getDouble(3), r.getDouble(4)))).toMap
    assert(tr("a|b")._1 != tr("a")._1 && tr("a|b")._2 != tr("a")._2,
      s"delimiter-carrying cells still share a noise draw: $tr")
  }

  test("p10 crawl chain: stage 1 equals standalone t23; every stage bites") {
    import spark.implicits._
    // stage-1 cross-check: the composition's extraction must equal the
    // standalone t23 kernel doc-for-doc (shared code, pinned anyway —
    // p09's discipline)
    val docs = Tables.t(spark, dir, "documents").select("doc_id", "lang", "text")
    val standalone = graft.queries.PipelineOps.htmlExtractOf(
      graft.queries.PipelineOps.htmlPageOf(docs.select("doc_id", "text"), 12), 3)
      .select("doc_id", "extracted_md5").as[(Long, String)].collect().toMap
    val composed = graft.queries.PipelineOps.htmlExtractOf(
      graft.queries.PipelineOps.htmlPageOf(docs, 12, carry = Seq("lang")),
      3, carry = Seq("lang"))
      .select("doc_id", "extracted_md5").as[(Long, String)].collect().toMap
    assert(composed == standalone, "carry-columns variant diverged from t23")
    // funnel sanity: the gate and the dedup both bite
    val card = run("p10_crawl_v1").collect()
    val (nRaw, nGate) = (card.map(_.getLong(1)).sum, card.map(_.getLong(2)).sum)
    val (tokExt, tokFin) = (card.map(_.getLong(3)).sum, card.map(_.getLong(4)).sum)
    assert(nGate < nRaw, "line gate never bites")
    assert(nGate > 0 && tokFin > 0, "pipeline must pass something")
    assert(tokFin < tokExt, "intra-doc dedup never bites")
  }

  test("cluster rollup: members-csv truncates at the cap, n_members keeps the true count") {
    // the r8 watch: a pathological giant cluster must not become a
    // multi-GB members row. The cap binds before the collect (bounded
    // heap) and truncation is VISIBLE — n_members stays the true count.
    import spark.implicits._
    import graft.queries.PipelineOps.{ccAlternatingOf, dupClustersOf}
    val edges = ((1L to 6L).map(i => (i, i + 1)) :+ (10L, 11L)).toDF("d1", "d2")
    val expected = Seq((1L, 7L, "1,2,3"), (10L, 2L, "10,11"))
    def key(df: org.apache.spark.sql.DataFrame) = df.orderBy("cluster_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(key(ccAlternatingOf(edges, membersCap = 3)) == expected)
    assert(key(dupClustersOf(edges, rounds = 7, membersCap = 3)) == expected)
    // and the bounded heap is in the plan: a literal row_number cut
    // (WindowGroupLimit), not a full-cluster collect then slice
    val plan = ccAlternatingOf(edges, membersCap = 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"members cap must bind pre-collect as a bounded heap:\n$plan")
  }

  test("st09 streaming bloom gate: sink equals batch d23, sketch artifact round-trips bit-exact") {
    import graft.queries.PipelineOps
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4))
    // d23 is oracle-verified; the streamed sink must equal it exactly
    val batchVerdict = run("d23_bloom_dedup_gate").collect().map(key).toSet
    val streamed = graft.queries.MediaCatalogOps
      .defs("st09_stream_bloom_gate")(spark, dir).collect().map(key).toSet
    assert(streamed == batchVerdict)
    // artifact round trip: persisted-then-loaded sketch serializes to
    // the same bytes as the built one
    val corpusH = PipelineOps.bloomCorpusHashes(
      graft.Tables.t(spark, dir, "documents")
        .filter(org.apache.spark.sql.functions.col("doc_id") % 7 =!= 3)
        .select("doc_id", "text"), 3)
    val built = PipelineOps.bloomSketchOf(corpusH, 0.03)
    val tmp = java.nio.file.Files.createTempDirectory("bloom-rt").toString
    PipelineOps.bloomPersist(built, tmp, spark)
    val loaded = PipelineOps.bloomLoad(tmp, spark)
    def bytes(b: org.apache.spark.util.sketch.BloomFilter) = {
      val bos = new java.io.ByteArrayOutputStream(); b.writeTo(bos); bos.toByteArray
    }
    assert(java.util.Arrays.equals(bytes(built), bytes(loaded)),
      "sketch artifact round trip is not bit-exact")
  }

  test("t21 C4 line gate: every rule branch on crafted docs + corpus recompute") {
    import spark.implicits._
    import graft.queries.PipelineOps.c4LineGateOf
    // crafted at lineWords=3/minLineWords=2/lineBlock=[bad]/docBlock=[evil]/minKept=2:
    // short-tail drop, line-blocklist drop, too_few_lines verdict, and
    // doc-blocklist PRECEDENCE over the line-count cut
    val crafted = Seq(
      (1L, "a b c d e f g"),      // [abc][def][g]: tail g < 2 words -> kept 2, verdict kept
      (2L, "a b bad d e f"),      // [ab bad][def]: line 1 blocked -> kept 1, too_few_lines
      (3L, "evil b c d e f"),     // doc blocklist, though 2 lines would survive
      (4L, "x y bad evil z")      // doc blocklist wins over too_few_lines
    ).toDF("doc_id", "text")
    val got = c4LineGateOf(crafted, 3, 2, Seq("bad"), Seq("evil"), 2).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3),
        if (r.isNullAt(4)) None else Some(r.getString(4))))).toMap
    def m(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(got(1L) == ((3L, 2L, "kept", Some(m("a b c d e f")))), got(1L).toString)
    assert(got(2L) == ((2L, 1L, "too_few_lines", None)), got(2L).toString)
    assert(got(3L) == ((2L, 2L, "doc_blocklist", None)), got(3L).toString)
    assert(got(4L) == ((2L, 1L, "doc_blocklist", None)), got(4L).toString)
    // full corpus recompute under the entry's parameters
    val docs = graft.Tables.t(spark, dir, "documents")
      .select("doc_id", "text").as[(Long, String)].collect()
    val expected = docs.map { case (id, t) =>
      val w = t.split(" ", -1)
      val lines = w.grouped(10).toSeq
      val kept = lines.filter(l => l.length >= 6 && !l.contains("vector"))
      val verdict =
        if (w.contains("dup")) "doc_blocklist"
        else if (kept.size < 2) "too_few_lines" else "kept"
      id -> ((lines.size.toLong, kept.size.toLong, verdict,
        if (verdict == "kept") Some(m(kept.map(_.mkString(" ")).mkString(" ")))
        else None))
    }.toMap
    val full = run("t21_c4_line_gate").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3),
        if (r.isNullAt(4)) None else Some(r.getString(4))))).toMap
    assert(full == expected)
    val verdicts = full.values.map(_._3).toSet
    assert(verdicts == Set("kept", "too_few_lines", "doc_blocklist"),
      s"every rule branch must bite on the corpus: $verdicts")
  }

  test("d22 intra-doc dedup: keep-first semantics on crafted repeats + corpus recompute") {
    import spark.implicits._
    import graft.queries.PipelineOps.intraDocDedupOf
    // crafted: in-doc repeats, including a repeat of the FIRST window
    // and a doc that is one window repeated; order must be preserved
    val crafted = Seq(
      (1L, "a b c d a b e f"),     // [ab, cd, ab, ef] -> keep [ab, cd, ef]
      (2L, "x y x y x y"),         // [xy, xy, xy]     -> keep [xy]
      (3L, "p q r s t")            // odd tail: [pq, rs, t] all distinct
    ).toDF("doc_id", "text")
    val got = intraDocDedupOf(crafted, 2).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    def m(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(got(1L) == ((4L, 1L, m("a b c d e f"))), got(1L).toString)
    assert(got(2L) == ((3L, 2L, m("x y"))), got(2L).toString)
    assert(got(3L) == ((3L, 0L, m("p q r s t"))), got(3L).toString)
    // full corpus recompute: keep-first over 2-word windows
    val docs = graft.Tables.t(spark, dir, "documents")
      .select("doc_id", "text").as[(Long, String)].collect()
    val expected = docs.map { case (id, t) =>
      val chunks = t.split(" ", -1).grouped(2).map(_.mkString(" ")).toSeq
      val kept = chunks.distinct
      id -> (chunks.size.toLong, (chunks.size - kept.size).toLong,
        m(kept.mkString(" ")))
    }.toMap
    val full = run("d22_intradoc_dedup").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(full == expected)
    assert(full.values.exists(_._2 > 0), "corpus must exercise a real in-doc cut")
  }

  test("t17 tokenizer apply: per-doc token counts under the learned merges") {
    import spark.implicits._
    import graft.queries.PipelineOps.bpeTokenizeOf
    // same crafted corpus as the t16 test: merges learned are 'a b'
    // then 'ab c', so abc -> 1 token, abd/abq -> 2 (ab + tail)
    val docs = Seq((1L, "abc abc abc abd"), (2L, "abc abq")).toDF("doc_id", "text")
    val out = bpeTokenizeOf(docs, merges = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(out == Seq((1L, 4L, 5L), (2L, 2L, 3L)), out.mkString(", "))
    // more merges than the corpus supports: loop exhausts, encoding
    // still total (every word fully merged to 1 token here)
    val tiny = Seq((1L, "xy xy")).toDF("doc_id", "text")
    val t = bpeTokenizeOf(tiny, merges = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(t == Seq((1L, 2L, 2L)), t.mkString(", "))
  }

  test("samp01 mixture sampling: rate-1.0 stratum intact, rates ordered, deterministic") {
    val a = run("samp01_mixture_sample").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // de keeps everything (rate 10000/10000)
    assert(a("de")._1 == a("de")._2, "de stratum must survive whole at rate 1.0")
    // fr (10%) keeps proportionally less than zh (75%); exact counts are
    // hash-determined, so just order them
    val frRate = a("fr")._2.toDouble / a("fr")._1
    val zhRate = a("zh")._2.toDouble / a("zh")._1
    assert(frRate < zhRate, s"fr rate $frRate not below zh rate $zhRate")
    val b = run("samp01_mixture_sample").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(a == b, "sampling not deterministic across runs")
  }

  test("u01 domain cap: two-phase cap equals the single-phase truth") {
    val twoPhase = run("u01_domain_cap").collect()
      .map(r => (r.getString(0), r.getLong(3), r.getLong(4), r.getLong(5)))
    // single-phase reference: one global row_number per domain
    val url = concat(lit("https://h"), col("doc_id") % 40, lit("."),
      col("source"), lit(".example.com/p/"), col("doc_id"))
    val docs = Tables.t(spark, dir, "documents")
      .withColumn("host", regexp_extract(url, "https://([^/]+)/", 1))
      .withColumn("domain", regexp_extract(col("host"), "^[^.]+\\.(.*)$", 1))
    val w = Window.partitionBy("domain").orderBy("doc_id")
    val single = docs.withColumn("r", row_number().over(w)).filter(col("r") <= 15)
      .groupBy("domain")
      .agg(count(lit(1)).as("n_kept"), min("doc_id"), max("doc_id"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(twoPhase.sortBy(_._1).toSeq == single.sortBy(_._1).toSeq)
    twoPhase.foreach { case (dom, kept, _, _) => assert(kept <= 15, s"$dom over cap") }
  }

  test("p02 sequence packing: token mass conserved per source, bins honest") {
    val bins = run("p02_sequence_packing").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    val totals = Tables.t(spark, dir, "documents")
      .groupBy("source").agg(
        sum(size(split(col("text"), " ")).cast("long")).as("tok"),
        count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    bins.groupBy(_._1).foreach { case (src, bs) =>
      assert(bs.map(_._4).sum == totals(src)._1, s"$src token mass not conserved")
      assert(bs.map(_._3).sum == totals(src)._2, s"$src doc count not conserved")
      assert(bs.forall(_._2 >= 0), s"$src negative bin id")
    }
    bins.foreach { case (src, bin, _, tok, fill) =>
      assert(math.abs(fill - math.round(tok / 256.0 * 10000) / 10000.0) < 1e-9,
        s"$src bin $bin fill ratio inconsistent")
    }
  }

  test("d13 bloom decontamination: no false negatives vs exact, dec01 agreement") {
    val rows = run("d13_bloom_decontaminate").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(rows.nonEmpty)
    // the Bloom guarantee: every exact hit is a bloom hit
    rows.foreach { case (id, n, ex, bl) =>
      assert(ex <= bl, s"doc $id: bloom missed an exact member ($ex exact > $bl bloom)")
      assert(bl <= n, s"doc $id: more bloom hits than grams")
    }
    // exact counts must agree with dec01's independent broadcast path
    val dec = run("dec01_decontaminate").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { case (id, _, ex, _) =>
      assert(dec.getOrElse(id, 0L) == ex, s"doc $id exact count disagrees with dec01")
    }
  }

  test("d14 incremental dedup equals d03's pairs restricted to the batch/corpus cut") {
    // the incremental path must lose nothing vs the full self-join: its
    // output is exactly the d03 pair set with one endpoint on each side
    // of the cut, oriented batch-first
    val inc = run("d14_incremental_dedup").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val full = run("d03_ngram_jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter { case (a, b, _) => (a % 7 == 3) != (b % 7 == 3) }
      .map { case (a, b, j) => if (a % 7 == 3) (a, b, j) else (b, a, j) }
      .toSet
    assert(inc == full, s"incremental pairs diverge from the self-join cut: " +
      s"only-inc=${inc -- full}, only-full=${full -- inc}")
    inc.foreach { case (b, c, _) =>
      assert(b % 7 == 3 && c % 7 != 3, s"pair ($b,$c) crosses the cut wrong")
    }
  }

  test("sink02 sharding: total partition of the corpus, balanced, word mass preserved") {
    val shards = run("sink02_sharded_output").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(shards.map(_._1).toSet == (0L until 8L).toSet, "a shard directory is missing")
    assert(shards.map(_._2).sum == 500L, "sharding must partition every doc exactly once")
    // md5 interleave: no shard should be pathologically hot or empty
    val counts = shards.map(_._2)
    assert(counts.min > 0 && counts.max < 3 * (500 / 8),
      s"shard skew out of bounds: $counts")
    val totalWords = Tables.t(spark, dir, "documents")
      .select(sum(size(split(col("text"), " ")).cast("long"))).collect()(0).getLong(0)
    assert(shards.map(_._3).sum == totalWords, "round trip lost word mass")
  }

  test("t11 entropy: bounded by log2(distinct chars), degenerate docs at zero") {
    val rows = run("t11_char_entropy").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.length == 500)
    rows.foreach { case (id, k, h) =>
      assert(h >= 0.0, s"doc $id negative entropy")
      assert(h <= math.log(k.toDouble) / math.log(2.0) + 1e-4,
        s"doc $id entropy $h exceeds log2($k)")
      if (k == 1) assert(h == 0.0, s"single-char doc $id must have zero entropy")
    }
    // natural-ish text must not be degenerate: most docs well above 0
    assert(rows.count(_._3 > 1.0) > 400, "entropy signal is degenerate on this corpus")
  }

  test("s06 ann recall agrees with a driver-side set intersection of s01 and s02") {
    val exact = run("s01_cosine_topk").collect()
      .map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val approx = run("s02_ann_ivf").collect()
      .map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val recall = run("s06_ann_recall").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(recall.map(_._1).toSet == exact.keySet)
    recall.foreach { case (qid, hit, rec) =>
      val expected = (exact(qid) & approx.getOrElse(qid, Set.empty)).size
      assert(hit == expected, s"query $qid: reported $hit hits, set intersection $expected")
      assert(rec >= 0.0 && rec <= 1.0)
      assert(math.abs(rec - hit / 5.0) < 1e-9, s"query $qid recall != n_hit/5")
    }
  }

  test("cur01 corpus report: accounts every doc, quantiles ordered within bounds") {
    val rows = run("cur01_corpus_report").collect()
    assert(rows.map(_.getLong(2)).sum == 500L, "report must account every doc")
    rows.foreach { r =>
      val (avg, med, p90) = (r.getDouble(4), r.getDouble(5), r.getDouble(6))
      assert(med <= p90, s"median > p90 for ${r.getString(0)}/${r.getString(1)}")
      assert(avg > 0 && med > 0, "degenerate stats")
    }
  }

  test("st03 streaming sessions equal the batch lag-window sessionization (ms arithmetic)") {
    val streamed = run("st03_stream_sessions").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val batch = Tables.t(spark, dir, "events").orderBy("event_id").limit(5000)
      // ts reads back as TIMESTAMP_NTZ from parquet; cast through LTZ in
      // the same (UTC) session the Event encoder uses so both sides share
      // one epoch-ms mapping.
      .withColumn("ms", expr("unix_millis(cast(ts as timestamp_ltz))"))
      .withColumn("prev", lag("ms", 1).over(byUser))
      .withColumn("new_sess",
        when(col("prev").isNull || col("ms") - col("prev") > 1800000L, 1L).otherwise(0L))
      .groupBy("user_id")
      .agg(sum("new_sess").as("n_sessions"), count(lit(1)).as("n_events"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    assert(streamed == batch)
    assert(streamed.map(_._3).sum == 5000L, "session flush lost or duplicated events")
  }

  // ---- s25 kmeans|| init ------------------------------------------------------

  test("s25: oversampling fired, the kmeans|| init beats the rank baseline, fixture recovers clusters") {
    val rows = run("s25_kmeanspar_init").collect()
      .map(r => r.getString(0) -> (r.getInt(1), r.getInt(2), r.getLong(3)))
      .toMap
    val (bk, bc, bi) = rows("baseline_rank")
    val (kk, kc, ki) = rows("kmeans_par")
    assert(bk == 8 && kk == 8 && bc == 8)
    assert(kc > 8, s"oversampling produced only $kc candidates — the draw never fired")
    assert(ki < bi,
      s"kmeans|| init ($ki) must beat the rank baseline ($bi) — the audit's whole point")
    // crafted fixture: three well-separated clusters; the rank
    // baseline's 3 lowest ids all sit in cluster A, so its inertia
    // carries both far clusters; kmeans|| oversamples by D^2 and its
    // reduction must cover all three — a large, structural win
    import spark.implicits._
    import graft.queries.PipelineOps.kmeansParallelInitOf
    def pt(base: Array[Double], eps: Double) = base.map(_ + eps)
    val a = Array(0.0, 0.0, 0.0); val b = Array(100.0, 0.0, 0.0)
    val c = Array(0.0, 100.0, 0.0)
    val crafted = Seq(
      (1L, pt(a, 0.0)), (2L, pt(a, 0.1)), (3L, pt(a, 0.2)),
      (11L, pt(b, 0.0)), (12L, pt(b, 0.1)), (13L, pt(b, 0.2)),
      (21L, pt(c, 0.0)), (22L, pt(c, 0.1)), (23L, pt(c, 0.2)))
      .toDF("vec_id", "e")
    val r = kmeansParallelInitOf(crafted, k = 3, l = 8, rounds = 3)
      .collect().map(x => x.getString(0) -> x.getLong(3)).toMap
    assert(r("kmeans_par") * 10 < r("baseline_rank"),
      s"separated-cluster fixture should be a 10x+ win: $r")
    intercept[IllegalArgumentException](
      kmeansParallelInitOf(crafted, k = 0, l = 8, rounds = 3))
  }

  // ---- sel02 k-center coreset ------------------------------------------------

  test("sel02: greedy trajectory equals a plain-Scala replay; radius strictly decreases") {
    def cm(a: Array[Double], b: Array[Double]): Long = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      math.floor(dot / (math.sqrt(na) * math.sqrt(nb)) * 10000 + 0.5).toLong
    }
    val vecs = Tables.t(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val got = run("sel02_kcenter_select").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
    // independent greedy replay
    val seed = vecs.keys.min
    var chosen = List(seed)
    var mind = (vecs.keys.toSet - seed)
      .map(v => v -> (10000L - cm(vecs(v), vecs(seed)))).toMap
    val expect = Seq((1, seed, 20000L)) ++ (2 to 8).map { it =>
      val (nid, rad) = mind.toSeq.minBy { case (v, d) => (-d, v) }
      chosen ::= nid
      mind = (mind - nid).map { case (v, d) =>
        v -> math.min(d, 10000L - cm(vecs(v), vecs(nid))) }
      (it, nid, rad)
    }
    assert(got == expect, s"k-center trajectory diverged:\n$got\nvs\n$expect")
    // coverage radius strictly decreases and picks are distinct
    got.sliding(2).foreach { case Seq((_, _, r1), (_, _, r2)) =>
      assert(r2 < r1, s"radius did not decrease: $r1 -> $r2") }
    assert(got.map(_._2).distinct.size == 8)
    // crafted fixture: a tight cluster + one outlier — the outlier is
    // picked SECOND (it is the farthest thing from the seed cluster)
    import spark.implicits._
    import graft.queries.PipelineOps.kcenterSelectOf
    val crafted = Seq(
      (1L, Array(1.0, 0.0, 0.01)),
      (2L, Array(1.0, 0.01, 0.0)),
      (3L, Array(1.0, 0.0, 0.02)),
      (9L, Array(-1.0, 0.5, 0.0))).toDF("vec_id", "e")
    val r = kcenterSelectOf(crafted, k = 3).collect()
      .map(x => (x.getInt(0), x.getLong(1))).toSeq
    assert(r.map(_._2).take(2) == Seq(1L, 9L),
      s"outlier not picked second: $r")
    intercept[IllegalArgumentException](kcenterSelectOf(crafted, 0))
    // k beyond the corpus ends the trajectory early instead of
    // crashing (self-review catch; the oracle's recursion stops the
    // same way)
    val short = kcenterSelectOf(crafted, k = 10).collect()
    assert(short.length == 4,
      s"4-vector corpus must yield a 4-pick trajectory, got ${short.length}")
  }

  // ---- samp11 Neyman allocation ----------------------------------------------

  test("samp11: plain-Scala recompute; variance, not size, drives the budget") {
    import org.apache.spark.unsafe.types.UTF8String
    def h60(id: Long) =
      graft.exprs.Md5Bits60.compute(UTF8String.fromString(id.toString))
    // full independent recompute from the raw corpus
    val docs = Tables.t(spark, dir, "documents")
      .select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).cast("long").as("x"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val byLang = docs.groupBy(_._2)
    val sq = byLang.map { case (l, rows) =>
      val n = rows.size.toLong
      val sx = rows.map(_._3).sum; val sxx = rows.map(r => r._3 * r._3).sum
      l -> math.floor(math.sqrt((n * sxx - sx * sx).toDouble) * 1e6 + 0.5).toLong
    }
    val denom = sq.values.sum
    val expect = byLang.toSeq.map { case (l, rows) =>
      val alloc = math.floor(100.0 * sq(l) / denom + 0.5).toLong
      val drawn = rows.sortBy(r => (h60(r._1), r._1)).take(alloc.toInt)
      (l, rows.size.toLong, sq(l), alloc, drawn.size.toLong,
        drawn.map(_._1).sum)
    }.sortBy(_._1)
    val got = run("samp11_neyman_alloc").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got == expect, s"Neyman table diverged:\n$got\nvs\n$expect")
    assert(got.map(_._4).sum >= 95 && got.map(_._4).sum <= 105,
      "rounded allocations must stay near the budget")
    // crafted fixture: equal-size strata, one uniform (zero variance),
    // one wildly varying — the WHOLE budget goes to the varying one
    import spark.implicits._
    import graft.queries.PipelineOps.neymanAllocOf
    val crafted = ((1 to 10).map(i => (i.toLong, "flat",
        Seq.fill(10)("w").mkString(" "))) ++
      (11 to 20).map(i => (i.toLong, "wild",
        Seq.fill(if (i % 2 == 0) 2 else 200)("w").mkString(" "))))
      .toDF("doc_id", "lang", "text")
    val r = neymanAllocOf(crafted, budget = 10).collect()
      .map(x => (x.getString(0), x.getLong(3), x.getLong(4))).toSeq
    assert(r == Seq(("flat", 0L, 0L), ("wild", 10L, 10L)),
      s"variance-optimal allocation diverged: $r")
    // an all-zero-variance corpus fails loud (self-review catch: the
    // denom=0 NaN allocation used to silently draw nothing)
    val uniform = (1 to 6).map(i =>
      (i.toLong, if (i <= 3) "a" else "b", "w w w")).toDF("doc_id", "lang", "text")
    val ex = intercept[IllegalArgumentException](
      neymanAllocOf(uniform, budget = 10))
    assert(ex.getMessage.contains("zero token-count variance"))
  }

  // ---- guard04 schema drift -------------------------------------------------

  test("guard04: breakage classes land in the right rows; identical snapshots are silent") {
    val rows = run("guard04_schema_drift").collect()
      .map(r => r.getString(0) -> (r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3),
        r.getLong(6))).toMap
    assert(rows.keySet == Set("doc_id", "text", "lang", "source",
      "n_chars", "quality"))
    // the three planted breakages, each in its own row
    assert(rows("quality")._1 == "added" && rows("n_chars")._1 == "removed")
    assert(rows("lang") == (("kept", 0L, 50L, 100000L)),
      s"lang nulling (50/500 = 0.1 rate = 100000 micro) misreported: ${rows("lang")}")
    // untouched columns drift zero
    Seq("doc_id", "text", "source").foreach { c =>
      assert(rows(c)._1 == "kept" && rows(c)._4 == 0L, s"$c drifted: ${rows(c)}") }
    // identical snapshots: every column kept, zero drift everywhere
    import spark.implicits._
    import graft.queries.PipelineOps.schemaDriftOf
    val snap = Seq((1L, "a", "en"), (2L, "b", null.asInstanceOf[String]))
      .toDF("id", "t", "l")
    val same = schemaDriftOf(snap, snap).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toSeq
    assert(same == Seq(
      ("id", "kept", 0L, 0L, 2L, 2L, 0L),
      ("l", "kept", 1L, 1L, 1L, 1L, 0L),
      ("t", "kept", 0L, 0L, 2L, 2L, 0L)), s"identical snapshots not silent: $same")
    // a null-rate REPAIR (new nulls < old) still reports the absolute drift
    val fixed = schemaDriftOf(snap,
      Seq((1L, "a", "en"), (2L, "b", "de")).toDF("id", "t", "l"))
      .collect().map(r => (r.getString(0), r.getLong(6))).toMap
    assert(fixed("l") == 500000L, s"repair drift |0 - 0.5| misreported: $fixed")
    // map-typed columns audit presence/nulls but report NULL distinct
    // instead of throwing (self-review catch on the column-generic
    // contract)
    val withMap = Seq((1L, Map("k" -> "v")), (2L, Map("k" -> "w")))
      .toDF("id", "props")
    val mp = schemaDriftOf(withMap, withMap).collect()
      .map(r => (r.getString(0), r.getString(1),
        if (r.isNullAt(4)) -1L else r.getLong(4))).toSeq
    assert(mp == Seq(("id", "kept", 2L), ("props", "kept", -1L)),
      s"map column broke the audit: $mp")
  }

  // ---- u08 license taint ----------------------------------------------------

  test("u08: matrix equals the d11-members recompute; taint only escalates; crafted fixture") {
    def rankOf(src: String) = src.stripPrefix("src").toInt % 3
    def nameOf(r: Int) = r match {
      case 0 => "cc0"; case 1 => "cc-by"; case _ => "proprietary" }
    val srcOf = Tables.t(spark, dir, "documents").select("doc_id", "source")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // independent recompute from d11's own cluster members (the
    // propagation is that entry's contract; this pins the taint logic)
    val clusterOf = run("d11_dup_clusters").collect().flatMap { r =>
      val members = r.getString(2).split(",").map(_.toLong)
      members.map(_ -> members.toSet)
    }.toMap
    val expect = srcOf.toSeq.map { case (id, src) =>
      val own = rankOf(src)
      val eff = clusterOf.get(id)
        .map(_.map(m => rankOf(srcOf(m))).max.max(own)).getOrElse(own)
      (nameOf(own), nameOf(eff), id)
    }.groupBy(x => (x._1, x._2)).map { case ((l, e), rows) =>
      (l, e, rows.size.toLong, rows.map(_._3).sum, l != e)
    }.toSeq.sortBy(x => (x._1, x._2))
    val got = run("u08_license_taint").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4))).toSeq
    assert(got == expect, s"taint matrix diverged:\n$got\nvs\n$expect")
    assert(got.map(_._3).sum == 500L, "matrix must account every doc")
    assert(got.exists(_._5), "no tainted mass: the audit is untested")
    // taint only escalates: eff rank >= own rank on every row
    got.foreach { case (l, e, _, _, tainted) =>
      val (rl, re) = (Seq("cc0", "cc-by", "proprietary").indexOf(l),
        Seq("cc0", "cc-by", "proprietary").indexOf(e))
      assert(re >= rl, s"effective license $e DOWNGRADED from $l")
      assert(tainted == (l != e))
    }
    // crafted fixture: identical docs across cc0/proprietary taint the
    // cc0 copy; the cc-by singleton is untouched
    import spark.implicits._
    import graft.queries.PipelineOps.licenseTaintOf
    val docs = Seq(
      (1L, "src0", "alpha beta gamma delta"),
      (2L, "src2", "alpha beta gamma delta"),
      (3L, "src1", "nothing like the others here")).toDF("doc_id", "source", "text")
    val lic = Seq(("src0", "cc0", 0L), ("src1", "cc-by", 1L),
      ("src2", "proprietary", 2L)).toDF("source", "license", "lrank")
    val r = licenseTaintOf(docs, lic, minJ = 0.5, rounds = 3)
      .collect().map(x => (x.getString(0), x.getString(1), x.getLong(2),
        x.getLong(3), x.getBoolean(4))).toSeq
    assert(r == Seq(
      ("cc-by", "cc-by", 1L, 3L, false),
      ("cc0", "proprietary", 1L, 1L, true),
      ("proprietary", "proprietary", 1L, 2L, false)),
      s"crafted taint matrix diverged: $r")
    // self-review catches: a registry whose ranks are not a bijection
    // would fan out the matrix; an unregistered source would fail OPEN
    val badReg = Seq(("src0", "mit", 1L), ("src1", "apache-2.0", 1L),
      ("src2", "proprietary", 2L)).toDF("source", "license", "lrank")
    assert(intercept[IllegalArgumentException](
      licenseTaintOf(docs, badReg, 0.5, 3))
      .getMessage.contains("bijectively"))
    val partialReg = Seq(("src0", "cc0", 0L), ("src1", "cc-by", 1L))
      .toDF("source", "license", "lrank")
    assert(intercept[IllegalArgumentException](
      licenseTaintOf(docs, partialReg, 0.5, 3))
      .getMessage.contains("without a license registration"))
  }

  // ---- s24 MMR diversified re-rank -----------------------------------------

  test("s24: greedy trajectory equals a plain-Scala replay; diversity actually bites") {
    // independent full recompute: pool, micro-unit sims, greedy loop —
    // all in plain Scala against the raw embeddings
    def cosMicro(a: Array[Double], b: Array[Double]): Long = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      math.floor(dot / (math.sqrt(na) * math.sqrt(nb)) * 10000 + 0.5).toLong
    }
    val vecs = Tables.t(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) ->
        r.getSeq[Double](1).toArray).toMap
    val got = run("s24_mmr_rerank").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    val queries = vecs.keys.filter(_ < 10).toSeq.sorted
    var diversityBit = false
    queries.foreach { qid =>
      val rel = vecs.keys.filter(_ != qid)
        .map(n => n -> cosMicro(vecs(qid), vecs(n))).toSeq
      val pool = rel.sortBy { case (n, r) => (-r, n) }.take(20)
      var remaining = pool
      var chosen = List.empty[Long]
      val expect = (1 to 5).map { it =>
        val scored = remaining.map { case (n, r) =>
          val ms = if (chosen.isEmpty) 0L
            else chosen.map(c => cosMicro(vecs(n), vecs(c))).max
          (n, r, 7L * r - 3L * ms)
        }
        val (n, r, m) = scored.minBy { case (n, _, m) => (-m, n) }
        chosen ::= n
        remaining = remaining.filterNot(_._1 == n)
        (qid, it, n, r, m)
      }
      assert(got.filter(_._1 == qid) == expect,
        s"MMR trajectory diverged for query $qid")
      // diversity must genuinely reorder at least one query vs pure rel
      val byRel = pool.take(5).map(_._1)
      if (expect.map(_._3) != byRel) diversityBit = true
    }
    assert(diversityBit,
      "MMR equalled pure relevance order on every query: lambda untested")
  }

  test("s24: crafted near-dup fixture — the diverse candidate outranks the duplicate") {
    import spark.implicits._
    import graft.queries.PipelineOps.mmrRerankOf
    // q = x-axis; b is the most relevant, a its near-duplicate (sim
    // 1.0000 in micro units), c the -45 deg mirror: pure relevance
    // ranks (b, a, c) but MMR must defer the duplicate a to LAST
    val emb = Seq(
      (1L, Array(1.0, 1.0, 0.0)),
      (2L, Array(1.0, 0.999, 0.0)),
      (3L, Array(1.0, -1.0, 0.0)),
      (100L, Array(1.0, 0.0, 0.0))).toDF("vec_id", "e")
    val r = mmrRerankOf(emb, emb.filter(col("vec_id") === 100L),
        poolK = 3, k = 3)
      .collect().map(x => (x.getInt(1), x.getLong(2))).toSeq
    assert(r == Seq((1, 2L), (2, 3L), (3, 1L)),
      s"expected picks (2, 3, 1) — near-dup a deferred to last — got $r")
    // lambda = 1 degenerates to pure relevance order (b, a by nid tie, c)
    val pure = mmrRerankOf(emb, emb.filter(col("vec_id") === 100L),
        poolK = 3, k = 3, lamTimes10 = 10)
      .collect().map(x => (x.getInt(1), x.getLong(2))).toSeq
    assert(pure == Seq((1, 2L), (2, 1L), (3, 3L)),
      s"lambda=1 must reproduce pure relevance order, got $pure")
    assert(r != pure, "fixture failed to separate MMR from pure relevance")
    // a query whose pool holds exactly ONE candidate (zero pairwise
    // rows) must still emit its rk=1 pick — the self-review catch:
    // an inner sims join silently dropped it
    val lone = mmrRerankOf(
      Seq((1L, Array(1.0, 0.0, 0.0)), (100L, Array(1.0, 0.1, 0.0)))
        .toDF("vec_id", "e"),
      Seq((100L, Array(1.0, 0.1, 0.0))).toDF("vec_id", "e"),
      poolK = 1, k = 1)
      .collect().map(x => (x.getLong(0), x.getInt(1), x.getLong(2))).toSeq
    assert(lone == Seq((100L, 1, 1L)),
      s"single-candidate pool lost its query: $lone")
    intercept[IllegalArgumentException](
      mmrRerankOf(emb, emb.filter(col("vec_id") === 100L), poolK = 2, k = 3))
    intercept[IllegalArgumentException](
      mmrRerankOf(emb, emb.filter(col("vec_id") === 100L),
        poolK = 3, k = 3, lamTimes10 = 0))
  }

  test("lm04: stored-model serve == live trainer bit-identical; the scoring plan reads the corpus once, not the seed slice") {
    import graft.queries.PipelineOps.{knModelPersist, knScoreFrom,
      knBigramScoreOf}
    val docs = Tables.t(spark, dir, "documents").select("doc_id", "text")
    val mdir = java.nio.file.Files.createTempDirectory("graft-lm04-spec").toString
    knModelPersist(docs, mdir)
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
    val stored = knScoreFrom(spark, docs, mdir).collect().map(key).toSeq
    val live = knBigramScoreOf(docs).collect().map(key).toSeq
    assert(stored.nonEmpty && stored == live,
      "stored-model KN serve diverged from the live trainer")
    // the stored artifact IS the live model: the bigram table matches
    // an independent recompute through the live path's own aggregation
    val bigStored = spark.read.parquet(s"$mdir/bigrams").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    import spark.implicits._
    val bigLive = docs.as[(Long, String)].collect()
      .filter { case (id, t) => id % 10 == 0 && t.split(" ", -1).length >= 2 }
      .flatMap { case (_, t) =>
        val w = t.split(" ", -1); (0 until w.length - 1).map(i => (w(i), w(i + 1)))
      }.groupBy(identity).map { case (b, o) => b -> o.size.toLong }
    assert(bigStored == bigLive, "persisted bigram table drifted from the seed")
    // serve-plan discipline: the stored form scans the corpus text
    // ONCE (the scoring stream); the live form must read it again for
    // the seed aggregation — that second scan is what the artifact
    // removes from every scoring session
    def corpusScans(df: org.apache.spark.sql.DataFrame) =
      "documents\\.parquet".r
        .findAllIn(df.queryExecution.executedPlan.toString).size
    assert(corpusScans(knScoreFrom(spark, docs, mdir)) == 1,
      "stored serve reads the corpus more than once")
    assert(corpusScans(knBigramScoreOf(docs)) >= 2,
      "live-form baseline changed: the plan pin no longer distinguishes")
  }

  test("u09: one deletion request purges all three stores; serve-level evidence bites before and is silent after") {
    val rows = run("u09_forget_me_e2e").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(rows.map(_._1).toSeq == Seq("corpus", "text_index", "vector_index"))
    val subjN = Tables.t(spark, dir, "documents")
      .filter(col("doc_id") % 31 === 5).count()
    rows.foreach { case (store, nb, na, nsa, ssb, ssa) =>
      assert(nb - na == subjN, s"$store did not drop exactly the subject set")
      assert(nsa == 0, s"$store still holds subject rows after deletion")
      assert(ssa == 0, s"$store still SERVES the subject after deletion")
    }
    // the drill bites: the subject really was served pre-deletion by
    // both search modalities (a certificate over an unfindable-anyway
    // subject would prove nothing)
    val served = rows.map(r => r._1 -> r._5).toMap
    assert(served("text_index") > 0, "text probe never served the subject")
    assert(served("vector_index") > 0, "ANN probe never served the subject")
    // independent replay of the vector evidence: live probe counts
    // with and without the subject
    import graft.queries.PipelineOps.ivfProbeOf
    val emb = Tables.t(spark, dir, "embeddings")
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("e"))
    val cent = emb.select(col("label"), posexplode(col("e")).as(Seq("dim", "v")))
      .groupBy("label", "dim").agg(avg("v").as("v"))
      .groupBy("label")
      .agg(array_sort(collect_list(struct(col("dim"), col("v")))).as("pv"))
      .select(col("label").as("clabel"), expr("transform(pv, x -> x.v)").as("ce"))
    val queries = emb.filter(col("vec_id") < 30)
      .select(col("vec_id").as("qid"), col("e").as("qe"))
    val liveBefore = ivfProbeOf(cent, emb, queries, k = 10, probes = 2)
      .filter(col("nid") % 31 === 5).count()
    val liveAfter = ivfProbeOf(cent, emb.filter(col("vec_id") % 31 =!= 5),
        queries, k = 10, probes = 2)
      .filter(col("nid") % 31 === 5).count()
    assert(liveBefore == served("vector_index") && liveAfter == 0,
      "card evidence diverged from the live probe replay")
  }
}
