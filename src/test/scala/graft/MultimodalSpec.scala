package graft

import graft.catalog.Catalog
import graft.ops.Multimodal
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class MultimodalSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val dir = "/root/testdata/sf0.001"

  test("media table: real encoded binary payloads + format tags") {
    val mt = Multimodal.mediaTable(spark, dir)
    val img = mt.filter(_.doc_id == 0).collect().head
    assert(img.media_type == "image" && img.format == "png")
    // genuine PNG magic
    assert((img.payload(0) & 0xff) == 0x89 && new String(img.payload.slice(1, 4)) == "PNG")
    val wav = mt.filter(_.doc_id == 1).collect().head
    assert(wav.format == "wav" && new String(wav.payload.take(4)) == "RIFF")
    val vid = mt.filter(_.doc_id == 2).collect().head
    assert(vid.format == "gvid" && new String(vid.payload.take(4)) == "GVID")
    assert(mt.toDF().schema("payload").dataType.simpleString == "binary")
  }

  test("PNG codec: ImageIO roundtrip is byte-exact against the pixel formula") {
    import Multimodal.Codecs
    val id = 42L
    val (w, h) = Codecs.imageDims(id)
    val png = Codecs.encodePng(w, h, i => Codecs.pixel(id, i))
    val img = Codecs.decodeImage(png)
    assert(img.getWidth == w && img.getHeight == h)
    for (y <- 0 until h; x <- 0 until w) {
      val base = (y * w + x) * 3
      val rgb = img.getRGB(x, y)
      assert(((rgb >> 16) & 0xff) == Codecs.pixel(id, base))
      assert(((rgb >> 8) & 0xff) == Codecs.pixel(id, base + 1))
      assert((rgb & 0xff) == Codecs.pixel(id, base + 2))
    }
  }

  test("WAV codec: AudioSystem roundtrip is sample-exact; header frame count honest") {
    import Multimodal.Codecs
    val id = 7L
    val samples = Array.tabulate(Codecs.audioSampleCount(id))(i => Codecs.sample(id, i).toByte)
    val wav = Codecs.encodeWav(samples)
    val (frames, back) = Codecs.decodeWav(wav)
    assert(frames == samples.length.toLong)
    assert(back.toSeq == samples.toSeq)
  }

  test("GVID container: frame count + per-frame PNG decode against the frame formula") {
    import Multimodal.Codecs
    val id = 5L
    val frames = Codecs.decodeVideo(Codecs.encodeVideo(id))
    assert(frames.length == Codecs.videoFrameCount(id))
    val f1 = Codecs.decodeImage(frames(1))
    assert(f1.getWidth == Codecs.FrameW && f1.getHeight == Codecs.FrameH)
    val rgb = f1.getRGB(3, 2)
    val base = (2 * Codecs.FrameW + 3) * 3
    assert(((rgb >> 16) & 0xff) == Codecs.framePixel(id, 1, base))
    // corrupt magic fails loudly
    assert(intercept[IllegalArgumentException] {
      Codecs.decodeVideo("NOPE".getBytes ++ Array[Byte](0, 0, 0, 0))
    }.getMessage.contains("magic"))
  }

  test("scene changes: consecutive-frame diffs match the frame formula per transition") {
    import graft.ops.Multimodal
    val rows = Multimodal.sceneChanges(spark, dir).collect()
    assert(rows.nonEmpty)
    // recompute doc 2's transitions straight from the generative
    // formula (decode-independent): frames are 16x12 RGB
    val id = 2L
    val nf = Multimodal.Codecs.videoFrameCount(id)
    val expected = (1 until nf).map { f =>
      val diffs = (0 until 16 * 12 * 3).map(i => math.abs(
        Multimodal.Codecs.framePixel(id, f, i) - Multimodal.Codecs.framePixel(id, f - 1, i)))
      math.round(diffs.sum.toDouble / diffs.length * 10000) / 10000.0
    }
    val got = rows.filter(_.getLong(0) == id).sortBy(_.getInt(1))
      .map(_.getDouble(2)).toSeq
    assert(got == expected, s"doc $id: $got vs $expected")
    // every video contributes exactly nf-1 transitions
    val counts = rows.groupBy(_.getLong(0)).view.mapValues(_.length)
    counts.foreach { case (d, n) =>
      assert(n == Multimodal.Codecs.videoFrameCount(d) - 1, s"doc $d has $n transitions")
    }
  }

  test("image features: decoded channel means match the formula") {
    import Multimodal.Codecs
    val feats = Multimodal.imageFeatures(spark, dir)
    val f0 = feats.filter("doc_id = 0").collect().head
    val (w, h) = Codecs.imageDims(0L)
    val n = w * h
    val byChan = Array.tabulate(3)(c =>
      (0 until n).map(p => Codecs.pixel(0L, p * 3 + c)).sum.toDouble / n)
    def r4(x: Double) = math.round(x * 10000).toDouble / 10000
    assert(f0.getAs[Int]("width") == w && f0.getAs[Int]("height") == h)
    assert(f0.getAs[Double]("mean_r") == r4(byChan(0)))
    assert(f0.getAs[Double]("mean_b") == r4(byChan(2)))
    assert(f0.getAs[Int]("max_byte") == (0 until 3 * n).map(Codecs.pixel(0L, _)).max)
  }

  test("image-text alignment: pooled embedding matches the formula, gate cuts at tau") {
    import Multimodal.Codecs
    import org.apache.spark.sql.functions.col
    val emb = graft.Tables.t(spark, dir, "embeddings")
    // survivors only, every score >= tau and 4-rounded
    val out = Multimodal.imageTextAlignment(spark, dir, emb, tau = 0.05)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out.nonEmpty && out.size < emb.filter(col("vec_id") % 3 === 0).count(),
      "gate must cut some pairs and keep some")
    assert(out.values.forall(c => c >= 0.05 && c == math.round(c * 10000) / 10000.0))
    // independent recompute for doc 0: 64-bucket pooled image embedding
    // from the pixel formula, cosine against its text embedding
    val (w, h) = Codecs.imageDims(0L)
    val nBytes = 3 * w * h
    val ie = Array.tabulate(64) { k =>
      val vs = (0 until nBytes).filter(_ % 64 == k).map(Codecs.pixel(0L, _))
      vs.sum.toDouble / vs.size
    }
    val te = emb.filter(col("vec_id") === 0).collect()
      .head.getSeq[Float](1).map(_.toDouble).toArray
    var dot = 0.0; var na = 0.0; var nb = 0.0
    for (i <- 0 until 64) { dot += ie(i) * te(i); na += ie(i) * ie(i); nb += te(i) * te(i) }
    val c0 = math.round(dot / (math.sqrt(na) * math.sqrt(nb)) * 10000) / 10000.0
    if (c0 >= 0.05) assert(out(0L) == c0, s"doc 0 score ${out.get(0L)} != $c0")
    else assert(!out.contains(0L), s"doc 0 below tau must be cut, got ${out.get(0L)}")
  }

  test("audio-text alignment: pooled embedding matches the sample formula, gate cuts at tau") {
    import Multimodal.Codecs
    import org.apache.spark.sql.functions.col
    val emb = graft.Tables.t(spark, dir, "embeddings")
    val out = Multimodal.audioTextAlignment(spark, dir, emb, tau = 0.05)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out.nonEmpty && out.size < emb.filter(col("vec_id") % 3 === 1).count(),
      "gate must cut some pairs and keep some")
    assert(out.values.forall(c => c >= 0.05 && c == math.round(c * 10000) / 10000.0))
    // independent recompute for audio doc 1: 64-bucket pooled clip
    // embedding from the sample formula, cosine against its caption
    val n = Codecs.audioSampleCount(1L)
    val ae = Array.tabulate(64) { k =>
      val vs = (0 until n).filter(_ % 64 == k).map(Codecs.sample(1L, _))
      vs.sum.toDouble / vs.size
    }
    val te = emb.filter(col("vec_id") === 1).collect()
      .head.getSeq[Float](1).map(_.toDouble).toArray
    var dot = 0.0; var na = 0.0; var nb = 0.0
    for (i <- 0 until 64) { dot += ae(i) * te(i); na += ae(i) * ae(i); nb += te(i) * te(i) }
    val c1 = math.round(dot / (math.sqrt(na) * math.sqrt(nb)) * 10000) / 10000.0
    if (c1 >= 0.05) assert(out(1L) == c1, s"doc 1 score ${out.get(1L)} != $c1")
    else assert(!out.contains(1L), s"doc 1 below tau must be cut, got ${out.get(1L)}")
  }

  test("video-text alignment: all-frame pooling matches the formula, gate cuts at tau") {
    import Multimodal.Codecs
    import org.apache.spark.sql.functions.col
    val emb = graft.Tables.t(spark, dir, "embeddings")
    val out = Multimodal.videoTextAlignment(spark, dir, emb, tau = 0.05)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out.nonEmpty && out.size < emb.filter(col("vec_id") % 3 === 2).count(),
      "gate must cut some pairs and keep some")
    assert(out.values.forall(c => c >= 0.05 && c == math.round(c * 10000) / 10000.0))
    // independent recompute for video doc 2: pool every frame's
    // flat-RGB stream (576 bytes, 64-aligned) from the pixel formula
    val nf = Codecs.videoFrameCount(2L)
    val ve = Array.tabulate(64) { k =>
      val vs = for (f <- 0 until nf; i <- 0 until 576 if i % 64 == k)
        yield Codecs.framePixel(2L, f, i)
      vs.sum.toDouble / vs.size
    }
    val te = emb.filter(col("vec_id") === 2).collect()
      .head.getSeq[Float](1).map(_.toDouble).toArray
    var dot = 0.0; var na = 0.0; var nb = 0.0
    for (i <- 0 until 64) { dot += ve(i) * te(i); na += ve(i) * ve(i); nb += te(i) * te(i) }
    val c2 = math.round(dot / (math.sqrt(na) * math.sqrt(nb)) * 10000) / 10000.0
    if (c2 >= 0.05) assert(out(2L) == c2, s"doc 2 score ${out.get(2L)} != $c2")
    else assert(!out.contains(2L), s"doc 2 below tau must be cut, got ${out.get(2L)}")
  }

  test("video near-dup: frame-hash shingling matches an all-pairs formula recompute") {
    import Multimodal.Codecs
    import org.apache.spark.sql.functions.col
    // independent recompute: per-frame dHash from the pixel formula
    // (not through the codec path the operator uses), all-pairs
    // Jaccard over the distinct-hash sets, tau = 0.4
    def fhash(id: Long, f: Int): Long = {
      val sum = Array.ofDim[Long](8, 8); val cnt = Array.ofDim[Long](8, 8)
      for (y <- 0 until 12; x <- 0 until 16) {
        val base = (y * 16 + x) * 3
        val g = (Codecs.framePixel(id, f, base) + Codecs.framePixel(id, f, base + 1) +
          Codecs.framePixel(id, f, base + 2)) / 3
        sum(y * 8 / 12)(x * 8 / 16) += g; cnt(y * 8 / 12)(x * 8 / 16) += 1
      }
      var h = 0L
      for (cy <- 0 until 8; k <- 0 until 7)
        if (sum(cy)(k) / cnt(cy)(k) < sum(cy)(k + 1) / cnt(cy)(k + 1)) h |= 1L << (cy * 7 + k)
      h
    }
    val ids = graft.Tables.t(spark, dir, "documents")
      .filter(col("doc_id") % 3 === 2).select("doc_id")
      .collect().map(_.getLong(0)).sorted
    val sets = ids.map(id => id -> (0 until Codecs.videoFrameCount(id)).map(fhash(id, _)).toSet).toMap
    val expected = (for {
      i <- ids.indices; j <- i + 1 until ids.length
      a = ids(i); b = ids(j)
      sh = (sets(a) & sets(b)).size if sh > 0
      jac = math.round(sh.toDouble / (sets(a) ++ sets(b)).size * 10000) / 10000.0
      if jac >= 0.4
    } yield (a, b, sh.toLong, jac)).sorted
    val out = Multimodal.videoNearDup(spark, dir, tau = 0.4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq.sorted
    assert(expected.nonEmpty, "fixture must produce at least one near-dup clip pair")
    assert(expected.size < ids.length * (ids.length - 1) / 2, "gate must cut most pairs")
    assert(out == expected, s"operator pairs != formula recompute:\n$out\nvs\n$expected")
  }

  test("p11 media release: card recomputes from the standalone mm09/mm08 entries; every stage bites") {
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    def shard(id: Long) =
      java.lang.Long.parseLong(md5hex(id.toString).substring(0, 15), 16) % 4
    // the composition must equal the two independently-oracled
    // entries chained by hand: mm09's survivors, minus every survivor
    // with an ALIGNED smaller-id mate in mm08's pair list
    val aligned = graft.queries.MediaCatalogOps.defs(
        "mm09_image_text_alignment")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val pairs = graft.queries.MediaCatalogOps.defs(
        "mm08_perceptual_dedup")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val dropped = pairs.collect {
      case (a, b) if aligned.contains(a) && aligned.contains(b) => b
    }.toSet
    val kept = aligned.view.filterKeys(!dropped.contains(_)).toMap
    val expected = kept.groupBy { case (id, _) => shard(id) }.toSeq.sortBy(_._1)
      .map { case (sh, g) =>
        (sh, g.size.toLong, g.keys.sum,
          g.values.map(c => math.round(c * 1000000)).sum)
      }
    val got = graft.queries.MediaCatalogOps.defs("p11_media_release")(spark, dir)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == expected)
    // the funnel is real: the gate cuts, the dedup cuts, and
    // something ships
    val nImages = graft.Tables.t(spark, dir, "documents")
      .filter(org.apache.spark.sql.functions.col("doc_id") % 3 === 0).count()
    assert(aligned.size < nImages, "alignment gate did not bite")
    assert(dropped.nonEmpty, "near-dup cut did not bite")
    assert(kept.nonEmpty && kept.size < aligned.size)
  }

  test("mm15 tar shards: payload bytes recover exactly; every sample has its meta pair") {
    import Multimodal.Codecs
    import org.apache.commons.compress.archivers.tar.TarArchiveInputStream
    // a crafted fixture spanning all three modalities: the payload
    // bytes must come back from the tar BYTE-EXACT, not just decodable
    val media = Multimodal.mediaTable(spark, dir).toDF()
    val wanted = media.orderBy("doc_id").limit(6).collect().map(r =>
      (r.getLong(0), r.getString(2), r.getAs[Array[Byte]](3)))
    import spark.implicits._
    val small = wanted.toSeq
      .map { case (id, fmt, p) =>
        val mt = if (fmt == "png") "image" else if (fmt == "wav") "audio" else "video"
        (id, mt, fmt, p)
      }.toDF("doc_id", "media_type", "format", "payload")
    val out = java.nio.file.Files.createTempDirectory("mm15spec").toFile
    graft.queries.MediaCatalogOps.mediaTarWrite(small, out.getPath, shards = 2)
    val got = out.listFiles.filter(_.getName.endsWith(".tar")).flatMap { f =>
      val in = new TarArchiveInputStream(new java.io.FileInputStream(f))
      Iterator.continually(in.getNextEntry).takeWhile(_ != null).map { e =>
        val buf = new Array[Byte](e.getSize.toInt)
        var off = 0
        while (off < buf.length) {
          val n = in.read(buf, off, buf.length - off); require(n > 0); off += n
        }
        e.getName -> buf
      }.toVector
    }.toMap
    wanted.foreach { case (id, fmt, payload) =>
      val name = f"$id%012d.$fmt"
      assert(got.contains(name), s"missing member $name")
      assert(java.util.Arrays.equals(got(name), payload),
        s"payload bytes changed through the tar cycle for $name")
      // and the recovered bytes still decode with the real decoder
      fmt match {
        case "png" => Codecs.decodeImage(got(name))
        case "wav" => Codecs.decodeWav(got(name))
        case _ => Codecs.decodeVideo(got(name))
      }
    }
    // the corpus entry: modality counts split correctly and every
    // sample carries exactly one metadata member
    val audit = graft.queries.MediaCatalogOps.defs("mm15_tar_shards")(spark, dir)
      .collect()
    audit.foreach { r =>
      assert(r.getLong(1) == r.getLong(7),
        s"shard ${r.getLong(0)}: ${r.getLong(1)} samples vs ${r.getLong(7)} meta")
      assert(r.getLong(2) + r.getLong(3) + r.getLong(4) == r.getLong(1))
    }
    assert(audit.map(_.getLong(2)).sum > 0 && audit.map(_.getLong(3)).sum > 0 &&
      audit.map(_.getLong(4)).sum > 0, "a modality went missing")
  }

  test("mm14 audio near-dup: fingerprint-set Jaccard matches the formula recompute") {
    import Multimodal.Codecs
    import org.apache.spark.sql.functions.col
    def fp(id: Long, k: Int): Long =
      graft.exprs.Md5Bits60.compute(
        org.apache.spark.unsafe.types.UTF8String.fromString(
          (0 until 20).map(j => Codecs.sample(id, k * 20 + j)).mkString(",")))
    val ids = graft.Tables.t(spark, dir, "documents")
      .filter(col("doc_id") % 3 === 1).select("doc_id")
      .collect().map(_.getLong(0)).sorted
    val sets = ids.map { id =>
      val n = Codecs.audioSampleCount(id)
      id -> (0 until n / 20).map(fp(id, _)).toSet
    }.toMap
    val expected = (for {
      i <- ids.indices; j <- i + 1 until ids.length
      a = ids(i); b = ids(j)
      sh = (sets(a) & sets(b)).size if sh > 0
      jac = math.round(sh.toDouble / (sets(a) ++ sets(b)).size * 10000) / 10000.0
      if jac >= 0.5
    } yield (a, b, sh.toLong, jac)).sorted
    val out = Multimodal.audioNearDup(spark, dir, frameLen = 20, tau = 0.5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq.sorted
    assert(expected.nonEmpty, "fixture must produce at least one near-dup audio pair")
    assert(expected.size < ids.length * (ids.length - 1) / 2, "gate must cut most pairs")
    assert(out == expected, s"operator pairs != formula recompute:\n${out.take(5)}\nvs\n${expected.take(5)}")
    // the default stop-print cut must NOT bite on this fixture — the
    // recompute above is cut-free, so equality already proves it; pin
    // the reason too (max print df well under 25% of clips)
    val maxDf = sets.values.toSeq.flatten.groupBy(identity).values.map(_.size).max
    assert(maxDf <= ids.length / 4,
      s"fixture print df $maxDf reaches the stop cut — recompute no longer cut-free")
  }

  test("mm14 stop-print cut: a corpus-wide silence window cannot fan out f²") {
    // the r8 watch: mm14 measured 9.7x wall on 10x data — the f²
    // candidate-join family. The default fractional stop-print cut
    // bounds it: plant a silence print shared by ALL clips next to the
    // real content prints and the pathological print must generate
    // ZERO candidate pairs, while genuine near-dup pairs keep their
    // decode-time-size scores exactly.
    import spark.implicits._
    val silence = 999999L
    // 40 clips all carrying the silence print; clips 2p/2p+1 also
    // share 4 content prints and carry 1 unique print each, so each
    // signature is 6 prints and a genuine pair scores
    // 4/(6+6-4) = 0.5 after the cut (sizes stay decode-time values,
    // so the dropped silence print shrinks only the shared count)
    val prints = (0L until 40L).flatMap { id =>
      val shared4 = (0 until 4).map(k => 1000L * (id / 2) + k)
      val unique = 500000L + id
      (shared4 :+ unique :+ silence).map(fp => (id, fp, 6))
    }.toDF("doc_id", "fp", "nf")
    val capped = Multimodal.audioNearDupFromPrints(prints, tau = 0.5, stopDfFrac = 0.25)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val expected = (0L until 20L).map(p => (2 * p, 2 * p + 1, 4L, 0.5))
    assert(capped.toSeq == expected,
      s"capped pairs wrong:\n${capped.toSeq}\nvs\n$expected")
    // uncapped contrast (stopDfFrac >= 1 disables): the silence print
    // alone couples every clip to every other — the f² blowup is real,
    // not hypothetical
    val uncapped = Multimodal.audioNearDupFromPrints(prints, tau = 0.0, stopDfFrac = 1.0)
    assert(uncapped.count() == 40L * 39 / 2,
      "uncapped silence print must couple all clip pairs (contrast case)")
    // and the stop set rides a broadcast anti-join — the corpus print
    // stream never shuffles to be cut
    val plan = Multimodal.audioNearDupFromPrints(prints, 0.5, 0.25)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"stop cut must be a broadcast anti-join:\n$plan")
  }

  test("frame containment: image-vs-frame fingerprint equality matches the formula recompute") {
    import Multimodal.Codecs
    // sf0.01: the sf0.001 slice happens to contain no containments
    // (empty would be a vacuous pin); at 500 docs there are 108
    val d01 = "/root/testdata/sf0.01"
    def hashOf(px: Int => Int, w: Int, h: Int): Long = {
      val sum = Array.ofDim[Long](8, 8); val cnt = Array.ofDim[Long](8, 8)
      for (y <- 0 until h; x <- 0 until w) {
        val base = (y * w + x) * 3
        val g = (px(base) + px(base + 1) + px(base + 2)) / 3
        sum(y * 8 / h)(x * 8 / w) += g; cnt(y * 8 / h)(x * 8 / w) += 1
      }
      var v = 0L
      for (cy <- 0 until 8; k <- 0 until 7)
        if (sum(cy)(k) / cnt(cy)(k) < sum(cy)(k + 1) / cnt(cy)(k + 1)) v |= 1L << (cy * 7 + k)
      v
    }
    val ids = graft.Tables.t(spark, d01, "documents")
      .select("doc_id").collect().map(_.getLong(0)).sorted
    val imgs = ids.filter(_ % 3 == 0).map { id =>
      val (w, h) = Codecs.imageDims(id)
      id -> hashOf(i => Codecs.pixel(id, i), w, h)
    }
    val vids = ids.filter(_ % 3 == 2).map { id =>
      id -> (0 until Codecs.videoFrameCount(id))
        .map(f => hashOf(i => Codecs.framePixel(id, f, i), 16, 12)).toSet
    }
    val expected = (for {
      (iid, ih) <- imgs; (vid, hs) <- vids if hs(ih)
    } yield (iid, vid, ih)).sortBy(t => (t._1, t._2)).toSeq
    val got = Multimodal.frameContainment(spark, d01).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(expected.nonEmpty && expected.size < imgs.length * vids.length / 10,
      "containment must be a sparse, non-empty cut")
    assert(got == expected, s"${got.take(5)}... vs ${expected.take(5)}...")
  }

  test("st08 streaming media dedup: sink equals batch mm13 inverted over the image side") {
    import org.apache.spark.sql.functions.col
    val d01 = "/root/testdata/sf0.01"
    // mm13 is oracle-verified; the streaming gate must keep exactly
    // the images mm13 does NOT contain in any clip
    val contained = graft.queries.MediaCatalogOps
      .defs("mm13_frame_containment")(spark, d01)
      .select("img_id").collect().map(_.getLong(0)).toSet
    val imgs = graft.Tables.t(spark, d01, "documents")
      .filter(col("doc_id") % 3 === 0).select("doc_id")
      .collect().map(_.getLong(0))
    val kept = imgs.filterNot(contained)
    assert(kept.length < imgs.length, "the gate must drop contained images")
    val row = graft.queries.MediaCatalogOps
      .defs("st08_stream_media_dedup")(spark, d01).collect().head
    assert((row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3)) ==
      ((kept.length.toLong, kept.sum, kept.min, kept.max)), row.toString)
  }

  test("resize: AffineTransformOp nearest-neighbor mapping is src=(4x+2, 4y+2), per-pixel") {
    import java.awt.geom.AffineTransform
    import java.awt.image.AffineTransformOp
    import Multimodal.Codecs
    val k = Codecs.ResizeK
    for (id <- Seq(0L, 3L, 6L, 9L, 12L)) {
      val (w, h) = Codecs.imageDims(id)
      assert(w % k == 0 && h % k == 0)
      val img = Codecs.decodeImage(Codecs.encodePng(w, h, i => Codecs.pixel(id, i)))
      val op = new AffineTransformOp(
        AffineTransform.getScaleInstance(1.0 / k, 1.0 / k),
        AffineTransformOp.TYPE_NEAREST_NEIGHBOR)
      val small = op.filter(img, null)
      assert(small.getWidth == w / k && small.getHeight == h / k)
      for (y <- 0 until small.getHeight; x <- 0 until small.getWidth)
        assert(small.getRGB(x, y) == img.getRGB(k * x + k / 2, k * y + k / 2),
          s"mapping drift at id=$id dst($x,$y) — JDK resample semantics changed; " +
            "update the mm04 oracle to match")
    }
  }

  test("PPM codec: real encode/decode round trip, comments, loud corruption errors") {
    import graft.ops.Multimodal.PpmCodec
    val pixels = Array.tabulate(3 * 4 * 2)(i => (i * 7 % 256).toByte)
    val payload = PpmCodec.encode(4, 2, pixels)
    assert(new String(payload.take(2)) == "P6")
    val (w, h, raster) = PpmCodec.decode(payload)
    assert(w == 4 && h == 2)
    assert(raster.toSeq == pixels.toSeq)
    // header comments per the PPM spec
    val commented = "P6\n# made by a test\n4 2\n255\n".getBytes("US-ASCII") ++ pixels
    assert(PpmCodec.decode(commented)._3.toSeq == pixels.toSeq)
    // corruption fails loudly
    assert(intercept[IllegalArgumentException] {
      PpmCodec.decode("P5\n4 2\n255\n".getBytes("US-ASCII") ++ pixels)
    }.getMessage.contains("magic"))
    assert(intercept[IllegalArgumentException] {
      PpmCodec.decode(payload.dropRight(5))
    }.getMessage.contains("truncated"))
  }

  test("frame sampling: stride applied per-row before explode; frames really decoded") {
    import Multimodal.Codecs
    val frames = Multimodal.frameSample(spark, dir, stride = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
    assert(frames.nonEmpty)
    assert(frames.forall { case (id, f, _) => id % 3 == 2 && f % 2 == 0 })
    val (id, f, mean) = frames.head
    val n = 3 * Codecs.FrameW * Codecs.FrameH
    val expected = (0 until n).map(Codecs.framePixel(id, f, _)).sum.toDouble / n
    assert(mean == math.round(expected * 10000).toDouble / 10000)
  }

  test("catalog columns + JSON schema document") {
    val s2 = spark.newSession()
    Tables.registerAll(s2, dir)
    val cols = Catalog.columns(s2)
      .filter("table_name = 'embeddings'").collect()
    assert(cols.map(r => (r.getString(1), r.getString(3))).toSeq ==
      Seq(("vec_id", "BIGINT"), ("embedding", "FLOAT[]"), ("label", "INTEGER")))
    val json = Catalog.schemaJson(s2)
    assert(json.contains("\"databases\"") && json.contains("\"lineitem\""))
  }

  test("schema JSON carries comments, view definitions, empty enums (duckdb_schema_test.go:18-117)") {
    val s2 = spark.newSession()
    val runId = java.lang.Long.toString(System.nanoTime(), 36)
    val tbl = s"sch_users_$runId"
    val vw = s"sch_active_$runId"
    s2.sql(s"CREATE TABLE $tbl (id INT, name STRING COMMENT 'The user''s full name') " +
      "USING PARQUET COMMENT 'A table of users'")
    s2.sql(s"CREATE VIEW $vw AS SELECT * FROM $tbl WHERE name IS NOT NULL")
    try {
      val json = Catalog.schemaJson(s2)
      assert(json.contains("A table of users"))
      assert(json.contains("The user's full name"))
      assert(json.contains(s""""name":"$vw""""))
      // view definition captured and recognizable as SQL
      assert(json.contains("SELECT"))
      assert(json.contains("\"enums\":[]"))
    } finally {
      s2.sql(s"DROP VIEW IF EXISTS $vw")
      s2.sql(s"DROP TABLE IF EXISTS $tbl")
    }
  }
}
