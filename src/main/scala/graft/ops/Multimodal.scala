package graft.ops

import java.awt.geom.AffineTransform
import java.awt.image.{AffineTransformOp, BufferedImage, DataBufferByte}
import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import javax.imageio.ImageIO
import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column handling: image/audio/video as opaque BINARY
  * columns with typed metadata, plus decode / feature-extract / resize /
  * frame-sample operators (builder prompt: first-class pipeline ops).
  *
  * All decode paths are REAL, JDK-built-in codecs — no stubs:
  *   - images: PNG via `javax.imageio.ImageIO` (lossless, so the decoded
  *     raster is byte-exact against the generator formula),
  *   - audio: 8-bit unsigned PCM WAV via `javax.sound.sampled.AudioSystem`,
  *   - video: a trivial length-prefixed container ("GVID") of PNG frames,
  *     each frame decoded with ImageIO.
  * Payloads are generated deterministically on the executors from pixel /
  * sample formulas, so the DuckDB oracle recomputes every statistic from
  * the same formula: a decoder bug (channel interleave mixup, header
  * off-by-one, rounding drift) is a value mismatch, not a silent pass.
  *
  * Scale notes: generation + decode run as mapPartitions over the binary
  * column — embarrassingly parallel, no shuffle; frame sampling applies
  * the stride inside the row before exploding to one row per sampled
  * frame. In production the table comes from
  * `spark.read.format("binaryFile")` or a parquet BINARY column — the
  * operator contracts are unchanged.
  */
object Multimodal {

  final case class MediaRow(doc_id: Long, media_type: String, format: String,
      payload: Array[Byte])

  /** Deterministic generator formulas + real JDK codecs. The formulas are
    * the oracle contract: everything the operators report is recomputable
    * from them in plain SQL.
    */
  object Codecs {
    // ImageIO defaults to staging every encode/decode through a temp
    // FILE; for the tiny per-row images here that disk round-trip is
    // ~10x the actual codec work, and on executors it also hammers
    // java.io.tmpdir. Heap-backed streams instead.
    ImageIO.setUseCache(false)

    val FrameW = 16
    val FrameH = 12
    /** Nearest-neighbor downscale factor for [[resize]]; image dims are
      * generated as multiples of this so the resample never inverse-maps
      * outside the source raster (AffineTransformOp leaves such dst
      * pixels unpainted).
      */
    val ResizeK = 4

    def pixel(id: Long, i: Int): Int = ((id * 31 + i) % 256).toInt
    def framePixel(id: Long, f: Int, i: Int): Int = ((id * 31 + f * 7 + i) % 256).toInt
    def sample(id: Long, i: Int): Int = ((id * 17 + i) % 256).toInt
    def imageDims(id: Long): (Int, Int) =
      ((4 * (2 + id % 5)).toInt, (4 * (2 + id % 4)).toInt)
    def audioSampleCount(id: Long): Int = (256 + id % 512).toInt
    def videoFrameCount(id: Long): Int = (4 + id % 8).toInt

    /** Encode an RGB-interleaved pixel formula (flat index = (y·w + x)·3
      * + channel, channels R,G,B) as a genuine PNG. TYPE_3BYTE_BGR stores
      * B,G,R per pixel, hence the swapped writes.
      */
    def encodePng(w: Int, h: Int, px: Int => Int): Array[Byte] = {
      val img = new BufferedImage(w, h, BufferedImage.TYPE_3BYTE_BGR)
      val data = img.getRaster.getDataBuffer.asInstanceOf[DataBufferByte].getData
      var p = 0
      while (p < w * h) {
        val base = p * 3
        data(base) = px(base + 2).toByte
        data(base + 1) = px(base + 1).toByte
        data(base + 2) = px(base).toByte
        p += 1
      }
      val bos = new ByteArrayOutputStream()
      ImageIO.write(img, "png", bos)
      bos.toByteArray
    }

    def decodeImage(payload: Array[Byte]): BufferedImage = {
      val img = ImageIO.read(new ByteArrayInputStream(payload))
      if (img == null) throw new IllegalArgumentException("undecodable image payload")
      img
    }

    private def wavFormat = new AudioFormat(
      AudioFormat.Encoding.PCM_UNSIGNED, 8000f, 8, 1, 1, 8000f, false)

    /** 8-bit unsigned mono PCM → RIFF/WAVE via AudioSystem. */
    def encodeWav(samples: Array[Byte]): Array[Byte] = {
      val bos = new ByteArrayOutputStream()
      AudioSystem.write(
        new AudioInputStream(new ByteArrayInputStream(samples), wavFormat, samples.length.toLong),
        AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }

    /** Parse a WAV payload → (frame count from the header, raw samples). */
    def decodeWav(payload: Array[Byte]): (Long, Array[Byte]) = {
      val in = AudioSystem.getAudioInputStream(new ByteArrayInputStream(payload))
      try (in.getFrameLength, in.readAllBytes()) finally in.close()
    }

    /** "GVID" container: magic + frame count, then per frame a 4-byte
      * big-endian length + PNG bytes. Stands in for a real video
      * container; the frames themselves are genuine PNGs.
      */
    def encodeVideo(id: Long): Array[Byte] = {
      val n = videoFrameCount(id)
      val bos = new ByteArrayOutputStream()
      val dos = new DataOutputStream(bos)
      dos.writeBytes("GVID")
      dos.writeInt(n)
      var f = 0
      while (f < n) {
        val frame = encodePng(FrameW, FrameH, i => framePixel(id, f, i))
        dos.writeInt(frame.length)
        dos.write(frame)
        f += 1
      }
      bos.toByteArray
    }

    def decodeVideo(payload: Array[Byte]): Vector[Array[Byte]] = {
      val dis = new DataInputStream(new ByteArrayInputStream(payload))
      val magic = new Array[Byte](4)
      dis.readFully(magic)
      if (!java.util.Arrays.equals(magic, "GVID".getBytes(java.nio.charset.StandardCharsets.US_ASCII)))
        throw new IllegalArgumentException("bad GVID container magic")
      val n = dis.readInt()
      Vector.fill(n) {
        val len = dis.readInt()
        val b = new Array[Byte](len)
        dis.readFully(b)
        b
      }
    }

    final case class ChannelStats(meanR: Double, meanG: Double, meanB: Double,
        meanAll: Double, maxByte: Int)

    def channelStats(img: BufferedImage): ChannelStats = {
      val w = img.getWidth
      val h = img.getHeight
      var sr = 0L; var sg = 0L; var sb = 0L; var mx = 0
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val rgb = img.getRGB(x, y)
          val r = (rgb >> 16) & 0xff
          val g = (rgb >> 8) & 0xff
          val b = rgb & 0xff
          sr += r; sg += g; sb += b
          if (r > mx) mx = r
          if (g > mx) mx = g
          if (b > mx) mx = b
          x += 1
        }
        y += 1
      }
      val n = w.toLong * h
      ChannelStats(sr.toDouble / n, sg.toDouble / n, sb.toDouble / n,
        (sr + sg + sb).toDouble / (3 * n), mx)
    }
  }

  private def r4(x: Double): Double = math.round(x * 10000).toDouble / 10000

  /** Build the media table from `documents`: each doc_id gets a real
    * encoded payload (PNG / WAV / GVID by id mod 3) generated on the
    * executors from the [[Codecs]] formulas.
    */
  private def generateMedia(spark: SparkSession, dir: String): Dataset[MediaRow] = {
    import spark.implicits._
    graft.Tables.t(spark, dir, "documents")
      .select(col("doc_id")).as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          (id % 3) match {
            case 0 =>
              val (w, h) = Codecs.imageDims(id)
              MediaRow(id, "image", "png", Codecs.encodePng(w, h, i => Codecs.pixel(id, i)))
            case 1 =>
              val samples = Array.tabulate(Codecs.audioSampleCount(id))(i => Codecs.sample(id, i).toByte)
              MediaRow(id, "audio", "wav", Codecs.encodeWav(samples))
            case _ =>
              MediaRow(id, "video", "gvid", Codecs.encodeVideo(id))
          }
        }
      }
  }

  /** Bump when any [[Codecs]] payload formula changes — a stale corpus
    * directory from an older formula version must never be reused, or
    * the Spark side decodes OLD payloads while the DuckDB oracles
    * recompute from the NEW formulas. */
  private val CorpusVersion = 1

  /** The media table as a materialized PARQUET binary column, generated
    * once per (JVM, dir) and read thereafter — the shape the operators
    * are specified against ("treat image/audio/video as opaque binary
    * columns"): a production corpus's payload column exists on disk (on
    * a cluster it is a real warehouse table; the local tmpdir here is a
    * test-fixture stand-in); an operator's cost is read + decode +
    * features, not fixture synthesis. Content is a pure function of doc
    * ids (Codecs formulas, versioned above), so a directory left by a
    * previous JVM is valid and reused; the key embeds the sanitized
    * full dir path (no hash collisions), and publication is
    * write-to-temp + atomic rename so two JVMs generating concurrently
    * can't see each other's partial output. */
  private val mediaPaths = scala.collection.mutable.Map.empty[String, String]

  def mediaTable(spark: SparkSession, dir: String): Dataset[MediaRow] = {
    import spark.implicits._
    val path = mediaPaths.synchronized {
      mediaPaths.getOrElseUpdate(dir, {
        val key = dir.replaceAll("[^A-Za-z0-9.-]", "_")
        val out = new java.io.File(sys.props("java.io.tmpdir"),
          s"graft-media-v$CorpusVersion-$key").toPath
        if (!out.resolve("_SUCCESS").toFile.exists()) {
          val tmp = out.resolveSibling(
            out.getFileName.toString + ".tmp-" + ProcessHandle.current().pid())
          generateMedia(spark, dir).write
            .mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(tmp.toString)
          try java.nio.file.Files.move(tmp, out,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
          catch {
            // another JVM published first; its content is identical
            case _: java.nio.file.FileAlreadyExistsException |
                _: java.nio.file.AccessDeniedException |
                _: java.nio.file.DirectoryNotEmptyException =>
              org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
          }
        }
        out.toString
      })
    }
    spark.read.parquet(path).as[MediaRow]
  }

  /** mm01: typed metadata extracted by REAL decode — image dims from the
    * PNG, sample count from the WAV header, frame count + frame dims from
    * the container. n_units = pixels / samples / frames respectively.
    */
  def mediaMeta(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    mediaTable(spark, dir)
      .mapPartitions { rows =>
        rows.map { r =>
          r.media_type match {
            case "image" =>
              val img = Codecs.decodeImage(r.payload)
              (r.doc_id, r.media_type, r.format, img.getWidth, img.getHeight,
                img.getWidth.toLong * img.getHeight)
            case "audio" =>
              val (frames, _) = Codecs.decodeWav(r.payload)
              (r.doc_id, r.media_type, r.format, 0, 0, frames)
            case _ =>
              val frames = Codecs.decodeVideo(r.payload)
              val first = Codecs.decodeImage(frames.head)
              (r.doc_id, r.media_type, r.format, first.getWidth, first.getHeight,
                frames.length.toLong)
          }
        }
      }
      .toDF("doc_id", "media_type", "format", "width", "height", "n_units")
      .orderBy("doc_id")
  }

  /** mm03: decode + feature-extract over the binary column (mapPartitions
    * — the Scala analog of a pandas-batched UDF): per-channel means + max
    * byte from the ImageIO-decoded raster.
    */
  def imageFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    mediaTable(spark, dir)
      .filter(_.media_type == "image")
      .mapPartitions { rows =>
        rows.map { r =>
          val img = Codecs.decodeImage(r.payload)
          val st = Codecs.channelStats(img)
          (r.doc_id, img.getWidth, img.getHeight,
            3L * img.getWidth * img.getHeight,
            r4(st.meanR), r4(st.meanG), r4(st.meanB), st.maxByte)
        }
      }
      .toDF("doc_id", "width", "height", "n_bytes", "mean_r", "mean_g", "mean_b", "max_byte")
      .orderBy("doc_id")
  }

  /** mm04: decode, then nearest-neighbor downscale by 1/ResizeK with
    * `AffineTransformOp`. With the generated dims divisible by ResizeK,
    * Java2D's inverse mapping reads src pixel (K·x + K/2, K·y + K/2) for
    * every dst pixel (asserted per-pixel in MultimodalSpec, so a JDK
    * resampling change fails the suite loudly rather than the oracle
    * silently) — which is exactly what the SQL oracle recomputes.
    */
  def resize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    mediaTable(spark, dir)
      .filter(_.media_type == "image")
      .mapPartitions { rows =>
        val k = Codecs.ResizeK
        val op = new AffineTransformOp(
          AffineTransform.getScaleInstance(1.0 / k, 1.0 / k),
          AffineTransformOp.TYPE_NEAREST_NEIGHBOR)
        rows.map { r =>
          val img = Codecs.decodeImage(r.payload)
          val small = op.filter(img, null)
          val st = Codecs.channelStats(small)
          (r.doc_id, small.getWidth, small.getHeight,
            r4(st.meanR), r4(st.meanG), r4(st.meanB))
        }
      }
      .toDF("doc_id", "width", "height", "mean_r", "mean_g", "mean_b")
      .orderBy("doc_id")
  }

  /** mm06: audio feature extraction — AudioSystem WAV decode, then
    * mean/max/RMS over the raw unsigned samples. The header-declared
    * frame count is cross-checked against the decoded byte count, so a
    * truncated or mis-framed payload fails loudly.
    */
  def audioFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    mediaTable(spark, dir)
      .filter(_.media_type == "audio")
      .mapPartitions { rows =>
        rows.map { r =>
          val (frames, samples) = Codecs.decodeWav(r.payload)
          if (frames != samples.length.toLong)
            throw new IllegalStateException(
              s"WAV frame count $frames != decoded ${samples.length}")
          var sum = 0L; var sq = 0.0; var mx = 0
          var i = 0
          while (i < samples.length) {
            val v = samples(i) & 0xff
            sum += v; sq += v.toDouble * v
            if (v > mx) mx = v
            i += 1
          }
          val n = samples.length
          (r.doc_id, n.toLong, r4(sum.toDouble / n), mx, r4(math.sqrt(sq / n)))
        }
      }
      .toDF("doc_id", "n_samples", "mean_sample", "max_sample", "rms")
      .orderBy("doc_id")
  }

  /** mm02: frame sampling for video payloads — stride applied inside the
    * row, each sampled frame decoded with ImageIO, one output row per
    * sampled frame.
    */
  def frameSample(spark: SparkSession, dir: String, stride: Int): DataFrame = {
    import spark.implicits._
    mediaTable(spark, dir)
      .filter(_.media_type == "video")
      .flatMap { r =>
        val frames = Codecs.decodeVideo(r.payload)
        (0 until frames.length by stride).map { f =>
          val st = Codecs.channelStats(Codecs.decodeImage(frames(f)))
          (r.doc_id, f, r4(st.meanAll))
        }
      }
      .toDF("doc_id", "frame_idx", "frame_mean")
      .orderBy("doc_id", "frame_idx")
  }

  /** mm07: scene-change measurement — the mean absolute pixel
    * difference between consecutive frames, the primitive every
    * keyframe/shot-boundary detector thresholds. Decodes the REAL GVID
    * container and PNG frames (no stubs), then a tight per-byte loop
    * inside the row: map-side only, one video never leaves its
    * partition, no shuffle besides the presentation order. */
  def sceneChanges(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    mediaTable(spark, dir)
      .filter(_.media_type == "video")
      .flatMap { r =>
        // channel bytes via getRGB, not a DataBufferByte cast: the
        // backing raster layout is an ImageIO implementation detail
        // (a decoder change could hand back int-packed data), while
        // getRGB is the specified API. Per-pixel ARGB unpack; alpha
        // constant 255 cancels in the diff.
        val rasters = Codecs.decodeVideo(r.payload).map { png =>
          val img = Codecs.decodeImage(png)
          val w = img.getWidth
          val h = img.getHeight
          val out = new Array[Int](w * h * 3)
          var p = 0
          while (p < w * h) {
            val rgb = img.getRGB(p % w, p / w)
            out(p * 3) = (rgb >> 16) & 0xff
            out(p * 3 + 1) = (rgb >> 8) & 0xff
            out(p * 3 + 2) = rgb & 0xff
            p += 1
          }
          out
        }
        (1 until rasters.length).map { f =>
          val a = rasters(f - 1)
          val b = rasters(f)
          var s = 0L
          var i = 0
          while (i < a.length) { s += math.abs(a(i) - b(i)); i += 1 }
          (r.doc_id, f, r4(s.toDouble / a.length))
        }
      }
      .toDF("doc_id", "frame_idx", "diff_mean")
      .orderBy("doc_id", "frame_idx")
  }

  /** 56-bit difference hash (dHash) of a decoded image: integer
    * grayscale g = (r+g+b)/3, area-averaged onto an 8×8 grid with the
    * pixel→cell map cx = x*8/w (total: every cell non-empty for
    * w,h ≥ 8, the generated minimum), cell value = sum/count (integer
    * floor), bit (cy*7 + k) set iff cell(k,cy) < cell(k+1,cy) — 7
    * horizontal gradient comparisons per row × 8 rows. All-integer
    * arithmetic end to end so the SQL oracle replays it from the pixel
    * formula bit for bit. */
  def dHash(img: BufferedImage): Long = {
    val w = img.getWidth
    val h = img.getHeight
    val sum = Array.ofDim[Long](8, 8)
    val cnt = Array.ofDim[Long](8, 8)
    var y = 0
    while (y < h) {
      val cy = y * 8 / h
      var x = 0
      while (x < w) {
        val rgb = img.getRGB(x, y)
        val g = (((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)) / 3
        sum(cy)(x * 8 / w) += g
        cnt(cy)(x * 8 / w) += 1
        x += 1
      }
      y += 1
    }
    var hash = 0L
    var cy = 0
    while (cy < 8) {
      var k = 0
      while (k < 7) {
        if (sum(cy)(k) / cnt(cy)(k) < sum(cy)(k + 1) / cnt(cy)(k + 1))
          hash |= 1L << (cy * 7 + k)
        k += 1
      }
      cy += 1
    }
    hash
  }

  /** mm08: perceptual near-duplicate image pairs — decode → [[dHash]]
    * (map-side, the only pass over pixel bytes) → candidate pairs via
    * 8 LSH bands × 7 bits → verify by bit_count(xor) ≤ 7.
    *
    * The band count is chosen so recall at the threshold is EXACT, not
    * probabilistic: a pair at hamming ≤ 7 cannot touch all 8 bands
    * (pigeonhole), so at least one band matches and the pair surfaces
    * as a candidate. The all-pairs DuckDB oracle therefore *proves*
    * the banded plan loses nothing. At 100 TB: hashes are 8 bytes/doc,
    * the self-join shuffles (band, value) keys and ids only — pixel
    * data never crosses the network — and hot buckets stay bounded
    * because a 7-bit band has 128 values per band index.
    */
  /** p11's kernel — the composed MULTIMODAL RELEASE in one plan (the
    * LAION-style image pipeline capstone: alignment gate, then
    * near-dup cut, then the shard manifest a release ships):
    * every image decodes EXACTLY ONCE into both release features
    * (the 64-bucket alignment embedding and the 64-bit dHash — one
    * mapPartitions pass, localCheckpointed so the downstream gate and
    * band self-join never re-decode; mm08/mm12's decode-once lesson
    * applied at composition scope), then: stage 1 keeps images whose
    * caption alignment ≥ `tau` (mm09's exact gate — one id equi-join
    * + native cosine); stage 2 drops every aligned image with an
    * ALIGNED smaller-id near-dup at hamming ≤ 7 (mm08's 8-band LSH
    * restricted to survivors — the greedy min-id keep, d17's policy);
    * stage 3 rolls the kept set into a per-md5-shard release card
    * (n_kept, id checksum, alignment mass in exact micro-units).
    *
    * 100 TB: decode features ride mapPartitions (payload bytes never
    * cross an exchange); the checkpoint is 8 + 512 bytes per image;
    * the band join is banded-LSH-bounded and only over aligned
    * survivors; the card is one shard-keyed partial-agg. */
  private[graft] def mediaReleaseCard(spark: SparkSession, dir: String,
      textEmb: DataFrame, tau: Double, shards: Int): DataFrame = {
    import spark.implicits._
    val feats = mediaTable(spark, dir)
      .filter(_.media_type == "image")
      .mapPartitions { rows =>
        rows.map { r =>
          val img = Codecs.decodeImage(r.payload)
          (r.doc_id, poolImage64(img), dHash(img))
        }
      }
      .toDF("doc_id", "ie", "dhash")
      .localCheckpoint() // decode-once barrier
    // checkpointed like feats: three consumers (both band sides and
    // the final anti-join) would otherwise each re-run the embeddings
    // join — three scans of the caption table at 100 TB
    val aligned = feats
      .join(textEmb.select(col("vec_id"),
          col("embedding").cast("array<double>").as("te")),
        col("doc_id") === col("vec_id"))
      .withColumn("align_cos", round(expr("cosine_sim(ie, te)"), 4))
      .filter(col("align_cos") >= tau)
      .select("doc_id", "dhash", "align_cos")
      .localCheckpoint()
    val drop = dHashBandPairs(aligned.select(col("doc_id"), col("dhash")))
      .select(col("doc_b").as("doc_id")).distinct()
    aligned.join(drop, Seq("doc_id"), "left_anti")
      .select(col("doc_id"),
        pmod(expr("md5_bits60(cast(doc_id as string))"), lit(shards.toLong))
          .as("shard"),
        round(col("align_cos") * 1000000).cast("long").as("micro"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_kept"), sum("doc_id").as("id_checksum"),
        sum("micro").as("align_micro_sum"))
      .orderBy("shard")
  }

  /** The 8-band dHash LSH near-dup core shared by mm08's standalone
    * entry and p11's composed release (factored so the band count,
    * bit width, and hamming radius live ONCE — recall at hamming ≤ 7
    * is exact by pigeonhole: ≤ 7 differing bits across 8 bands leaves
    * some band identical). `hashes`: (doc_id, dhash). Returns ordered
    * candidate pairs (doc_a < doc_b, hamming). */
  private[graft] def dHashBandPairs(hashes: DataFrame): DataFrame = {
    val bands = hashes.select(col("doc_id"), col("dhash"),
        explode(sequence(lit(0), lit(7))).as("band"))
      .withColumn("bv", expr("(dhash >> (band * 7)) & 127"))
    bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.dhash").as("h1"), col("b.dhash").as("h2"))
      .distinct()
      .withColumn("hamming", expr("CAST(bit_count(h1 ^ h2) AS INT)"))
      .filter(col("hamming") <= 7)
      .select("doc_a", "doc_b", "hamming")
  }

  def perceptualDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val hashes = mediaTable(spark, dir)
      .filter(_.media_type == "image")
      .mapPartitions(rows =>
        rows.map(r => (r.doc_id, dHash(Codecs.decodeImage(r.payload)))))
      .toDF("doc_id", "dhash")
      // 8-byte signatures — checkpoint so the band self-join's two
      // sides don't each re-run the image decode (mm14's lesson)
      .localCheckpoint()
    dHashBandPairs(hashes).orderBy("doc_a", "doc_b")
  }

  /** mm09: CLIP-style image-text alignment gate — the pair filter a
    * multimodal curation pipeline runs between captioning and training
    * (the LAION-style CLIP-score cut): every (image, caption) pair
    * scores by cosine between an image embedding and the caption's
    * text embedding, and only pairs at or above `tau` survive, score
    * out per pair. The image embedding here is a REAL decode product —
    * the PNG raster pools into 64 buckets (bucket k = mean of the
    * flat-RGB bytes at index ≡ k mod 64), matching the caption
    * embedding's 64 dims; production swaps in a model encoder, and the
    * plumbing (map-side decode → fixed-dim vector → one id-keyed
    * equi-join → native cosine gate) is the contract.
    *
    * Scale: decode + pooling ride mapPartitions (no shuffle, pixel
    * bytes never leave the executor); pair association is ONE
    * equi-join on the shared id — image and caption embeddings
    * co-partition/bucket by that id at 100 TB, so neither corpus-scale
    * side is broadcast (AQE broadcasts the smaller side at test scale,
    * which PlanSpec pins along with the join-key shape); the score is
    * the codegen'd cosine_sim and the gate a map-side filter. No
    * window, no cartesian, no driver collect.
    */
  /** The 64-bucket pooled "image embedding" shared by mm09's
    * alignment gate and p11's fused release pass: bucket k = mean of
    * the flat-RGB bytes at index ≡ k mod 64 (TYPE_3BYTE_BGR stores
    * B,G,R per pixel, so flat RGB index base+c lives at raster byte
    * base+(2−c)). Every bucket is populated: the smallest image is
    * 8×8 = 192 raster bytes at consecutive flat indices ≥ 64. */
  private[graft] def poolImage64(img: BufferedImage): Array[Double] = {
    val data = img.getRaster.getDataBuffer.asInstanceOf[DataBufferByte].getData
    val sums = new Array[Long](64)
    val cnts = new Array[Long](64)
    val n = img.getWidth * img.getHeight
    var p = 0
    while (p < n) {
      val base = p * 3
      var c = 0
      while (c < 3) {
        sums((base + c) % 64) += data(base + (2 - c)) & 0xff
        cnts((base + c) % 64) += 1
        c += 1
      }
      p += 1
    }
    Array.tabulate(64)(k => sums(k).toDouble / cnts(k))
  }

  def imageTextAlignment(spark: SparkSession, dir: String,
      textEmb: DataFrame, tau: Double): DataFrame = {
    import spark.implicits._
    val imgVec = mediaTable(spark, dir)
      .filter(_.media_type == "image")
      .mapPartitions { rows =>
        rows.map(r => (r.doc_id, poolImage64(Codecs.decodeImage(r.payload))))
      }
      .toDF("doc_id", "ie")
    imgVec
      .join(textEmb.select(col("vec_id"),
          col("embedding").cast("array<double>").as("te")),
        col("doc_id") === col("vec_id"))
      .withColumn("align_cos", round(expr("cosine_sim(ie, te)"), 4))
      .filter(col("align_cos") >= tau)
      .select("doc_id", "align_cos")
      .orderBy("doc_id")
  }

  /** mm10: audio-caption alignment gate — [[imageTextAlignment]]'s
    * exact contract for the AUDIO modality (the CLAP-style pair cut a
    * speech/music curation pipeline runs between captioning and
    * training): the decoded WAV samples pool into 64 buckets (bucket
    * k = mean of the unsigned samples at index ≡ k mod 64 — every
    * bucket populated, the shortest clip holds 256 samples), cosine
    * against the caption's 64-dim text embedding, survivors at or
    * above `tau` with the score out. Production swaps in a model
    * encoder; the plumbing (map-side decode → fixed-dim vector → one
    * id-keyed equi-join → native cosine gate) is the contract, shared
    * shape with mm09 (its scale notes apply verbatim). */
  def audioTextAlignment(spark: SparkSession, dir: String,
      textEmb: DataFrame, tau: Double): DataFrame = {
    import spark.implicits._
    val audVec = mediaTable(spark, dir)
      .filter(_.media_type == "audio")
      .mapPartitions { rows =>
        rows.map { r =>
          val (frames, samples) = Codecs.decodeWav(r.payload)
          if (frames != samples.length.toLong)
            throw new IllegalStateException(
              s"WAV frame count $frames != decoded ${samples.length}")
          val sums = new Array[Long](64)
          val cnts = new Array[Long](64)
          var i = 0
          while (i < samples.length) {
            sums(i % 64) += samples(i) & 0xff
            cnts(i % 64) += 1
            i += 1
          }
          (r.doc_id, Array.tabulate(64)(k => sums(k).toDouble / cnts(k)))
        }
      }
      .toDF("doc_id", "ae")
    audVec
      .join(textEmb.select(col("vec_id"),
          col("embedding").cast("array<double>").as("te")),
        col("doc_id") === col("vec_id"))
      .withColumn("align_cos", round(expr("cosine_sim(ae, te)"), 4))
      .filter(col("align_cos") >= tau)
      .select("doc_id", "align_cos")
      .orderBy("doc_id")
  }

  /** mm11: video-caption alignment gate — the third modality of the
    * mm09/mm10 pair contract (the video-retrieval cut a video-text
    * curation pipeline runs): every frame of the container decodes
    * (real PNG decode per frame), the flat-RGB streams of ALL frames
    * pool into the same 64-bucket embedding (frame size 576 bytes is
    * divisible by 64, so frames align on buckets — bucket k = mean of
    * flat index ≡ k mod 64 across every frame), cosine against the
    * caption's text embedding, survivors ≥ `tau`. Same plumbing
    * contract and scale notes as mm09: map-side decode+pooling, one
    * id-keyed equi-join, native cosine gate. */
  def videoTextAlignment(spark: SparkSession, dir: String,
      textEmb: DataFrame, tau: Double): DataFrame = {
    import spark.implicits._
    val vidVec = mediaTable(spark, dir)
      .filter(_.media_type == "video")
      .mapPartitions { rows =>
        rows.map { r =>
          val sums = new Array[Long](64)
          val cnts = new Array[Long](64)
          Codecs.decodeVideo(r.payload).foreach { frameBytes =>
            val img = Codecs.decodeImage(frameBytes)
            val data = img.getRaster.getDataBuffer.asInstanceOf[DataBufferByte].getData
            val n = img.getWidth * img.getHeight
            var p = 0
            while (p < n) {
              val base = p * 3
              var c = 0
              while (c < 3) {
                // flat RGB index base+c lives at data(base + (2-c)):
                // TYPE_3BYTE_BGR stores B,G,R per pixel (mm09's note)
                sums((base + c) % 64) += data(base + (2 - c)) & 0xff
                cnts((base + c) % 64) += 1
                c += 1
              }
              p += 1
            }
          }
          (r.doc_id, Array.tabulate(64)(k => sums(k).toDouble / cnts(k)))
        }
      }
      .toDF("doc_id", "ve")
    vidVec
      .join(textEmb.select(col("vec_id"),
          col("embedding").cast("array<double>").as("te")),
        col("doc_id") === col("vec_id"))
      .withColumn("align_cos", round(expr("cosine_sim(ve, te)"), 4))
      .filter(col("align_cos") >= tau)
      .select("doc_id", "align_cos")
      .orderBy("doc_id")
  }

  /** mm12: video near-duplicate pairs by frame-fingerprint shingling —
    * the clip-level dedup a video corpus runs before training (the
    * re-upload / re-edit cut: same footage trimmed, re-cut, or
    * re-containered). Each container frame PNG-decodes and hashes
    * through [[dHash]] map-side (the only pass over pixel bytes); a
    * clip's signature is its DISTINCT frame-hash set; candidate pairs
    * surface by equi-join on a shared frame hash (two clips sharing
    * even one fingerprinted frame meet in one hash bucket), and
    * survivors at frame-set Jaccard ≥ `tau` come out with the
    * shared-frame count and score. mm08 is this idea for single
    * images; here the *sequence* reduces to a set of per-frame
    * fingerprints, the shape YouTube-style content-matching and
    * video-corpus dedup actually use at the first stage.
    *
    * Scale: signatures are 8 bytes/frame — a 100 TB video corpus
    * reduces to a few GB of (doc_id, fhash) rows before anything
    * shuffles; the candidate join keys on the 64-bit frame hash with
    * ids-only on the wire (payload never crosses an exchange,
    * plan-pinned); per-clip frame counts ride along from the decode so
    * the Jaccard needs NO second join. Pair count follows d09/mm08's
    * f² law on a hash's clip-frequency — the standard remedy for
    * pathological shared frames (intros, color bars, black frames
    * common to thousands of clips) is a stop-frame df cap, composing
    * here as one df-filter on `fhash` before the join.
    */
  def videoNearDup(spark: SparkSession, dir: String, tau: Double): DataFrame = {
    import spark.implicits._
    val frames = mediaTable(spark, dir)
      .filter(_.media_type == "video")
      .mapPartitions { rows =>
        rows.flatMap { r =>
          val hs = Codecs.decodeVideo(r.payload)
            .map(fb => dHash(Codecs.decodeImage(fb))).toSet
          hs.iterator.map(h => (r.doc_id, h, hs.size))
        }
      }
      .toDF("doc_id", "fhash", "nf")
      // signatures are 8 bytes/frame — checkpoint so the self-join's
      // two sides read the materialized hashes instead of decoding
      // every clip twice (mm14's measured lesson: re-executed decode
      // lineage dominates at scale)
      .localCheckpoint()
    frames.as("a").join(frames.as("b"),
        col("a.fhash") === col("b.fhash") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.nf").as("na"), col("b.nf").as("nb"))
      .agg(count(lit(1)).as("shared"))
      .withColumn("jac",
        round(col("shared") / (col("na") + col("nb") - col("shared")), 4))
      .filter(col("jac") >= tau)
      .select(col("doc_a"), col("doc_b"), col("shared"), col("jac"))
      .orderBy("doc_a", "doc_b")
  }

  /** mm14: audio near-dup by frame-fingerprint shingling — mm12's
    * re-upload/re-edit cut for the audio modality (the
    * chromaprint/AcoustID deployment shape: a clip's signature is a
    * SET of short-window fingerprints, robust to trims and
    * concatenation, which sample-exact hashing (d01-style) can never
    * see). Every WAV decodes map-side (real AudioSystem codec); its
    * non-overlapping `frameLen`-sample windows fingerprint through the
    * engine's 60-bit md5 (unsigned sample values comma-joined — a
    * production system swaps in spectral peaks; the PLUMBING — decode,
    * window, fingerprint-set, join — is what this operator pins);
    * candidate pairs meet on a shared fingerprint equi-join, survivors
    * at set-Jaccard ≥ `tau` with shared count + score. Per-clip
    * fingerprint counts ride along from the decode so Jaccard needs no
    * second join (mm12's trick). Short tail windows are dropped — a
    * trailing partial window would hash differently for the same
    * leading content.
    *
    * Scale: payloads reduce to 8-byte fingerprints map-side before
    * anything shuffles; the join keys on the 60-bit hash, ids-only on
    * the wire; payload bytes never cross an exchange (plan-pinned).
    * The f² fanout remedy is wired in BY DEFAULT (the r8 watch —
    * mm14 was the suite's worst scaling point uncapped): a STOP-PRINT
    * cut drops any fingerprint carried by more than `stopDfFrac` of
    * all clips before the candidate join (chromaprint's silence /
    * color-bar remedy, d10's two-phase shape). The threshold is a
    * FRACTION, not an absolute df — an absolute cap silently empties
    * the result once the corpus outgrows it, while "a quarter of the
    * whole corpus shares this window" is scale-invariant evidence of
    * content-free boilerplate. The stop set is tiny by definition →
    * broadcast anti-join; clip signature sizes (na/nb) stay
    * decode-time values, so surviving pairs score identically whether
    * or not the cut bites elsewhere. MultimodalSpec's crafted silence
    * fixture pins the f² path bounded; the oracle replays the same
    * fractional cut (no bite at sf0.01: max print df 18 vs cap 41).
    */
  def audioNearDup(spark: SparkSession, dir: String, frameLen: Int,
      tau: Double, stopDfFrac: Double = 0.25): DataFrame = {
    import spark.implicits._
    val prints = mediaTable(spark, dir)
      .filter(_.media_type == "audio")
      .mapPartitions { rows =>
        rows.flatMap { r =>
          val (_, samples) = Codecs.decodeWav(r.payload)
          val fps = samples.grouped(frameLen)
            .filter(_.length == frameLen)
            .map(w => graft.exprs.Md5Bits60.compute(
              org.apache.spark.unsafe.types.UTF8String.fromString(
                w.map(b => (b & 0xff).toString).mkString(","))))
            .toSet
          fps.iterator.map(h => (r.doc_id, h, fps.size))
        }
      }
      .toDF("doc_id", "fp", "nf")
      // the print table is 8 bytes/window — checkpoint it so the stop
      // cut's stat pass, the anti-join, and both self-join sides read
      // the materialized prints instead of re-decoding every WAV
      // (uncheckpointed, the decode lineage re-executes ~5x: measured
      // 28 s vs 8 s at sf1)
      .localCheckpoint()
    audioNearDupFromPrints(prints, tau, stopDfFrac)
  }

  /** mm14's join half over a prepared (doc_id, fp, nf) print table —
    * split out so the skew fixture can drive the stop-print cut
    * directly. `stopDfFrac >= 1` disables the cut (every print is
    * carried by ≤ 100% of clips). */
  def audioNearDupFromPrints(prints: DataFrame, tau: Double,
      stopDfFrac: Double): DataFrame = {
    require(stopDfFrac > 0, s"stopDfFrac must be positive, got $stopDfFrac")
    val pdf = prints.groupBy("fp").agg(count(lit(1)).as("pdf"))
    val tot = prints.agg(countDistinct(col("doc_id")).as("nclips"))
    val stop = pdf.crossJoin(broadcast(tot))
      .filter(col("pdf") > col("nclips") * stopDfFrac)
      .select("fp")
    val kept = prints.join(broadcast(stop), Seq("fp"), "left_anti")
    kept.as("a").join(kept.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.nf").as("na"), col("b.nf").as("nb"))
      .agg(count(lit(1)).as("shared"))
      .withColumn("jac",
        round(col("shared") / (col("na") + col("nb") - col("shared")), 4))
      .filter(col("jac") >= tau)
      .select(col("doc_a"), col("doc_b"), col("shared"), col("jac"))
      .orderBy("doc_a", "doc_b")
  }

  /** mm13: cross-modal containment — still images that ARE a frame of
    * some video (the thumbnail / extracted-frame case: a video's key
    * frame re-uploaded as an image duplicates content the clip already
    * contributes, and image-only dedup (mm08) can never see it). Every
    * image dHashes once; every clip contributes its distinct per-frame
    * dHash set (mm12's signature); containment = fingerprint EQUALITY
    * join — exact, because containment asks "is this image one of the
    * clip's frames", not "is it similar to the clip" (the mm09 cosine
    * gate answers that). Out: (img_id, vid_id, fhash) per containment.
    *
    * Scale: both sides reduce to 8-byte fingerprints map-side before
    * anything shuffles; the join keys on the 64-bit hash with ids-only
    * on the wire; a pathologically common frame (black/intro) fans out
    * f²-style — the same stop-frame df cap as mm12/d09 composes as one
    * filter before the join. Payload bytes never cross an exchange
    * (plan-pinned).
    */
  def frameContainment(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media = mediaTable(spark, dir)
    val imgs = media.filter(_.media_type == "image")
      .mapPartitions(rows =>
        rows.map(r => (r.doc_id, dHash(Codecs.decodeImage(r.payload)))))
      .toDF("img_id", "fhash")
    val frames = media.filter(_.media_type == "video")
      .mapPartitions { rows =>
        rows.flatMap { r =>
          Codecs.decodeVideo(r.payload)
            .map(fb => dHash(Codecs.decodeImage(fb)))
            .toSet[Long].iterator.map(h => (r.doc_id, h))
        }
      }
      .toDF("vid_id", "fhash")
    imgs.join(frames, "fhash")
      .select(col("img_id"), col("vid_id"), col("fhash"))
      .orderBy("img_id", "vid_id")
  }

  /** A second real image codec needing no library at all: PPM (P6) —
    * ASCII header `P6\n<w> <h>\n<maxval>\n` + RGB raster, parsed at the
    * byte level with loud errors on corrupt input.
    */
  object PpmCodec {
    def encode(width: Int, height: Int, pixels: Array[Byte]): Array[Byte] = {
      require(pixels.length == 3 * width * height, "raster size mismatch")
      val header = s"P6\n$width $height\n255\n".getBytes(java.nio.charset.StandardCharsets.US_ASCII)
      val out = new Array[Byte](header.length + pixels.length)
      System.arraycopy(header, 0, out, 0, header.length)
      System.arraycopy(pixels, 0, out, header.length, pixels.length)
      out
    }

    /** Parse a P6 payload → (width, height, rgb raster). Handles
      * whitespace runs and `#` comments per the PPM spec; throws on a
      * bad magic number, maxval ≠ 255, or a truncated raster. */
    def decode(payload: Array[Byte]): (Int, Int, Array[Byte]) = {
      var i = 0
      def skipWsAndComments(): Unit = {
        var go = true
        while (go && i < payload.length) {
          val c = payload(i).toChar
          if (c == '#') { while (i < payload.length && payload(i) != '\n') i += 1 }
          else if (c.isWhitespace) i += 1
          else go = false
        }
      }
      def token(): String = {
        skipWsAndComments()
        val start = i
        while (i < payload.length && !payload(i).toChar.isWhitespace) i += 1
        new String(payload, start, i - start, java.nio.charset.StandardCharsets.US_ASCII)
      }
      val magic = token()
      if (magic != "P6") throw new IllegalArgumentException(s"not a P6 PPM (magic '$magic')")
      val w = token().toInt
      val h = token().toInt
      val maxval = token().toInt
      if (maxval != 255) throw new IllegalArgumentException(s"unsupported maxval $maxval")
      i += 1 // single whitespace after maxval, then raster
      val need = 3 * w * h
      if (payload.length - i < need)
        throw new IllegalArgumentException(
          s"truncated raster: need $need bytes, have ${payload.length - i}")
      (w, h, java.util.Arrays.copyOfRange(payload, i, i + need))
    }
  }

  /** mm05: PPM decode end-to-end — deterministic P6 images encoded on the
    * executors, decoded back at the byte level, reduced to per-channel
    * means; oracle recomputes the same stats from the pixel formula.
    */
  def ppmFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.Tables.t(spark, dir, "documents")
      .select(col("doc_id")).where(col("doc_id") % 3 === 0)
      .as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val w = (8 + id % 16).toInt
          val h = (6 + id % 12).toInt
          val pixels = Array.tabulate(3 * w * h)(i => ((id * 31 + i) % 256).toByte)
          (id, PpmCodec.encode(w, h, pixels))
        }
      }
      .mapPartitions { rows =>
        rows.map { case (id, payload) =>
          val (w, h, raster) = PpmCodec.decode(payload)
          var sr = 0L; var sg = 0L; var sb = 0L
          var i = 0
          while (i < raster.length) {
            val v = raster(i) & 0xff
            (i % 3) match {
              case 0 => sr += v
              case 1 => sg += v
              case _ => sb += v
            }
            i += 1
          }
          val n = w * h
          (id, w, h, raster.length.toLong,
            r4(sr.toDouble / n), r4(sg.toDouble / n), r4(sb.toDouble / n))
        }
      }
      .toDF("doc_id", "width", "height", "n_bytes", "mean_r", "mean_g", "mean_b")
      .orderBy("doc_id")
  }
}
