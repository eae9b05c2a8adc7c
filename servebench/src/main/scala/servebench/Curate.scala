package servebench

import graft.SparkEntry
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{Row, SaveMode, SparkSession}

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** The `curate` layer: one pass over `PipelineOps`-family kernels, reached
  * through `SparkEntry.queries` as the driver reaches them, on a corpus
  * generated from fixed formulas (a checkout holds no corpus). The
  * serving workloads never call these kernels, so the traced run of each
  * appends this pass and reports its per-entry wall time, jobs and task
  * time. */
object Curate {

  /** The three recurring kernel shapes plus the carried items:
    * candidate-join + verify, in-row election, postings pivot, write and
    * read-back, streaming. */
  val Entries: Seq[String] = Seq(
    "d26_dedup_sweep", "d09_prefix_filter_jaccard", "u08_license_taint",
    "s04_kmeans_cluster", "d17_semdedup",
    "idx13_maxscore_topk", "idx14_federated_search",
    "d20_dedup_index_persist",
    "st13_stream_outer_interval_join")

  /** Row count and order-independent hash of each entry's output on the
    * generated corpus. */
  val Expected: Map[String, (Long, String)] = Map(
    "d26_dedup_sweep" -> (4L, "3789b0508a130fed"),
    "d09_prefix_filter_jaccard" -> (25L, "6cf05db75fe22872"),
    "u08_license_taint" -> (6L, "512488efc8227054"),
    "s04_kmeans_cluster" -> (8L, "830239c30fead243"),
    "d17_semdedup" -> (490L, "c3034fb9f3de017a"),
    "idx13_maxscore_topk" -> (10L, "394001e064edfdc1"),
    "idx14_federated_search" -> (15L, "17596d84a543a43f"),
    "d20_dedup_index_persist" -> (6L, "3dfa042ab4cf3e15"),
    "st13_stream_outer_interval_join" -> (1054L, "04f51573c992f837"))

  // ---- the corpus ----------------------------------------------------------
  // Shaped like the sf0.01 corpus: space-separated words from a small
  // vocabulary, five languages, 25 sources, and every 20th document a near
  // copy of an earlier one carrying the rare word `dup`; 64-dimensional
  // embeddings around ten label centres; events as the serving workloads
  // read them.
  val Docs = 500
  val Vectors = 500

  private val Vocab = Seq("a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order", "part", "query",
    "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the", "value",
    "vector", "window")

  def writeCorpus(spark: SparkSession, dir: String): Unit = {
    import Setup.{h, pick}
    val vocab = Vocab.map(w => s"'$w'").mkString("array(", ",", ")")
    // a near copy repeats document id - 5 and swaps its last word for `dup`
    val base = "IF(id % 20 = 7, id - 5, id)"
    spark.range(0, Docs, 1, 2)
      .selectExpr("id", s"$base AS base", s"8 + pmod(xxhash64($base, 1), 80) AS words")
      .selectExpr("id AS doc_id",
        s"""array_join(transform(sequence(0, int(words) - 1), k ->
           |  IF(id != base AND k = int(words) - 1, 'dup',
           |     element_at($vocab, int(pmod(xxhash64(base, k, 2), ${Vocab.length})) + 1))), ' ') AS text""".stripMargin,
        s"${pick(3, "en", "en", "en", "de", "es", "fr", "zh")} AS lang",
        "concat('src', id % 25) AS source")
      .selectExpr("*", "CAST(length(text) AS BIGINT) AS n_chars")
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/documents.parquet")
    spark.range(0, Vectors, 1, 2)
      .selectExpr("id AS vec_id", s"int(${h(11, 10)}) AS label")
      .selectExpr("vec_id", "label",
        """transform(sequence(0, 63), k -> CAST(
          |  pmod(xxhash64(label, k, 12), 1000) / 1000.0 - 0.5 +
          |  (pmod(xxhash64(vec_id, k, 13), 1000) / 1000.0 - 0.5) * 0.2 AS FLOAT)) AS embedding""".stripMargin)
      .select("vec_id", "embedding", "label")
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/embeddings.parquet")
    Setup.events(spark).write.mode(SaveMode.Overwrite).parquet(s"$dir/events.parquet")
  }

  // ---- output checks -------------------------------------------------------

  private def cell(v: Any): String = v match {
    case null => "null"
    case d: Double => f"$d%.6g"
    case f: Float => f"${f.toDouble}%.6g"
    case r: Row => r.toSeq.map(cell).mkString("(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => cell(k) + ":" + cell(x) }.sorted.mkString("{", ",", "}")
    case t: java.sql.Timestamp => t.getTime.toString
    case other => other.toString
  }

  /** Sum of the rows' 64-bit hashes, so the order of rows does not count.
    * Floating-point values enter at six significant digits, since a
    * shuffle may add them in another order. */
  def hash(rows: Seq[Row]): String = {
    val sum = rows.foldLeft(0L) { (acc, r) =>
      val bytes = r.toSeq.map(cell).mkString("\u0001").getBytes("UTF-8")
      val hi = scala.util.hashing.MurmurHash3.bytesHash(bytes, 17).toLong
      val lo = scala.util.hashing.MurmurHash3.bytesHash(bytes, 31).toLong & 0xffffffffL
      acc + ((hi << 32) | lo)
    }
    f"$sum%016x"
  }

  // ---- the pass ------------------------------------------------------------

  /** Jobs (submission ms) and tasks (launch ms, duration ms) seen on the
    * shared listener bus; the pass runs alone, so time windows attribute
    * them to entries. */
  private final class Counter extends SparkListener {
    val jobs = new ConcurrentLinkedQueue[java.lang.Long]
    val tasks = new ConcurrentLinkedQueue[(Long, Long)]
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.add(e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      tasks.add((e.taskInfo.launchTime, e.taskInfo.finishTime - e.taskInfo.launchTime))
  }

  /** Write the corpus, run every entry once, check its output, and add
    * `curate.<entry>.{wall_s,jobs,task_ms}` to the per-layer table. */
  def run(spark: SparkSession, workDir: String, result: Main.Result): Unit = {
    val dir = java.nio.file.Paths.get(workDir, "curate").toAbsolutePath.toString
    writeCorpus(spark, dir)
    val counter = new Counter
    spark.sparkContext.addSparkListener(counter)
    val tally = new Tally("curate")
    result.tallies += tally
    val windows = Entries.map { name =>
      val t0 = System.currentTimeMillis()
      val n0 = System.nanoTime()
      val got = try {
        val rows = SparkEntry.queries(name)(spark, dir).collect().toSeq
        Right((rows.length.toLong, hash(rows)))
      } catch { case e: Exception => Left(e.toString.take(300)) }
      val wall = (System.nanoTime() - n0) / 1e9
      val ok = got.toOption.exists(g => Expected.get(name).contains(g))
      tally.record(wall * 1000, ok, s"$name -> ${got.fold(identity, g => s"${g._1} rows, hash ${g._2}")}, " +
        s"expected ${Expected.get(name).fold("nothing")(e => s"${e._1} rows, hash ${e._2}")}")
      println(f"${s"curate.$name"}%-40s ${got.fold(_ => "error", g => s"${g._1} rows, hash ${g._2}")}")
      (name, t0, System.currentTimeMillis(), wall)
    }
    // wait until the bus has delivered every event of the pass
    var (stable, last) = (0, -1)
    while (stable < 5) {
      Thread.sleep(50)
      val n = counter.jobs.size + counter.tasks.size
      if (n == last) stable += 1 else { stable = 0; last = n }
    }
    spark.sparkContext.removeSparkListener(counter)
    val jobs = counter.jobs.asScala.map(_.longValue).toSeq
    val tasks = counter.tasks.asScala.toSeq
    windows.foreach { case (name, from, to, wall) =>
      result.layers ++= Map(
        s"curate.$name.wall_s" -> wall,
        s"curate.$name.jobs" -> jobs.count(t => t >= from && t <= to).toDouble,
        s"curate.$name.task_ms" -> tasks.collect { case (l, d) if l >= from && l <= to => d }.sum.toDouble)
    }
    println(f"${"curate_pass_s"}%-28s ${windows.map(_._4).sum}%14.4f s (one pass, first in this JVM)")
  }
}
