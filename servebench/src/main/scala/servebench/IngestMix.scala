package servebench

import graft.Tables
import org.apache.spark.sql.SparkSession

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** `ingest_mix`: one writer POSTs seeded event batches while one reader
  * renders a live count dashboard over the same table and one client
  * runs a rollup task. The writer sends a fixed number of batches, so
  * the table ends every run at the same size and file count. */
object IngestMix {
  val Table = "bench_events"
  val BatchesPerSecond = 4

  /** The task client runs the rollup once every `TaskEvery` acknowledged
    * batches, as a scheduled job would, so every run makes the same
    * number of task requests whether they succeed or fail fast. */
  val TaskEvery = 8

  /** The rollup task, in the form the program runs: drop, then create
    * as select. The form a DuckDB user writes, `CREATE OR REPLACE TABLE
    * … AS SELECT`, fails on Spark's built-in catalog
    * (UNSUPPORTED_FEATURE.TABLE_OPERATION); a workload must be one on
    * which no operation fails, so that form is not timed. `ReplaceProbe`
    * sends it once per run at set-up and reports the outcome beside the
    * result, outside the verdict. */
  val RollupTask: String =
    s"""DROP TABLE IF EXISTS bench_rollup;
       |CREATE TABLE bench_rollup AS
       |SELECT kind, count(*) AS n, sum(amount) AS total FROM $Table GROUP BY kind;
       |SELECT kind, n, total FROM bench_rollup ORDER BY kind""".stripMargin

  /** The rollup in its DuckDB form; see `RollupTask`. */
  val ReplaceProbe: String =
    s"""CREATE OR REPLACE TABLE bench_rollup AS
       |SELECT kind, count(*) AS n, sum(amount) AS total FROM $Table GROUP BY kind""".stripMargin

  private def now: Long = System.nanoTime()

  /** Drop the ingested and rolled-up tables and their files. */
  def reset(spark: SparkSession): Unit = Seq(Table, "bench_rollup").foreach { t =>
    spark.sql(s"DROP TABLE IF EXISTS $t")
    val dir = new org.apache.hadoop.fs.Path(spark.conf.get("spark.sql.warehouse.dir"), t)
    dir.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(dir, true)
  }

  /** The live dashboard's event count, or None when the reply is not a
    * well-formed render. */
  def liveCount(body: String): Option[Long] =
    try Json.widgetRows(body) match {
      case Seq(Seq(Seq(n: Long)), perKind) if perKind.forall(_.length == 2) => Some(n)
      case _ => None
    } catch { case _: Exception => None }

  def taskOk(r: Reply): Boolean = r.status == 200 && (try {
    val j = Json.parse(r.body)
    j.get("success").asBoolean && j.get("queries").elements().asScala.forall(_.get("error").isNull)
  } catch { case _: Exception => false })

  def run(spark: SparkSession, a: Main.Args, setupStart: Long): Main.Result = {
    val result = new Main.Result
    val batches = BatchesPerSecond * a.seconds
    val liveToken = Setup.jwt(Some(Dashboards.live.id), Map.empty)
    val userToken = Setup.jwt(None, Map.empty)
    val taskBody = s"""{"content":${Json.str(RollupTask)}}"""

    // set-up: reset, serve, then warm the writer, reader and task paths
    // together
    val tracer = Option.when(a.trace)(new Tracer(spark))
    val prepare: SparkSession => Unit = tracer.map(t => t.prepare _).getOrElse(_ => ())
    // ingest appends run on the root session, which no hook reaches
    tracer.foreach(t => spark.listenerManager.register(t.queryListener))
    reset(spark)
    val served = Setup.serve(spark, Seq(Dashboards.live), prepare)
    val warmClient = new Client(served.port)
    var b = 0
    val medians = Serving.warmUp { _ =>
      val times = (0 until 3).map { _ =>
        val (payload, _) = Plan.batch(a.seed + 1000, b, batches)
        b += 1
        val w = warmClient.post(s"/api/data/$Table", payload, served.apiKey)
        if (w.status != 202) throw new IllegalStateException(s"warm-up ingest failed: ${w.status} ${w.body.take(300)}")
        val r = warmClient.get(s"/api/dashboards/${Dashboards.live.id}", liveToken)
        if (r.status != 200) throw new IllegalStateException(s"warm-up render failed: ${r.status} ${r.body.take(300)}")
        r.ms
      }
      val t = warmClient.post("/api/run/task", taskBody, userToken)
      if (!taskOk(t)) throw new IllegalStateException(s"warm-up task failed: ${t.status} ${t.body.take(300)}")
      Stats.median(times)
    }
    val probe = warmClient.post("/api/run/task", s"""{"content":${Json.str(ReplaceProbe)}}""", userToken)
    println("known defect, not in the verdict: CREATE OR REPLACE TABLE ... AS SELECT in a task -> " +
      (if (taskOk(probe)) "ok (fixed)" else s"fails: ${probe.status} ${probe.body.take(200).replaceAll("\\s+", " ")}"))
    val setupS = (now - setupStart) / 1e9
    Serving.logSetup(setupS, medians)
    reset(spark)
    val port = served.port
    val key = served.apiKey

    val ingest = new Tally("ingest")
    val renders = new Tally("render")
    val tasks = new Tally("task")
    result.tallies ++= Seq(ingest, renders, tasks)
    val sendNs = new Array[Long](batches)
    val acked = new ConcurrentLinkedQueue[String]
    val ackedEvents = new AtomicLong
    val sentEvents = new AtomicLong
    val ackedBatches = new AtomicInteger
    val ackedBytes = new AtomicLong
    val visible = new ConcurrentLinkedQueue[java.lang.Double]

    val recorder = tracer.map(new Recorder(spark, _))
    val gate = new Load.Gate(a.trace)
    val liveView = View(Dashboards.live, None, Map.empty, Nil)
    Jvm.resetPeak()
    val gc0 = Jvm.gc()
    val start = now
    val writerDone = () => ackedBatches.get >= batches
    def write(client: Client, b: Int): Unit = gate {
      val (payload, ids) = Plan.batch(a.seed, b, batches)
      sendNs(b) = now
      sentEvents.addAndGet(ids.length)
      val r = client.post(s"/api/data/$Table", payload, key)
      val ok = r.status == 202 && (try {
        Json.parse(r.body).get("ids").elements().asScala.map(_.asText).toSeq == ids
      } catch { case _: Exception => false })
      ingest.record(r.ms, ok, s"batch $b -> ${r.status} ${r.body.take(300)}")
      recorder.foreach(_.ingest(r, ok, Plan.events(a.seed, b, batches).map(_._1), Table))
      if (ok) {
        ids.foreach(acked.add)
        ackedEvents.addAndGet(ids.length)
        ackedBytes.addAndGet(payload.getBytes("UTF-8").length)
      }
      ackedBatches.incrementAndGet()
    }
    val clients = (0 until 3).map(_ => new Client(port))
    // the reader and the task start once the first batch has created the table
    write(clients(0), 0)
    recorder.foreach(_.replay(Seq(liveView)))

    var seen = 0 // batches the reader has seen counted
    Load.clients(3, (_, _) => writerDone()) { (c, _) =>
      c match {
        case 0 => write(clients(0), ackedBatches.get)
        case 1 => gate {
          val floor = ackedEvents.get
          val r = clients(1).get(liveView.path, liveToken)
          val n = if (r.status == 200) liveCount(r.body) else None
          val ceiling = sentEvents.get
          val ok = n.exists(x => x >= floor && x <= ceiling)
          renders.record(r.ms, ok, s"live render -> ${r.status} count $n outside [$floor, $ceiling] ${r.body.take(200)}")
          recorder.foreach(_.render(liveView, liveToken, r, ok))
          n.foreach { x =>
            val upTo = math.min((x / Plan.EventsPerBatch).toInt, batches)
            (seen until upTo).foreach(b => visible.add((r.doneNs - sendNs(b)) / 1e6))
            seen = math.max(seen, upTo)
          }
        }
        case 2 =>
          if (ackedBatches.get < (tasks.attempted.get + 1) * TaskEvery) Thread.sleep(5)
          else gate {
            val r = clients(2).post("/api/run/task", taskBody, userToken)
            tasks.record(r.ms, taskOk(r), s"task -> ${r.status} ${r.body.take(300)}")
            recorder.foreach(_.task(r, taskOk(r)))
          }
      }
    }
    val elapsed = (now - start) / 1e9

    // a last rollup with no writer running, then the checks
    val last = clients(2).post("/api/run/task", taskBody, userToken)
    tasks.record(last.ms, taskOk(last), s"final task -> ${last.status} ${last.body.take(300)}")
    served.stop()
    check(spark, acked.asScala.toSet, batches, result)

    result.add("setup_s", setupS, "s")
    Serving.addRender(result, renders, elapsed)
    result.add("heap_peak_mb", Jvm.heapPeakMb(), "MB")

    val is = ingest.summary
    val stored = tableBytes(spark)
    recorder.foreach { rec =>
      Serving.finishTrace(rec, a, result, gc0)
      val files = tableFiles(spark)
      result.layers ++= Map(
        "ingest.table_files" -> files.toDouble,
        "ingest.files_per_batch" -> files.toDouble / batches,
        "ingest.write_amp" -> stored.toDouble / math.max(ackedBytes.get, 1L))
    }
    Seq(
      ("ingest_p50_ms", Serving.clamp(is.p50, elapsed), "ms"),
      ("ingested_events_per_s", ackedEvents.get / elapsed, "1/s"),
      ("visible_p50_ms", Stats.median(visible.asScala.map(_.doubleValue)), "ms"),
      ("task_p50_ms", Serving.clamp(tasks.summary.p50, elapsed), "ms"),
      ("stored_bytes_per_input_byte", stored.toDouble / math.max(ackedBytes.get, 1L), "ratio"))
      .foreach { case (n, v, u) => println(f"$n%-28s $v%14.4f $u") }
    println(f"${"ingest_p90_ms"}%-28s " + is.p90.map(p => f"${Serving.clamp(p, elapsed)}%14.4f ms (n=${is.n})")
      .getOrElse(f"${"flagged"}%14s ms (${is.p90Flag})"))
    result
  }

  /** Every acknowledged `_id` readable from a fresh session that
    * re-registered the warehouse (one check per batch), and the rollup
    * table equal to a direct aggregate (one check). */
  def check(spark: SparkSession, acked: Set[String], batches: Int, r: Main.Result): Unit = {
    val fresh = spark.newSession()
    Tables.registerWarehouse(fresh)
    val stored = fresh.sql(s"SELECT _id FROM $Table").collect().map(_.getString(0)).toSet
    val missing = acked.diff(stored)
    val badBatches = missing.map(id => id.split("-")(1)).size
    if (missing.nonEmpty)
      System.err.println(s"[servebench] ${missing.size} acknowledged events missing, e.g. ${missing.take(3)}")
    r.extraAttempted += batches
    r.extraFailed += badBatches
    val direct = fresh.sql(
      s"SELECT kind, count(*) AS n, sum(amount) AS total FROM $Table GROUP BY kind ORDER BY kind").collect().toSeq
    r.extraAttempted += 1
    try {
      val rollup = fresh.sql("SELECT kind, n, total FROM bench_rollup ORDER BY kind").collect().toSeq
      if (!Json.sameRows(Setup.jsonRows(rollup), Setup.jsonRows(direct))) {
        r.extraFailed += 1
        System.err.println(s"[servebench] rollup $rollup differs from direct aggregate $direct")
      }
    } catch {
      case e: org.apache.spark.sql.AnalysisException =>
        r.extraFailed += 1
        System.err.println(s"[servebench] rollup table unreadable: ${e.getMessage.take(200)}")
    }
  }

  /** Parquet bytes on disk under the ingested table. */
  def tableBytes(spark: SparkSession): Long = parquetFiles(spark).map(_.getLen).sum

  def tableFiles(spark: SparkSession): Int = parquetFiles(spark).length

  private def parquetFiles(spark: SparkSession): Seq[org.apache.hadoop.fs.LocatedFileStatus] = {
    val dir = new org.apache.hadoop.fs.Path(spark.conf.get("spark.sql.warehouse.dir"), Table)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(dir, true)
    val files = mutable.ArrayBuffer.empty[org.apache.hadoop.fs.LocatedFileStatus]
    while (it.hasNext) files += it.next()
    files.filter(_.getPath.getName.endsWith(".parquet")).toSeq
  }
}
