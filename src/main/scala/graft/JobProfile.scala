package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** Dev profiling main (guide §1.1 empirical loop with spark.ui disabled):
  * run named SparkEntry queries and report, per query, the number of Spark
  * jobs and stages it schedules, total task time, shuffle bytes, and wall
  * time — the job-count view that explains sf0.1 bench seconds, where
  * per-job fixed overhead dominates tiny data.
  *
  * Usage: graft.JobProfile <query> [query...]   (reads SPARK_GRAFT_SF_DIR)
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: JobProfile <query> [query...]")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000000).selectExpr("sum(id)").collect()
    Tables.t(spark, sfDir, "lineitem").selectExpr("count(*)").collect()

    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val tasks = new AtomicInteger(0)
    val taskTimeMs = new AtomicLong(0L)
    val shuffleRead = new AtomicLong(0L)
    val shuffleWrite = new AtomicLong(0L)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        tasks.addAndGet(sc.stageInfo.numTasks)
        taskTimeMs.addAndGet(sc.stageInfo.taskMetrics.executorRunTime)
        shuffleRead.addAndGet(sc.stageInfo.taskMetrics.shuffleReadMetrics.totalBytesRead)
        shuffleWrite.addAndGet(sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
        ()
      }
    }
    spark.sparkContext.addSparkListener(listener)

    args.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None => println(s"[jobprofile] unknown query: $name")
        case Some(fn) =>
          // NonFatal only, and the timed passes get the same guard: a
          // failing query must report and move on, not abort the whole
          // multi-query profile after a masked warmup
          try { fn(spark, sfDir).count() } // warm pass
          catch { case scala.util.control.NonFatal(e) =>
            println(s"[jobprofile] $name warm pass failed: $e") }
          Seq(1, 2).foreach { it =>
            jobs.set(0); stages.set(0); tasks.set(0)
            taskTimeMs.set(0); shuffleRead.set(0); shuffleWrite.set(0)
            try {
              val p = timedPass(() => fn(spark, sfDir).count(),
                () => org.apache.spark.graftdev.ListenerDrain.drain(spark.sparkContext))
              val note = if (p.drained) "" else " (listener drain timed out: counters may be short)"
              println(f"[jobprofile] $name%-36s it$it wall=${p.wallS}%7.3f s jobs=${jobs.get}%3d " +
                f"stages=${stages.get}%3d tasks=${tasks.get}%5d taskTime=${taskTimeMs.get / 1000.0}%8.3f s " +
                f"shufR=${shuffleRead.get / 1024}%8d KB shufW=${shuffleWrite.get / 1024}%8d KB rows=${p.rows}$note")
            } catch { case scala.util.control.NonFatal(e) =>
              println(s"[jobprofile] $name it$it FAILED: $e")
            }
          }
      }
      try { spark.catalog.clearCache() } catch { case _: Throwable => () }
      System.gc()
    }
    spark.stop()
  }

  private[graft] final case class Pass(wallS: Double, rows: Long, drained: Boolean)

  /** One timed pass: runs `query` (its failure propagates), then drains
    * the listener bus so the counters are complete (a fixed sleep raced
    * on a slow bus and under-counted stages). A drain timeout only means
    * the counters may be short — the pass itself succeeded and keeps its
    * wall time and row count. */
  private[graft] def timedPass(query: () => Long, drain: () => Unit): Pass = {
    val t0 = System.nanoTime()
    val rows = query()
    val wall = (System.nanoTime() - t0) / 1e9
    val drained =
      try { drain(); true }
      catch { case _: java.util.concurrent.TimeoutException => false }
    Pass(wall, rows, drained)
  }
}
