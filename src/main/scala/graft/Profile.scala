package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** Dev profiling main (guide §1.1 empirical loop with spark.ui disabled):
  * for each named SparkEntry query, optionally its formatted physical
  * plan, then Bench's measuring protocol — a warm pass and two timed
  * passes — each reporting wall time, the Spark jobs and stages it
  * scheduled, tasks, total task time and shuffle bytes: the job-count view
  * that explains sf0.1 bench seconds, where per-job fixed overhead
  * dominates tiny data.
  *
  * The plan is the scale audit: filters reach the parquet scan
  * (PushedFilters), projections prune (ReadSchema), dimension joins
  * broadcast, aggregations have partial map-side phases, and hot paths
  * sit inside WholeStageCodegen spans.
  *
  * Usage: graft.Profile [--explain] <query...>   (reads SPARK_GRAFT_SF_DIR)
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val explain = args.contains("--explain")
    val names = args.filterNot(_ == "--explain")
    require(names.nonEmpty, "usage: Profile [--explain] <query...>")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.root()
    Bench.warmUp(spark, sfDir)

    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val tasks = new AtomicInteger(0)
    val taskTimeMs = new AtomicLong(0L)
    val shuffleRead = new AtomicLong(0L)
    val shuffleWrite = new AtomicLong(0L)
    spark.sparkContext.addSparkListener(new SparkListener {
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
    })

    names.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None => println(s"[profile] unknown query: $name")
        case Some(fn) =>
          if (explain) {
            println(s"\n========== $name ==========")
            fn(spark, sfDir).explain("formatted")
          }
          // each pass reports as it ends; a failing pass reports and the
          // protocol moves on to the next, so one query cannot abort the
          // whole multi-query profile
          val label = Iterator.from(0).map(i => if (i == 0) "warm" else s"it$i")
          Bench.measure { () =>
            val it = label.next()
            jobs.set(0); stages.set(0); tasks.set(0)
            taskTimeMs.set(0); shuffleRead.set(0); shuffleWrite.set(0)
            try {
              val p = timedPass(() => fn(spark, sfDir).count(),
                () => org.apache.spark.graftdev.ListenerDrain.drain(spark.sparkContext))
              val note = if (p.drained) "" else " (listener drain timed out: counters may be short)"
              println(f"[profile] $name%-36s $it%-4s wall=${p.wallS}%7.3f s jobs=${jobs.get}%3d " +
                f"stages=${stages.get}%3d tasks=${tasks.get}%5d taskTime=${taskTimeMs.get / 1000.0}%8.3f s " +
                f"shufR=${shuffleRead.get / 1024}%8d KB shufW=${shuffleWrite.get / 1024}%8d KB rows=${p.rows}$note")
              p.rows
            } catch { case scala.util.control.NonFatal(e) =>
              println(s"[profile] $name $it FAILED: $e")
              throw e
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
