package servebench

import org.apache.spark.sql.SparkSession

import scala.jdk.CollectionConverters._

/** The serving workloads. A run sets up once: the Spark session, the
  * input tables saved into the run's warehouse, a fresh `HttpApi` with
  * the dashboards deployed, and `WarmRounds` warm-up rounds; that time,
  * from the start of the session, is `setup_s`. */
object Serving {
  val DashClients = 2

  /** Warm-up rounds. A cold JVM's round medians fall by about half from
    * the first round to the second and stop falling by the third; a
    * fixed count keeps `setup_s` from jumping by a round. */
  val WarmRounds = 3

  private def now: Long = System.nanoTime()
  private def secs(from: Long): Double = (now - from) / 1e9

  /** Run `WarmRounds` warm-up rounds; returns their medians. */
  def warmUp(roundMedian: Int => Double): Seq[Double] = (0 until WarmRounds).map(roundMedian)

  def logSetup(seconds: Double, medians: Seq[Double]): Unit =
    System.err.println(f"[servebench] set-up: $seconds%.2f s, warm-up medians " +
      medians.map(m => f"$m%.0f").mkString(" ") + " ms")

  def expectedRows(spark: SparkSession, views: Seq[View]): Map[String, Seq[Seq[Seq[Any]]]] =
    views.map(v => v.key -> v.expectedSql.map(q => Setup.jsonRows(spark.sql(q).collect().toSeq))).toMap

  def dashboards(spark: SparkSession, a: Main.Args, setupStart: Long, views: Seq[View]): Main.Result = {
    val result = new Main.Result
    val dashes = views.map(_.dash).distinct
    val tokens = views.map(v => v.key -> Setup.jwt(Some(v.dash.id), v.claims)).toMap
    val targets = dashes.map(d => views.filter(_.dash == d).toIndexedSeq).toIndexedSeq
    val roundSize = 3 * DashClients
    val tracer = Option.when(a.trace)(new Tracer(spark))
    val prepare: SparkSession => Unit = tracer.map(t => t.prepare _).getOrElse(_ => ())
    Setup.saveEvents(spark)
    val served = Setup.serve(spark, dashes, prepare)
    val warmClients = (0 until DashClients).map(_ => new Client(served.port))
    val medians = warmUp { wr =>
      val streams = (0 until DashClients).map(c => Plan.requests(a.seed, wr + 1, c, targets))
      val times = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Double]
      Load.clients(DashClients, (_, _) => times.size >= roundSize) { (c, _) =>
        val v = streams(c).next()
        val r = warmClients(c).get(v.path, tokens(v.key))
        if (r.status != 200)
          throw new IllegalStateException(s"warm-up render of ${v.key} failed: ${r.status} ${r.body.take(300)}")
        times.add(r.ms)
      }
      Stats.median(times.asScala.map(_.doubleValue))
    }
    val setupS = secs(setupStart)
    logSetup(setupS, medians)
    val expected = expectedRows(spark, views)
    val recorder = tracer.map { t => val r = new Recorder(spark, t); r.replay(views); r }

    val tally = new Tally("render")
    result.tallies += tally
    val gate = new Load.Gate(a.trace)
    Jvm.resetPeak()
    val gc0 = Jvm.gc()
    val start = now
    val deadline = start + a.seconds * 1000000000L
    val clients = (0 until DashClients).map(_ => new Client(served.port))
    val streams = (0 until DashClients).map(c => Plan.requests(a.seed, 0, c, targets))
    val perDash = new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.ConcurrentLinkedQueue[java.lang.Double]]
    // each client stops at the first cycle boundary after the deadline,
    // so every run renders each dashboard equally often
    Load.clients(DashClients, (_, i) => i % targets.length == 0 && now >= deadline) { (c, _) =>
      val v = streams(c).next()
      gate {
        val failedBefore = tally.failed.get
        val r = Load.render(clients(c), v, tokens(v.key), expected, tally)
        perDash.computeIfAbsent(v.dash.id, _ => new java.util.concurrent.ConcurrentLinkedQueue).add(r.ms)
        recorder.foreach(_.render(v, tokens(v.key), r, tally.failed.get == failedBefore))
      }
    }
    val elapsed = secs(start)
    served.stop()

    result.add("setup_s", setupS, "s")
    addRender(result, tally, elapsed)
    perDash.asScala.toSeq.sortBy(_._1).foreach { case (d, xs) =>
      println(f"${s"render_p50_ms[$d]"}%-28s ${Stats.median(xs.asScala.map(_.doubleValue))}%14.4f ms (n=${xs.size})")
    }
    result.add("heap_peak_mb", Jvm.heapPeakMb(), "MB")
    recorder.foreach(finishTrace(_, a, result, gc0))
    result
  }

  /** Share of a request's wall time above which what the span clamping
    * cut off flags the request as badly attributed. Spark's timestamps
    * are whole milliseconds and an execution starts before its physical
    * planning ends, which trims a few ms from a 300 ms render. */
  val TrimFlagShare = 0.1

  /** Drain Spark's events, build the span trees and the per-layer table,
    * report how much observed span time the clamping cut off (flagging
    * requests above `TrimFlagShare` of their wall time), and get the
    * trace file ready to write. */
  def finishTrace(rec: Recorder, a: Main.Args, result: Main.Result, gc0: (Long, Long)): Unit = {
    val (gcMs, gcCount) = Jvm.gc()
    rec.tracer.drain()
    val spans = rec.spans()
    result.layers ++= rec.layers(spans, (gcMs - gc0._1).toDouble, (gcCount - gc0._2).toDouble)
    val byReq = spans.groupBy(_.request).map { case (r, ss) => r -> ss.map(_.trimmed).sum }
    val trimmed = rec.reqs.map(q => byReq.getOrElse(q.id, 0L).toDouble)
    val flagged = rec.reqs.count(q => byReq.getOrElse(q.id, 0L) > TrimFlagShare * (q.c1 - q.c0))
    spans.groupBy(_.name).toSeq.sortBy(_._1).foreach { case (n, ss) =>
      println(f"${s"trace.trimmed_us[$n]"}%-28s ${ss.map(_.trimmed).sum.toDouble}%14.4f us (sum over requests)")
    }
    val (p50, max) = if (trimmed.isEmpty) (0.0, 0.0) else (Stats.median(trimmed), trimmed.max)
    println(f"${"trace.trimmed_us_p50"}%-28s $p50%14.4f us")
    println(f"${"trace.trimmed_us_max"}%-28s $max%14.4f us")
    println(f"${"trace.trimmed_flagged"}%-28s ${flagged.toDouble}%14.4f count " +
      f"(requests with more than ${TrimFlagShare * 100}%.0f%% of their wall time trimmed, of ${rec.reqs.length})")
    // written once the run has added its last per-layer metrics
    val header = Map[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
      "requests" -> rec.reqs.length, "trimmed_us_p50" -> p50, "trimmed_us_max" -> max,
      "trimmed_flagged" -> flagged) ++ result.metrics.map(m => s"traced.${m.name}" -> m.value)
    result.writeTrace = () => {
      rec.write(a.traceOut, spans, result.layers, header)
      println(s"trace written to ${a.traceOut}")
    }
  }

  /** p50, p90 (flagged when unsupported) and throughput of renders. */
  def addRender(r: Main.Result, tally: Tally, elapsed: Double): Unit = {
    val s = tally.summary
    r.add("render_p50_ms", clamp(s.p50, elapsed), "ms")
    s.p90 match {
      case Some(p90) => println(f"${"render_p90_ms"}%-28s ${clamp(p90, elapsed)}%14.4f ms (n=${s.n})")
      case None => println(f"${"render_p90_ms"}%-28s ${"flagged"}%14s ms (${s.p90Flag})")
    }
    r.add("renders_per_s", (tally.attempted.get - tally.failed.get) / elapsed, "1/s")
    println(f"${"render_samples"}%-28s ${s.n}%14d count")
  }

  /** A failed operation (+∞) reads as the whole measured window. */
  def clamp(ms: Double, elapsedS: Double): Double =
    if (ms.isInfinite) elapsedS * 1000 else ms
}
