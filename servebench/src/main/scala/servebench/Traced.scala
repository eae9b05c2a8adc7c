package servebench

import graft.auth.Auth
import graft.ingest.SchemaInfer
import graft.interp.Dashboard
import graft.render.{Model, Render}
import graft.sqlfront.{Dialect, Gate, Macros, SqlText}
import graft.types.ShaperTypes
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructField

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Costs of layers that run inside one render where the benchmark
  * cannot observe them from outside the server. They are measured by
  * calling the same public functions on the same inputs between traced
  * requests, never inside one. */
final class ViewReplay(spark: SparkSession, view: View) {
  private def timeUs(f: => Unit): Long = { val t = System.nanoTime(); f; (System.nanoTime() - t) / 1000 }

  val statements: Seq[String] =
    SqlText.splitQueries(SqlText.stripComments(view.dash.content)).fold(
      e => throw new IllegalArgumentException(e), identity).map(_.trim).filter(_.nonEmpty)

  private def vars: Dashboard.VarStore = {
    val store = Dashboard.tokenVars(view.claims)
    view.param.foreach { case (k, v) => store.singleVars(k) = s"'${SqlText.escapeSQLString(v)}'" }
    store
  }

  private def newSession(): SparkSession = ViewReplay.session(spark)

  /** Widget statements' schemas and rows, as the interpreter types them. */
  private val widgets: Seq[(Seq[StructField], Seq[Row])] = {
    val ss = newSession()
    val store = vars
    statements.filterNot(Gate.isSideEffect(_)).map { s =>
      val df = ss.sql(Dialect.rewrite(Macros.expand(s, new Macros.MacroStore), store.render))
      (df.schema.fields.toSeq, df.limit(Dashboard.QueryMaxRows + 1).collect().toSeq)
    }.filterNot { case (schema, _) =>
      Render.findColumnByTag(schema, "LABEL").isDefined || Render.findColumnByTag(schema, "SECTION").isDefined
    }
  }

  private val result = Dashboard.run(spark, view.dash.content, Dashboard.RunConfig(
    dashboardId = view.dash.id,
    queryParams = view.param.map { case (k, v) => k -> Seq(v) }.toMap,
    variables = view.claims))

  def sessionUs(): Long = ViewReplay.sessionUs(spark)

  def authUs(token: String): Long = {
    val times = (0 until 9).map(_ => timeUs(Auth.verify(token, Setup.Secret)))
    times.sorted.apply(4)
  }

  /** Split + gate + macro expansion + dialect rewrite of every statement. */
  def rewriteUs(): Long = {
    val store = vars
    timeUs {
      SqlText.splitQueries(SqlText.stripComments(view.dash.content)).foreach(_.foreach { s =>
        val t = s.trim
        if (t.nonEmpty && Gate.isAllowedStatement(t))
          Dialect.rewrite(Macros.expand(t, new Macros.MacroStore), store.render)
      })
    }
  }

  /** `getRenderInfo` + `mapColType` + `serializeRows` over every widget. */
  def typingUs(): Long = timeUs(widgets.foreach { case (schema, rows) =>
    val info = Render.getRenderInfo(schema, rows, "", Nil, () => System.currentTimeMillis())
    val columns = schema.zipWithIndex.map { case (f, i) =>
      Model.ColumnSpec(f.name, Render.mapColType(f, rows, i), f.nullable, Render.mapTag(i, info))
    }
    Render.serializeRows(schema, columns, rows)
  })

  def jsonUs(): Long = timeUs(Model.toJson(result))
}

object ViewReplay {
  /** A per-request session as the interpreter and tasks open one. */
  def session(spark: SparkSession): SparkSession = {
    val ss = spark.newSession()
    ShaperTypes.register(ss)
    graft.exprs.Boxplot.register(ss)
    graft.exprs.Len.register(ss)
    ss
  }

  /** `newSession` plus the type and function registrations, in µs. */
  def sessionUs(spark: SparkSession): Long = {
    val t = System.nanoTime()
    session(spark)
    (System.nanoTime() - t) / 1000
  }
}

/** One traced request as the client saw it, plus the replayed costs. */
final case class Req(id: Int, kind: String, c0: Long, hdr: Long, c1: Long, mark: Option[Long],
    ok: Boolean, bytes: Int, rowsOut: Int, replay: Map[String, Double])

/** Collects traced requests (one in flight at a time), then turns them
  * and the Spark events into span trees and the per-layer table. */
final class Recorder(spark: SparkSession, val tracer: Tracer) {
  val reqs = mutable.ArrayBuffer.empty[Req]
  private val replays = mutable.Map.empty[String, ViewReplay]
  private var marksSeen = 0

  def replay(views: Seq[View]): Unit = views.foreach(v => replays(v.key) = new ViewReplay(spark, v))

  /** The `prepare` mark made during this request, if its route has one. */
  private def mark(c0: Long, c1: Long): Option[Long] = {
    val ms = tracer.prepareMarks.asScala.toSeq
    val m = ms.drop(marksSeen).find(t => t >= c0 && t <= c1)
    marksSeen = ms.length
    m
  }

  private def add(kind: String, r: Reply, ok: Boolean, rowsOut: Int, replay: Map[String, Double]): Unit = {
    val (c0, hdr, c1) = (tracer.us(r.sentNs), tracer.us(r.headersNs), tracer.us(r.doneNs))
    reqs += Req(reqs.length, kind, c0, hdr, c1, mark(c0, c1), ok, r.body.length, rowsOut, replay)
  }

  def render(v: View, token: String, r: Reply, ok: Boolean): Unit = {
    val rp = replays(v.key)
    val rows = try Json.widgetRows(r.body).map(_.length).sum catch { case _: Exception => 0 }
    add("render", r, ok, rows, Map(
      "session_us" -> rp.sessionUs().toDouble, "auth_us" -> rp.authUs(token).toDouble,
      "rewrite_us" -> rp.rewriteUs().toDouble, "typing_us" -> rp.typingUs().toDouble,
      "json_us" -> rp.jsonUs().toDouble, "statements" -> rp.statements.length.toDouble))
  }

  def ingest(r: Reply, ok: Boolean, events: Seq[String], table: String): Unit = {
    val msgs = events.map(e => SchemaInfer.Message(table, e))
    val t = System.nanoTime()
    SchemaInfer.detectSchemaFromBatch(msgs)
    add("ingest", r, ok, 0, Map("infer_us" -> (System.nanoTime() - t) / 1000.0))
  }

  def task(r: Reply, ok: Boolean): Unit = {
    val sessionUs = ViewReplay.sessionUs(spark)
    val stmtMs = try {
      val it = Json.parse(r.body).get("queries").elements()
      var total = 0.0
      while (it.hasNext) total += it.next().get("durationMs").asDouble
      total
    } catch { case _: Exception => 0.0 }
    add("task", r, ok, 0, Map("session_us" -> sessionUs.toDouble, "stmt_ms" -> stmtMs))
  }

  // ---- after the run ------------------------------------------------------

  /** Spans of every request, built from observed times only. A child is
    * clamped into its parent and placed after its previous sibling, so a
    * request's self times add up to its wall time by construction; what
    * the clamping cut off a child's observed extent is kept per request
    * in each span, the measure of how well the spans were attributed. */
  def spans(): Seq[Span] = {
    val out = mutable.ArrayBuffer.empty[Span]
    /** A span for the observed extent [rs, re], clamped into [lo, hi]. */
    def span(name: String, layer: String, rs: Long, re: Long, lo: Long, hi: Long, parent: Int, req: Int): Int = {
      val start = math.min(math.max(rs, lo), hi)
      val end = math.min(math.max(re, start), hi)
      out += Span(out.length, name, layer, start, end, parent, req, math.max(0L, re - rs) - (end - start))
      out.length - 1
    }
    val byExec = tracer.phases.asScala.toSeq
      .flatMap(p => Option(tracer.execStart.get(p.execId)).map(s => (s, p))).sortBy(_._1)
    reqs.foreach { q =>
      val root = span("api.request", "api", q.c0, q.c1, q.c0, q.c1, -1, q.id)
      val qes = byExec.filter { case (s, _) => s * 1000 >= q.c0 - 1000 && s * 1000 <= q.c1 }.map(_._2)
      /** An execution that runs inside an earlier one's window (the write
        * inside `CREATE TABLE … AS SELECT`) nests under that one's span. */
      final class Frame(val span: Int, val s: Long, val e: Long, var cursor: Long)
      def sparkChildren(parent: Int, from: Long): Unit = {
        var open = List(new Frame(parent, Long.MinValue, Long.MaxValue, from))
        qes.foreach { p =>
          val exec = (tracer.execStart.get(p.execId), Option(tracer.execEnd.get(p.execId)).getOrElse(tracer.execStart.get(p.execId)))
          open = open.dropWhile(f => !(exec._1 >= f.s && exec._1 < f.e && exec._2 <= f.e))
          val f = open.head
          Seq("spark.analysis" -> p.analysis, "spark.optimization" -> p.optimization,
            "spark.planning" -> p.planning, "spark.exec" -> exec).foreach { case (name, (s, e)) =>
            if (e > 0) {
              val i = span(name, "spark", s * 1000, e * 1000, f.cursor, out(f.span).end, f.span, q.id)
              f.cursor = out(i).end
              if (name == "spark.exec") open = new Frame(i, s, e, out(i).start) :: open
            }
          }
        }
      }
      q.kind match {
        case "render" | "task" =>
          val sess = q.replay("session_us").toLong
          val tp = q.mark.getOrElse(q.c0 + sess)
          val (name, layer) = if (q.kind == "render") ("interp.render", "interp") else ("tasks.run", "tasks")
          val inner = span(name, layer, tp - sess, q.hdr, q.c0, q.c1, root, q.id)
          val session = span("interp.session", "interp", tp - sess, tp, out(inner).start, out(inner).end, inner, q.id)
          sparkChildren(inner, out(session).end)
        case "ingest" =>
          val first = qes.flatMap(p => Seq(p.analysis._1, p.optimization._1, p.planning._1).filter(_ > 0))
            .minOption.map(_ * 1000).getOrElse(q.hdr)
          val batch = span("ingest.batch", "ingest", first, q.hdr, q.c0, q.c1, root, q.id)
          sparkChildren(batch, out(batch).start)
      }
    }
    out.toSeq
  }

  /** Per-request Spark counters from tasks and jobs in its window. */
  private def sparkCounts(q: Req): Map[String, Double] = {
    val (lo, hi) = (q.c0 / 1000, q.c1 / 1000)
    val ts = tracer.tasks.asScala.toSeq.filter(t => t.launch >= lo && t.launch <= hi)
    val jobs = tracer.jobs.asScala.toSeq.count { case (_, t) => t >= lo && t <= hi }
    Map(
      "spark.jobs" -> jobs.toDouble,
      "spark.stages" -> ts.map(_.stage).distinct.length.toDouble,
      "spark.tasks" -> ts.length.toDouble,
      "spark.task_ms" -> ts.map(t => t.finish - t.launch).sum.toDouble,
      "spark.task_cpu_ms" -> ts.map(_.cpuNs).sum / 1e6,
      "spark.task_wait_ms" -> ts.map(t => math.max(0L, t.launch -
        Option(tracer.stageSubmit.get(t.stage)).getOrElse(t.launch))).sum.toDouble,
      "spark.scan_mb" -> ts.map(_.bytesRead).sum / 1048576.0,
      "spark.shuffle_mb" -> ts.map(_.shuffleWritten).sum / 1048576.0,
      "spark.records_read" -> ts.map(_.recordsRead).sum.toDouble)
  }

  /** The per-layer table: for each metric, the median over requests of
    * its kind (render metrics over renders), plus run totals. */
  def layers(all: Seq[Span], gcMs: Double, gcCount: Double): Map[String, Double] = {
    val self = Spans.selfTimes(all)
    val byReq = all.groupBy(_.request)
    val perReq = reqs.map { q =>
      val spans = byReq.getOrElse(q.id, Nil)
      def selfOf(name: String) = spans.filter(_.name == name).map(s => self(s.id)).sum / 1000.0
      def durOf(name: String) = spans.filter(_.name == name).map(_.duration).sum / 1000.0
      val counts = sparkCounts(q)
      q -> (Map(
        "api.self_ms" -> selfOf("api.request"),
        "api.response_kb" -> q.bytes / 1024.0,
        "interp.self_ms" -> selfOf("interp.render"),
        "interp.spark_actions" -> spans.count(_.name == "spark.exec").toDouble,
        "spark.analysis_ms" -> durOf("spark.analysis"),
        "spark.optimization_ms" -> durOf("spark.optimization"),
        "spark.planning_ms" -> durOf("spark.planning"),
        "spark.exec_ms" -> durOf("spark.exec"),
        "spark.rows_read_per_row_out" -> counts("spark.records_read") / math.max(q.rowsOut, 1),
        "ingest.append_ms" -> durOf("spark.exec"),
        "ingest.spark_actions" -> spans.count(_.name == "spark.exec").toDouble) ++ counts ++ q.replay)
    }
    def med(kind: String, key: String): Double = {
      val xs = perReq.collect { case (q, m) if q.kind == kind && m.contains(key) => m(key) }
      if (xs.isEmpty) 0.0 else Stats.median(xs)
    }
    val renderKeys = Seq("api.self_ms", "api.response_kb", "interp.self_ms", "interp.spark_actions",
      "spark.analysis_ms", "spark.optimization_ms", "spark.planning_ms", "spark.exec_ms",
      "spark.jobs", "spark.stages", "spark.tasks", "spark.task_ms", "spark.task_cpu_ms",
      "spark.task_wait_ms", "spark.scan_mb", "spark.shuffle_mb", "spark.rows_read_per_row_out")
    val table = mutable.LinkedHashMap.empty[String, Double]
    table("api.requests") = reqs.length
    table("api.failed") = reqs.count(!_.ok)
    renderKeys.foreach(k => table(k) = med("render", k))
    table("auth.verify_us") = med("render", "auth_us")
    table("interp.session_ms") = med("render", "session_us") / 1000
    table("interp.statements") = med("render", "statements")
    table("sqlfront.rewrite_us") = med("render", "rewrite_us")
    table("render.typing_ms") = med("render", "typing_us") / 1000
    table("render.json_ms") = med("render", "json_us") / 1000
    table("jvm.gc_ms") = gcMs
    table("jvm.gc_count") = gcCount
    if (reqs.exists(_.kind == "ingest")) {
      table("ingest.infer_ms") = med("ingest", "infer_us") / 1000
      table("ingest.append_ms") = med("ingest", "ingest.append_ms")
      table("ingest.spark_actions") = med("ingest", "ingest.spark_actions")
      table("tasks.stmt_ms") = med("task", "stmt_ms")
    }
    table.toMap
  }

  /** Write the span tree and the per-layer table. */
  def write(path: String, spans: Seq[Span], table: Map[String, Double], header: Map[String, Any]): Unit = {
    val m = Json.mapper
    val root = m.createObjectNode()
    header.foreach {
      case (k, v: String) => root.put(k, v)
      case (k, v: Long) => root.put(k, v)
      case (k, v: Int) => root.put(k, v)
      case (k, v: Double) => root.put(k, v)
      case (k, v) => root.put(k, String.valueOf(v))
    }
    val layer = root.putObject("per_layer")
    table.toSeq.sortBy(_._1).foreach { case (k, v) => layer.put(k, v) }
    val self = Spans.selfTimes(spans)
    val arr = root.putArray("spans")
    spans.foreach { s =>
      arr.addObject().put("id", s.id).put("name", s.name).put("layer", s.layer)
        .put("start_us", s.start).put("end_us", s.end).put("parent", s.parent)
        .put("request", s.request).put("self_us", self(s.id)).put("trimmed_us", s.trimmed)
    }
    Files.createDirectories(Paths.get(path).toAbsolutePath.getParent)
    m.writerWithDefaultPrettyPrinter().writeValue(Paths.get(path).toFile, root)
  }
}
