package graft.tasks

import graft.interp.Statements
import graft.render.Render
import graft.sqlfront.Gate
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.types.{LongType, StructField}

import java.util.concurrent.{Executors, ScheduledExecutorService, ScheduledFuture, TimeUnit}
import scala.collection.mutable
import scala.util.Try

/** SQL task engine: SCHEDULE extraction, the per-statement executor with
  * early stop on a single false boolean, and a single-node scheduler
  * (ref: server/core/schedule_task.go:65-142, run_task.go:36-258).
  *
  * Transaction semantics: the reference wraps a task in one DuckDB
  * transaction unless it contains ATTACH/INSTALL/LOAD/CREATE SECRET
  * (run_task.go:49-65). Spark has no multi-statement transactions, so
  * execution is sequential with stop-on-error — a documented divergence
  * (SURVEY.md §7 hard part 6); `needsNoTransaction` is kept for parity
  * of the no-TX classification itself.
  *
  * A task takes the statement path renders take (`graft.interp.Statements`):
  * a fresh request session, the side-effect step, the compile step and the
  * capped collect through the result cache. So a task honours `SET` and
  * `RESET VARIABLE` (read back with `getvariable`), `CREATE TEMP MACRO`,
  * `CREATE TEMP TABLE/VIEW … AS` (gone when the task ends), SUMMARIZE,
  * PIVOT and the `duckdb_*` catalog functions as a render does. The task's
  * own fold adds the task gate, the `needsNoTransaction` no-ops,
  * UPDATE/DELETE ([[Mutations]], with the task's macros and variables
  * bound first), `CREATE OR REPLACE TABLE … AS`,
  * SCHEDULE and stop-on-false; every other statement (DDL, INSERT, `USE`)
  * Spark runs.
  */
object Tasks {

  final case class TaskQueryResult(
      sql: String,
      resultColumns: Seq[String],
      resultRows: Seq[Seq[Any]],
      durationMs: Long,
      error: Option[String],
      stopExecution: Boolean)

  final case class TaskResult(
      startedAt: Long,
      queries: Seq[TaskQueryResult],
      totalQueries: Int,
      nextRunAt: Long,
      scheduleType: String,
      success: Boolean)

  /** (ref: needsNoTransaction, run_task.go:49-65) */
  def needsNoTransaction(sql: String): Boolean = {
    val upper = sql.trim.toUpperCase
    if (upper.startsWith("ATTACH") || upper.startsWith("DETACH")) return true
    if (upper.startsWith("CREATE")) {
      val parts = upper.split("\\s+")
      if (parts.length >= 2 && parts(0) == "CREATE" && parts(1) == "SECRET") return true
    }
    upper.startsWith("INSTALL") || upper.startsWith("LOAD")
  }

  /** (ref: getScheduleColumn, run_task.go:36-47) */
  def getScheduleColumn(schema: Seq[StructField], rows: Seq[Row]): Option[String] = {
    val tpe =
      if (Render.findColumnByTag(schema, "SCHEDULE").isDefined) Some("single")
      else if (Render.findColumnByTag(schema, "SCHEDULE_ALL").isDefined) Some("all")
      else None
    tpe.filter(_ => rows.isEmpty || (rows.length == 1 && rows.head.length == 1))
  }

  /** (ref: isScheduleQueryCandidate, schedule_task.go:65-72) */
  def isScheduleQueryCandidate(sql: String): Boolean = {
    val upper = sql.trim.toUpperCase
    upper.contains("SCHEDULE") &&
      (upper.startsWith("SELECT") || upper.startsWith("WITH") || upper.startsWith("("))
  }

  /** Run SCHEDULE-candidate statements read-only to compute the next run.
    * Returns (nextRunAtMillis or None, scheduleType: single|all|init).
    * A candidate that fails is skipped.
    * (ref: getNextTaskRun, schedule_task.go:74-142) */
  def getNextTaskRun(spark: SparkSession, content: String,
      nowMillis: () => Long = () => System.currentTimeMillis(),
      prepare: SparkSession => Unit = _ => ()): (Option[Long], String) =
    Statements.request(spark, prepare = prepare) { req =>
      Statements.split(content).getOrElse(Nil).filter(isScheduleQueryCandidate).iterator
        .flatMap(sql => Try {
          // getScheduleColumn accepts at most one row: two rows are enough
          val (schema, rows) = req.collect(req.compile(sql).limit(2))
          getScheduleColumn(schema, rows).map { scheduleType =>
            val t = Render.getScheduleTime(rows, nowMillis)
            if (t == -1) (None, "init")
            else if (t <= 0) (None, scheduleType)
            else (Some(t), scheduleType)
          }
        }.toOption.flatten)
        .nextOption().getOrElse((None, "single"))
    }

  /** Boot-time init-task selection (ref: GetInitTasks,
    * schedule_task.go:37-63): tasks whose last journaled run left
    * `nextRunType = 'init'`, ordered shallow-folder-first, then by
    * folder path, then task name — parents' setup SQL runs before
    * their subfolders' on every restart. */
  def initTasks(store: graft.state.StateJournal.MetaStore,
      runs: graft.state.StateJournal.TaskRunLog): Seq[graft.state.StateJournal.TaskMeta] = {
    val initIds = runs.synchronized {
      runs.runs.values.filter(_.nextRunType == "init").map(_.taskId).toSet
    }
    val candidates = store.synchronized {
      store.tasks.values.toSeq.filter(t => initIds.contains(t.id))
    }
    candidates
      .map { t =>
        val segs = store.folderSegments(t.folderId)
        ((segs.length, segs.mkString("/")), t)
      }
      .sortBy { case ((depth, path), t) => (depth, path, t.name) }
      .map(_._2)
  }

  private val createOrReplaceTableAs =
    "(?is)^CREATE\\s+OR\\s+REPLACE\\s+TABLE\\s+(\\S+)\\s+AS\\s+(.+)$".r

  /** `CREATE OR REPLACE TABLE t AS SELECT …`, which Spark's built-in
    * catalog rejects as a REPLACE TABLE (UNSUPPORTED_FEATURE), run as the
    * v1 overwrite-save: the table is dropped and re-created with the
    * query's schema. A query reading its own target is refused before
    * anything is dropped. Like every task statement it is not
    * transactional (see above): a query that fails at run time leaves
    * the target dropped. */
  private def replaceTableAs(df: DataFrame, name: String): Unit =
    df.write.mode(SaveMode.Overwrite).saveAsTable(name.replace('"', '`'))

  /** Execute a task: split → gate → per-statement run, result capture,
    * early stop on single false boolean, SCHEDULE row excluded from
    * results, error stops the batch.
    * (ref: executeTaskOnDB, run_task.go:67-258) */
  def executeTask(spark: SparkSession, content: String,
      nowMillis: () => Long = () => System.currentTimeMillis(),
      prepare: SparkSession => Unit = _ => ()): TaskResult =
    Statements.request(spark, prepare = prepare)(executeIn(_, content, nowMillis))

  private def executeIn(req: Statements.Request, content: String,
      nowMillis: () => Long): TaskResult = {
    val startedAt = nowMillis()
    val sqls = Statements.split(content) match {
      case Right(q) => q
      case Left(err) => return TaskResult(startedAt,
        Seq(TaskQueryResult(content, Nil, Nil, 0, Some(err), stopExecution = false)),
        0, 0, "", success = false)
    }
    var totalQueries = sqls.length
    val queries = mutable.ArrayBuffer.empty[TaskQueryResult]
    var nextRunAt = 0L
    var scheduleType = ""
    var success = true

    /** A statement's schema and rows: the task's own forms first, then
      * the side-effect step, then a query through the shared collect. */
    def run(sqlString: String): (Seq[StructField], Seq[Row]) =
      if (needsNoTransaction(sqlString)) (Nil, Nil) // ATTACH/INSTALL/LOAD/CREATE SECRET: no-op on Spark (documented)
      else if (Mutations.isMutation(sqlString))
        // UPDATE/DELETE: rewrite-on-write over the parquet warehouse;
        // result is DuckDB's affected-row Count shape (run_task.go
        // records it like any query result)
        (Seq(StructField("Count", LongType)),
          Seq(Row(Mutations.execute(req.spark, req.bind(sqlString)))))
      else if (req.sideEffect(sqlString)) (Nil, Nil)
      else sqlString match {
        case createOrReplaceTableAs(name, body) => replaceTableAs(req.compile(body), name); (Nil, Nil)
        case _ => req.query(sqlString)
      }

    var stopped = false
    for (sqlString <- sqls if sqlString.nonEmpty && !stopped) {
      if (!Gate.isAllowedTaskStatement(sqlString)) {
        queries += TaskQueryResult(sqlString, Nil, Nil, 0,
          Some("Statement not allowed in tasks (e.g., PRAGMA, SET configuration)"),
          stopExecution = false)
        success = false
      } else {
        val start = System.nanoTime()
        def duration = (System.nanoTime() - start) / 1000000
        try {
          val (schema, rows) = run(sqlString)
          val serRows = rows.map(r =>
            schema.indices.map(i => Render.plainify(Render.unwrap(r.get(i)))))
          val stopExecution = serRows.length == 1 && serRows.head.length == 1 &&
            (serRows.head.head match {
              case b: Boolean => !b
              case b: java.lang.Boolean => !b.booleanValue()
              case _ => false
            })
          val qr = TaskQueryResult(sqlString, schema.map(_.name), serRows,
            duration, None, stopExecution)
          getScheduleColumn(schema, rows) match {
            case Some(st) =>
              if (nextRunAt != 0) {
                queries += qr.copy(error = Some("Multiple SCHEDULE queries in task"))
                success = false
              } else {
                val t = Render.getScheduleTime(rows, nowMillis)
                // 'init' is recorded as its own next_run_type so the
                // next boot's GetInitTasks selection re-runs it
                // (schedule_task.go:37-63); execution-wise it behaves
                // like 'all' (every node, TaskNode.fire)
                scheduleType = if (t == -1) "init" else st
                nextRunAt = t
                totalQueries = sqls.length - 1 // SCHEDULE row excluded
              }
            case None =>
              queries += qr
          }
          stopped = stopExecution
        } catch {
          case e: Exception =>
            queries += TaskQueryResult(sqlString, Nil, Nil, duration,
              Some(Option(e.getMessage).getOrElse(e.toString)), stopExecution = false)
            success = false
        }
      }
      if (!success) stopped = true
    }
    TaskResult(startedAt, queries.toSeq, totalQueries, nextRunAt, scheduleType, success)
  }
}

/** Single-node scheduler: runs tasks at their SCHEDULE-computed times
  * and reschedules from each run's result (ref: JVM timers in
  * schedule_task.go:144-209; the NATS work-queue single-node dedup of
  * the reference is a cluster concern — on Spark the natural analog is
  * one driver owning the timers).
  */
final class TaskScheduler(spark: SparkSession,
    prepare: SparkSession => Unit = _ => (),
    /** When wired, every run publishes to the task-runs journal — the
      * apps listing's taskInfo and the next boot's init ordering both
      * read from it (publishTaskRunResult, schedule_task.go:176-295). */
    runLog: Option[graft.state.StateJournal.TaskRunLog] = None,
    /** Multi-node mode: every node runs the same timers, and `single`
      * runs execute only on the (task, runAt) claim winner — the
      * reference's JVM-timers + NATS-work-queue combination
      * (schedule_task.go:144-241). None = single node, no claims. */
    queue: Option[WorkQueue] = None) extends AutoCloseable {
  private val exec: ScheduledExecutorService = Executors.newScheduledThreadPool(1)
  private val handles = mutable.Map.empty[String, ScheduledFuture[_]]
  /** Per-task epoch, set by schedule() and captured in every timer
    * closure: an in-flight runAndReschedule for a task that was deleted
    * or content-updated mid-run must NOT re-arm its old SQL chain (and
    * must not overwrite the new chain's handle) when it completes —
    * without the epoch, cancel() only stops the PENDING timer and the
    * old chain resurrects on run completion. Values come from ONE
    * monotonic counter shared by all tasks, so cancel() can REMOVE the
    * entry (bounding the map to live tasks) without a later schedule()
    * ever minting a value an orphaned in-flight chain still holds.
    * Guarded by the handles monitor so handle and epoch mutate
    * together. */
  private val generations = mutable.Map.empty[String, Long]
  private val epoch = new java.util.concurrent.atomic.AtomicLong(0L)
  private val results = mutable.Map.empty[String, Tasks.TaskResult]

  def lastResult(taskId: String): Option[Tasks.TaskResult] = results.synchronized {
    results.get(taskId)
  }

  /** Schedule (or run-now for init) a task by content. Re-scheduling an
    * already-scheduled id replaces its pending timer — without the
    * cancel, a content update would leave the OLD timer firing the old
    * SQL alongside the new one. */
  /** Per-node (task, runAt) dedup, always on: a re-evaluated SCHEDULE
    * that lands on a time already run (e.g. a fixed timestamp in the
    * past) must not re-execute in a tight loop. The reference gets the
    * same property from its NATS msg-id dedup, which applies on the
    * single-node deployment too. */
  private val localClaims = new TaskWorkQueue
  /** Monotonic init-run keys: two rapid schedule() calls (create
    * immediately followed by a content update) must both run, so the
    * claim key cannot be the wall-clock millisecond. Negative values
    * never collide with real fire times. */
  private val initSeq = new java.util.concurrent.atomic.AtomicLong(0L)
  /** JetStream-duplicate-window analog for claim stores. */
  private val ClaimWindowMillis = 6L * 3600 * 1000

  def schedule(taskId: String, content: String): Unit = {
    val gen = handles.synchronized {
      handles.remove(taskId).foreach(_.cancel(false))
      val g = epoch.incrementAndGet()
      generations(taskId) = g
      g
    }
    val (nextRunOpt, scheduleType) = Tasks.getNextTaskRun(spark, content, prepare = prepare)
    scheduleType match {
      case "init" => runAndReschedule(taskId, content, initSeq.decrementAndGet(), "init", gen)
      case st => nextRunOpt.foreach(at => scheduleAt(taskId, content, at, st, gen))
    }
  }

  private def scheduleAt(taskId: String, content: String, runAtMillis: Long,
      scheduleType: String, gen: Long): Unit = {
    val delay = math.max(0L, runAtMillis - System.currentTimeMillis())
    handles.synchronized {
      // a stale chain (schedule()/cancel() happened since this closure's
      // epoch) must neither re-arm nor clobber the current chain's handle
      if (generations.getOrElse(taskId, 0L) == gen) {
        val h = exec.schedule(new Runnable {
          def run(): Unit = runAndReschedule(taskId, content, runAtMillis, scheduleType, gen)
        }, delay, TimeUnit.MILLISECONDS)
        handles(taskId) = h
      }
    }
  }

  private def runAndReschedule(taskId: String, content: String,
      runAtMillis: Long, scheduleType: String, gen: Long): Unit = {
    // fire-time epoch check: the timer may have been cancelled between
    // arming and firing (cancel(false) doesn't stop an already-running
    // Runnable) — a stale fire must not execute the old content
    if (handles.synchronized { generations.getOrElse(taskId, 0L) != gen }) return
    // `single` claims on the shared queue (one executor per aligned
    // fire time); all/init run on EVERY node, deduped per node per
    // runAt. Claim stores are pruned to a duplicate window so
    // long-running processes don't accumulate keys/files without bound.
    localClaims.expire(ClaimWindowMillis)
    queue.foreach(_.expire(ClaimWindowMillis))
    val owns = scheduleType match {
      case "all" | "init" => localClaims.tryClaim(taskId, runAtMillis)
      case _ => queue.getOrElse(localClaims).tryClaim(taskId, runAtMillis)
    }
    if (owns) {
      val result = Tasks.executeTask(spark, content, prepare = prepare)
      results.synchronized { results(taskId) = result }
      // "" (no SCHEDULE row reached, e.g. an early failure) normalizes to
      // "single" exactly like TaskNode.fire — the two publishers must
      // agree on the journal record shape for the same run
      val nextType = Some(result.scheduleType).filter(_.nonEmpty).getOrElse("single")
      runLog.foreach(_.publish(taskId, result.startedAt, result.success,
        System.currentTimeMillis() - result.startedAt,
        Some(result.nextRunAt).filter(_ > 0), nextType))
      if (result.success && result.nextRunAt > 0)
        scheduleAt(taskId, content, result.nextRunAt, nextType, gen)
    } else {
      // lost the claim: another node owns THIS fire, but this node's
      // timer chain must survive the winner's death. Re-arm from a
      // read-only schedule evaluation — only if the schedule has moved
      // past the lost fire time (a stale fixed timestamp re-evaluates
      // to the SAME instant and must converge, not spin).
      val (nextOpt, st) = Tasks.getNextTaskRun(spark, content, prepare = prepare)
      nextOpt.filter(_ > runAtMillis)
        .foreach(at => scheduleAt(taskId, content, at, st, gen))
    }
  }

  def cancel(taskId: String): Unit =
    handles.synchronized {
      // removing (not bumping) keeps the map bounded by LIVE tasks; an
      // in-flight run's `generations.getOrElse(taskId, 0L) == gen` check
      // fails on the absent entry (gen values start at 1), and a future
      // schedule() mints a fresh global-epoch value no old chain holds
      generations.remove(taskId)
      handles.remove(taskId).foreach(_.cancel(false))
    }

  override def close(): Unit = exec.shutdownNow()
}

/** Work-queue distribution semantics (ref: schedule_task.go:215-241 +
  * runAll/HandleTask 245-340): every node schedules every task; when a
  * timer fires, a `single`-type run is dispatched through a
  * message-id-deduplicated queue (NATS MsgID = "taskId-runAtMillis" in
  * the reference) so exactly one node executes it, while `all`/`init`
  * runs execute on every node. Modeled in-process so SCHEDULE vs
  * SCHEDULE_ALL don't collapse; on a real cluster the claim set is a
  * shared queue exactly like the reference's JetStream stream, and the
  * claim key is identical — nodes can come and go because every node
  * publishes the same deduplicated message. */
trait WorkQueue {
  /** First claim wins; later claims of the same (task, runAt) lose —
    * the reference's expected duplicate-message error path. */
  def tryClaim(taskId: String, runAtMillis: Long): Boolean

  /** Drop claims older than the horizon (JetStream's duplicate-window
    * analog); returns how many were removed. Fire times are strictly
    * increasing per task, so an old claim can never be contended again. */
  def expire(olderThanMillis: Long): Int
}

/** In-process claim set — one JVM's view of the queue. */
class TaskWorkQueue extends WorkQueue {
  private val claimed = mutable.Map.empty[String, Long] // key -> claim time
  def tryClaim(taskId: String, runAtMillis: Long): Boolean = claimed.synchronized {
    val key = s"$taskId-$runAtMillis"
    if (claimed.contains(key)) false
    else { claimed(key) = System.currentTimeMillis(); true }
  }
  def expire(olderThanMillis: Long): Int = claimed.synchronized {
    val cutoff = System.currentTimeMillis() - olderThanMillis
    val old = claimed.collect { case (k, t) if t < cutoff => k }.toSeq
    old.foreach(claimed.remove)
    old.size
  }
}

/** Cross-JVM work-queue claim over shared storage: the claim key
  * "taskId-runAtMillis" becomes an exclusively-created file, so the node
  * whose atomic create wins owns the run — the same
  * exactly-one-consumer guarantee the reference gets from its NATS
  * WorkQueuePolicy stream with MaxMsgsPerSubject=1
  * (schedule_task.go:144-241), but carried by the filesystem every Spark
  * node already shares (HDFS and local FS give atomic create-exclusive;
  * object stores need their conditional-put connector semantics).
  * [[expire]] bounds the claim set like JetStream's duplicate window.
  */
final class FsWorkQueue(claimDir: String,
    conf: org.apache.hadoop.conf.Configuration) extends WorkQueue {
  private val dirPath = new org.apache.hadoop.fs.Path(claimDir)
  private val fs = dirPath.getFileSystem(conf)
  fs.mkdirs(dirPath)

  def tryClaim(taskId: String, runAtMillis: Long): Boolean = {
    val p = new org.apache.hadoop.fs.Path(dirPath, s"$taskId-$runAtMillis.claim")
    fs match {
      // FileSystem.createNewFile is exists()-then-create — NOT atomic on
      // the local filesystem (verified: 2 winners in an 8-way race). The
      // JDK's File.createNewFile is O_CREAT|O_EXCL, which is. Both the
      // checksummed wrapper and the raw local FS (fs.file.impl is often
      // retargeted to RawLocalFileSystem to suppress .crc files) must
      // take this branch.
      // A transient I/O failure (full disk, NN failover) must NOT read
      // as "another node won" — that silently drops the run AND kills
      // the loser's reschedule chain. Claim=true on error means
      // at-least-once under storage faults, matching the reference's
      // redeliver-unacked NATS semantics.
      case lfs: org.apache.hadoop.fs.LocalFileSystem =>
        try lfs.pathToFile(p).createNewFile()
        catch { case e: java.io.IOException => claimError(p, e) }
      case raw: org.apache.hadoop.fs.RawLocalFileSystem =>
        try raw.pathToFile(p).createNewFile()
        catch { case e: java.io.IOException => claimError(p, e) }
      // HDFS: create(overwrite=false) is an atomic namespace operation
      case _ =>
        try { fs.create(p, false).close(); true }
        catch {
          case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
          case e: java.io.IOException => claimError(p, e)
        }
    }
  }

  private def claimError(p: org.apache.hadoop.fs.Path, e: java.io.IOException): Boolean = {
    System.err.println(s"[workqueue] claim I/O error on $p (running anyway): $e")
    true
  }

  /** Delete claims older than the horizon; returns how many were
    * removed. Fire times are strictly increasing per task, so a claim
    * older than the longest schedule interval can never be contended
    * again. */
  def expire(olderThanMillis: Long): Int = {
    val cutoff = System.currentTimeMillis() - olderThanMillis
    val old = fs.listStatus(dirPath)
      .filter(st => st.isFile && st.getModificationTime < cutoff)
    old.foreach(st => fs.delete(st.getPath, false))
    old.length
  }
}

/** One logical executor node sharing the work queue. */
final class TaskNode(val nodeId: String, spark: SparkSession, queue: WorkQueue,
    prepare: SparkSession => Unit = _ => (),
    /** When set, executed runs publish their result payload — the
      * reference's publishTaskRunResult → task_runs upsert
      * (schedule_task.go:284-295). */
    runLog: Option[graft.state.StateJournal.TaskRunLog] = None) {
  /** Fire a scheduled run on this node: `all`/`init` always execute
    * locally (runAll); `single` executes only on the claim winner
    * (HandleTask). Returns None when another node owns the run. */
  def fire(taskId: String, content: String, runAtMillis: Long,
      scheduleType: String): Option[Tasks.TaskResult] = {
    val result = scheduleType match {
      case "all" | "init" =>
        Some(Tasks.executeTask(spark, content, prepare = prepare))
      case _ =>
        if (queue.tryClaim(taskId, runAtMillis))
          Some(Tasks.executeTask(spark, content, prepare = prepare))
        else None
    }
    result.foreach { r =>
      runLog.foreach(_.publish(taskId, r.startedAt, r.success,
        r.queries.map(_.durationMs).sum,
        if (r.nextRunAt > 0) Some(r.nextRunAt) else None,
        if (r.scheduleType.isEmpty) "single" else r.scheduleType))
    }
    result
  }
}
