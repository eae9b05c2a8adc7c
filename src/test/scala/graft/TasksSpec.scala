package graft

import graft.tasks.{TaskScheduler, Tasks}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Task tests transliterated from server/core/task_init_test.go:61-231
  * (init detection, schedule extraction, stop-on-false, gate rejection). */
class TasksSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = {
    val wh = java.nio.file.Files.createTempDirectory("graft-task-wh").toString
    SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", wh)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }

  private val runId = java.lang.Long.toString(System.nanoTime(), 36)
  private val now = () => 1754992800000L // 2025-08-12 10:00:00 UTC fixed clock

  test("init schedule extraction (task_init_test.go:61-147)") {
    val (at, tpe) = Tasks.getNextTaskRun(spark,
      "SELECT 'init'::SCHEDULE;\nSELECT 1 AS x;", now)
    assert(at.isEmpty && tpe == "init")
  }

  test("interval schedule: next run = now + 1 hour (task_init_test.go:148-189)") {
    val (at, tpe) = Tasks.getNextTaskRun(spark,
      "SELECT (INTERVAL 1 HOUR)::SCHEDULE;", now)
    assert(tpe == "single")
    assert(at.contains(now() + 3600 * 1000))
  }

  test("the reference's task-template schedules parse verbatim (ui/src/routes/new.tsx:63-76)") {
    // every-hour shorthand
    val (at1, tpe1) = Tasks.getNextTaskRun(spark,
      "SELECT (INTERVAL '1h')::SCHEDULE;", now)
    assert(tpe1 == "single" && at1.contains(now() + 3600 * 1000))
    // daily-at-1am shape: date_trunc('day', now()) + INTERVAL '25h'
    val (at2, tpe2) = Tasks.getNextTaskRun(spark,
      "SELECT (date_trunc('day', now()) + INTERVAL '25h')::SCHEDULE;", now)
    assert(tpe2 == "single" && at2.nonEmpty)
    // weekly shape with multi-unit shorthand
    val (at3, tpe3) = Tasks.getNextTaskRun(spark,
      "SELECT (date_trunc('week', now()) + INTERVAL '7days 1hour')::SCHEDULE;", now)
    assert(tpe3 == "single" && at3.nonEmpty)
  }

  test("timestamp schedule") {
    val (at, tpe) = Tasks.getNextTaskRun(spark,
      "SELECT TIMESTAMP '2026-08-04 12:00:00'::SCHEDULE;", now)
    assert(tpe == "single")
    assert(at.contains(1785844800000L))
  }

  test("SCHEDULE_ALL ⇒ all-nodes type") {
    val (_, tpe) = Tasks.getNextTaskRun(spark,
      "SELECT (INTERVAL 5 MINUTE)::SCHEDULE_ALL;", now)
    assert(tpe == "all")
  }

  test("no SCHEDULE statement ⇒ single/no-time") {
    val (at, tpe) = Tasks.getNextTaskRun(spark, "SELECT 1;", now)
    assert(at.isEmpty && tpe == "single")
  }

  test("task executor: CREATE TABLE + INSERT + results captured") {
    val r = Tasks.executeTask(spark,
      s"""CREATE TABLE IF NOT EXISTS task_${runId}_t1 (x INT) USING PARQUET;
        |INSERT INTO task_${runId}_t1 VALUES (1), (2);
        |SELECT CAST(sum(x) AS BIGINT) AS total FROM task_${runId}_t1;""".stripMargin, now)
    assert(r.success)
    val select = r.queries.last
    assert(select.resultColumns == Seq("total"))
    assert(select.resultRows == Seq(Seq(3L)))
  }

  test("CREATE OR REPLACE TABLE … AS SELECT creates a table that does not exist yet") {
    val t = s"task_${runId}_cor1"
    val r = Tasks.executeTask(spark,
      s"""CREATE OR REPLACE TABLE $t AS SELECT 1 AS a, 'x' AS b;
        |SELECT a, b FROM $t;""".stripMargin, now)
    assert(r.success, r.queries.flatMap(_.error))
    assert(r.queries.head.resultColumns.isEmpty && r.queries.head.resultRows.isEmpty)
    assert(r.queries.last.resultColumns == Seq("a", "b"))
    assert(r.queries.last.resultRows == Seq(Seq(1, "x")))
  }

  test("CREATE OR REPLACE TABLE … AS SELECT replaces rows and schema") {
    val t = s"task_${runId}_cor2"
    val r = Tasks.executeTask(spark,
      s"""CREATE TABLE $t AS SELECT 1 AS a;
        |CREATE OR REPLACE TABLE "$t" AS SELECT 'y' AS c, CAST(n AS BIGINT) AS n
        |FROM (VALUES (2), (3)) v(n);
        |SELECT c, n FROM $t ORDER BY n;""".stripMargin, now)
    assert(r.success, r.queries.flatMap(_.error))
    assert(spark.table(t).schema.fieldNames.toSeq == Seq("c", "n"))
    assert(r.queries.last.resultRows == Seq(Seq("y", 2L), Seq("y", 3L)))
  }

  test("CREATE OR REPLACE TABLE reading its own target fails clearly and keeps the data") {
    val t = s"task_${runId}_cor3"
    val r = Tasks.executeTask(spark,
      s"""CREATE TABLE $t AS SELECT 1 AS a;
        |CREATE OR REPLACE TABLE $t AS SELECT a + 1 AS a FROM $t;
        |SELECT 0 AS never;""".stripMargin, now)
    assert(!r.success)
    assert(r.queries.length == 2) // the error stops the batch
    val err = r.queries(1).error.getOrElse(fail("no error recorded"))
    assert(err.contains("being read from"), err)
    assert(spark.table(t).collect().map(_.getInt(0)).toSeq == Seq(1))
  }

  test("SET VARIABLE in a task is read back by getvariable") {
    val r = Tasks.executeTask(spark, "SET VARIABLE x = 5;\nSELECT getvariable('x') AS v;", now)
    assert(r.success, r.queries.flatMap(_.error))
    assert(r.queries.map(_.error) == Seq(None, None))
    assert(r.queries.last.resultRows == Seq(Seq(5)))
  }

  test("a task's CREATE TEMP TABLE is readable in the task and gone after it") {
    val tt = s"task_${runId}_temp"
    val r = Tasks.executeTask(spark, s"CREATE TEMP TABLE $tt AS SELECT 1 AS a;\nSELECT a FROM $tt;", now)
    assert(r.success, r.queries.flatMap(_.error))
    assert(r.queries.last.resultRows == Seq(Seq(1)))
    val next = Tasks.executeTask(spark, s"SELECT a FROM $tt;", now)
    assert(!next.success)
    assert(next.queries.head.error.exists(_.contains(tt)), next.queries.head.error)
    val e = intercept[Exception](graft.interp.Dashboard.run(spark, s"SELECT a FROM $tt;"))
    assert(e.getMessage.contains(tt), e.getMessage)
    assert(!spark.catalog.tableExists(tt))
  }

  test("SUMMARIZE in a task gives one row per column") {
    val r = Tasks.executeTask(spark, "SUMMARIZE t;", now,
      prepare = ss => ss.range(4).selectExpr("id", "id % 2 AS g").createOrReplaceTempView("t"))
    assert(r.success, r.queries.flatMap(_.error))
    assert(r.queries.head.resultColumns.take(2) == Seq("column_name", "column_type"))
    assert(r.queries.head.resultRows.map(_.head) == Seq("id", "g"))
  }

  test("a task's reads through the result cache see each INSERT of the task before") {
    val t = s"task_${runId}_appended"
    spark.sql(s"CREATE TABLE $t (x INT) USING PARQUET")
    val cache = graft.interp.ResultCache.shared
    val task = s"INSERT INTO $t VALUES (1);\nSELECT count(*) AS n FROM $t;"
    def run(): (Seq[Seq[Any]], Long) = {
      val (h, i, m) = (cache.hits.get, cache.incremental.get, cache.misses.get)
      val r = Tasks.executeTask(spark, task, now)
      assert(r.success, r.queries.flatMap(_.error))
      (r.queries.last.resultRows, cache.hits.get - h + cache.incremental.get - i + cache.misses.get - m)
    }
    assert(run() == (Seq(Seq(1L)), 1L))
    assert(run() == (Seq(Seq(2L)), 1L))
  }

  test("early termination on single false boolean (run_task.go:195-199)") {
    val r = Tasks.executeTask(spark,
      s"""CREATE TABLE IF NOT EXISTS task_${runId}_t2 (x INT) USING PARQUET;
        |SELECT count(*) > 0 AS has_rows FROM task_${runId}_t2 WHERE x > 100;
        |INSERT INTO task_${runId}_t2 VALUES (99);""".stripMargin, now)
    assert(r.success)
    assert(r.queries.last.stopExecution)
    // the INSERT after the false boolean must not have run
    assert(spark.table(s"task_${runId}_t2").count() == 0)
  }

  test("SCHEDULE row excluded from results, nextRunAt set (run_task.go:201-219)") {
    val r = Tasks.executeTask(spark,
      """SELECT (INTERVAL 1 HOUR)::SCHEDULE;
        |SELECT 42 AS v;""".stripMargin, now)
    assert(r.success)
    assert(r.nextRunAt == now() + 3600 * 1000)
    assert(r.scheduleType == "single")
    assert(r.totalQueries == 1)
    assert(r.queries.length == 1 && r.queries.head.resultRows == Seq(Seq(42)))
  }

  test("disallowed statement stops task (task_init_test.go:120-129)") {
    val r = Tasks.executeTask(spark,
      "SET threads = 4;\nSELECT 1;", now)
    assert(!r.success)
    assert(r.queries.head.error.exists(_.contains("not allowed")))
    assert(r.queries.length == 1) // SELECT 1 never ran
  }

  test("error stops batch") {
    val r = Tasks.executeTask(spark,
      "SELECT 1 AS a;\nSELECT * FROM nonexistent_table_xyz;\nSELECT 2 AS b;", now)
    assert(!r.success)
    assert(r.queries.length == 2)
    assert(r.queries(1).error.isDefined)
  }

  test("work queue: exactly one node claims a single run; all/init run everywhere (schedule_task.go:215-241)") {
    val q = new graft.tasks.TaskWorkQueue
    val nodes = (1 to 3).map(i => new graft.tasks.TaskNode(s"n$i", spark, q))
    val content = "SELECT 1 AS x;"
    assert(nodes.flatMap(_.fire("t1", content, 1000L, "single")).length == 1)
    // a later fire time is a fresh message id — claimable again
    assert(nodes.flatMap(_.fire("t1", content, 2000L, "single")).length == 1)
    // a different task at the same time is independent
    assert(nodes.flatMap(_.fire("t2", content, 2000L, "single")).length == 1)
    assert(nodes.flatMap(_.fire("t1", content, 3000L, "all")).length == 3)
    assert(nodes.flatMap(_.fire("t1", content, 4000L, "init")).length == 3)
  }

  test("FsWorkQueue: cross-JVM claim via atomic create-exclusive on shared storage") {
    val claimDir = java.nio.file.Files.createTempDirectory("fswq").toString
    val conf = spark.sparkContext.hadoopConfiguration
    // two INDEPENDENT queue instances (two nodes' views of the same dir)
    val qa = new graft.tasks.FsWorkQueue(claimDir, conf)
    val qb = new graft.tasks.FsWorkQueue(claimDir, conf)
    assert(qa.tryClaim("t1", 1000L))
    assert(!qb.tryClaim("t1", 1000L)) // other node loses the same msg id
    assert(!qa.tryClaim("t1", 1000L)) // replays lose too
    assert(qb.tryClaim("t1", 2000L))  // fresh fire time claimable
    assert(qa.tryClaim("t2", 1000L))  // other task independent

    // many nodes racing concurrently on one msg id: exactly one winner
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val wins = (1 to 8).map { _ =>
        pool.submit(new java.util.concurrent.Callable[Boolean] {
          def call(): Boolean =
            new graft.tasks.FsWorkQueue(claimDir, conf).tryClaim("race", 5000L)
        })
      }.count(_.get())
      assert(wins == 1)
    } finally pool.shutdownNow()

    // TaskNodes over the shared-fs queue: one executes, the rest skip
    val nodes = Seq(new graft.tasks.TaskNode("n1", spark, qa),
      new graft.tasks.TaskNode("n2", spark, qb))
    assert(nodes.flatMap(_.fire("t3", "SELECT 1 AS x;", 9000L, "single")).length == 1)

    // expiry bounds the claim set (duplicate-window analog)
    assert(qa.expire(olderThanMillis = 0L) > 0)
    assert(qa.tryClaim("t1", 1000L)) // expired claims are re-claimable
  }

  test("UPDATE/DELETE in tasks: rewrite-on-write with DuckDB Count results") {
    val t = s"mut_$runId"
    val res = Tasks.executeTask(spark,
      s"""CREATE TABLE $t AS SELECT id AS k, CAST(id % 3 AS INT) AS grp FROM range(10);
         |UPDATE $t SET grp = grp + 10 WHERE k >= 8;
         |DELETE FROM $t WHERE grp = 1;
         |SELECT k, grp FROM $t ORDER BY k;""".stripMargin)
    assert(res.success, res.queries.flatMap(_.error).mkString("; "))
    assert(res.queries(1).resultColumns == Seq("Count"))
    assert(res.queries(1).resultRows == Seq(Seq(2L))) // k = 8, 9
    assert(res.queries(2).resultRows == Seq(Seq(3L))) // grp = 1: k = 1, 4, 7
    assert(res.queries(3).resultRows.length == 7)
    // updated row visible with its cast-back type
    assert(res.queries(3).resultRows.last == Seq(9L, 10))
  }

  test("UPDATE and DELETE in a task read the task's SET VARIABLE values") {
    val t = s"mutvar_$runId"
    val res = Tasks.executeTask(spark,
      s"""CREATE TABLE $t AS SELECT id, CAST(0 AS INT) AS a FROM range(10);
         |SET VARIABLE x = 5;
         |SET VARIABLE lim = 8;
         |UPDATE $t SET a = getvariable('x') WHERE id < getvariable('lim');
         |DELETE FROM $t WHERE id = getvariable('x');
         |SELECT id, a FROM $t ORDER BY id;""".stripMargin)
    assert(res.success, res.queries.flatMap(_.error).mkString("; "))
    assert(res.queries(3).resultRows == Seq(Seq(8L))) // id 0..7
    assert(res.queries(4).resultRows == Seq(Seq(1L))) // id 5
    assert(res.queries(5).resultRows ==
      Seq(0L, 1L, 2L, 3L, 4L, 6L, 7L).map(i => Seq(i, 5)) ++ Seq(Seq(8L, 0), Seq(9L, 0)))
  }

  test("UPDATE without WHERE touches every row; DELETE without WHERE truncates") {
    val t = s"mutall_$runId"
    val res = Tasks.executeTask(spark,
      s"""CREATE TABLE $t AS SELECT id AS k FROM range(4);
         |UPDATE $t SET k = k * 2;
         |DELETE FROM $t;
         |SELECT count(*) AS n FROM $t;""".stripMargin)
    assert(res.success, res.queries.flatMap(_.error).mkString("; "))
    assert(res.queries(1).resultRows == Seq(Seq(4L)))
    assert(res.queries(2).resultRows == Seq(Seq(4L)))
    assert(res.queries(3).resultRows == Seq(Seq(0L)))
  }

  test("UPDATE on a temp view fails loudly, not silently") {
    val res = Tasks.executeTask(spark, s"UPDATE v_mut_$runId SET id = 1;",
      prepare = ss => ss.range(3).createOrReplaceTempView(s"v_mut_$runId"))
    assert(!res.success)
    assert(res.queries.head.error.exists(_.contains("managed table")))
  }

  test("init tasks order shallow-folder-first, then path, then name (GetInitTasks, schedule_task.go:37-63)") {
    import graft.state.StateJournal
    val store = new StateJournal.MetaStore()
    val runsDir = java.nio.file.Files.createTempDirectory("graft-init-runs").toString
    val runs = new StateJournal.TaskRunLog(runsDir)
    // folders: /a and /a/b
    store.folders("fa") = StateJournal.FolderMeta("fa", "a", None)
    store.folders("fb") = StateJournal.FolderMeta("fb", "b", Some("fa"))
    // tasks: two at root (names z, m), one in /a, one in /a/b, plus a
    // non-init task that must not appear
    def task(id: String, name: String, folder: Option[String]) =
      store.tasks(id) = StateJournal.TaskMeta(id, name, "SELECT 'init'::SCHEDULE;", folder, 0L, "t")
    task("t-root-z", "z", None)
    task("t-root-m", "m", None)
    task("t-a", "in-a", Some("fa"))
    task("t-ab", "in-ab", Some("fb"))
    task("t-single", "s", None)
    Seq("t-root-z", "t-root-m", "t-a", "t-ab").foreach(id =>
      runs.publish(id, 1000L, success = true, 1L, None, "init"))
    runs.publish("t-single", 1000L, success = true, 1L, Some(2000L), "single")
    runs.boot()
    val ordered = Tasks.initTasks(store, runs).map(_.id)
    assert(ordered == Seq("t-root-m", "t-root-z", "t-a", "t-ab"), ordered)
  }

  test("scheduler runs init task immediately (task_init_test.go:190-231)") {
    val sched = new TaskScheduler(spark)
    try {
      sched.schedule("t-init",
        s"""SELECT 'init'::SCHEDULE;
          |CREATE TABLE IF NOT EXISTS task_${runId}_init_out USING PARQUET AS SELECT 7 AS v;""".stripMargin)
      // init runs synchronously in schedule()
      assert(sched.lastResult("t-init").exists(_.success))
      assert(spark.table(s"task_${runId}_init_out").collect().head.getInt(0) == 7)
    } finally sched.close()
  }

  test("two queue-wired schedulers run a single-type task exactly once") {
    // the serve-mode multi-node contract: both nodes hold the timer,
    // the claim winner executes, the loser just re-arms
    val queue = new graft.tasks.TaskWorkQueue // shared claim set = shared storage stand-in
    val s1 = new TaskScheduler(spark, queue = Some(queue))
    val s2 = new TaskScheduler(spark, queue = Some(queue))
    try {
      // a FIXED timestamp, so both nodes derive the same (task, runAt)
      // claim key — interval schedules are per-node clocks and cannot
      // dedup, which is also true of the reference's msg-id scheme
      val at = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
        .withZone(java.time.ZoneOffset.UTC)
        .format(java.time.Instant.ofEpochMilli(System.currentTimeMillis() + 1200))
      val content =
        s"""SELECT TIMESTAMP '$at'::SCHEDULE;
          |CREATE TABLE IF NOT EXISTS task_${runId}_mn USING PARQUET AS SELECT 1 AS v;
          |INSERT INTO task_${runId}_mn SELECT 1;""".stripMargin
      s1.schedule("mn-t", content)
      s2.schedule("mn-t", content)
      Thread.sleep(4500)
      val ran = Seq(s1, s2).flatMap(_.lastResult("mn-t"))
      assert(ran.count(_.success) == 1,
        s"expected exactly one winner, got ${ran.size} results")
      // CTAS(1) + ONE insert: a single winner ran a single round, and
      // the stale fixed timestamp did not re-fire in a loop
      assert(spark.table(s"task_${runId}_mn").count() == 2)
    } finally { s1.close(); s2.close() }
  }

  test("content update mid-run: the old chain must not resurrect (per-task generation)") {
    // the cancel/generation race: schedule content A on a 1 s interval,
    // replace it with content B while A's run is STILL EXECUTING — the
    // in-flight runAndReschedule completes after the replacement and,
    // without the epoch check, would re-arm A's interval chain forever
    // alongside B's (and clobber B's handle in `handles`)
    // counters live in a JVM-global object, NOT closure captures: Spark
    // serializes UDF closures even on local[*], so a captured
    // AtomicInteger would be incremented on a deserialized COPY
    GenChainCounters.a.set(0); GenChainCounters.b.set(0)
    def aCount = GenChainCounters.a
    def bCount = GenChainCounters.b
    val contentA = s"SELECT (INTERVAL 1 SECOND)::SCHEDULE;\nSELECT gen_slow_a_$runId() AS v;"
    val contentB = s"SELECT (INTERVAL 1 SECOND)::SCHEDULE;\nSELECT gen_fast_b_$runId() AS v;"
    // task execution happens in a fresh newSession() per run — register
    // the counting UDFs through `prepare`, like any task-visible state
    val sched = new TaskScheduler(spark, prepare = ss => {
      ss.udf.register(s"gen_slow_a_$runId",
        () => { GenChainCounters.a.incrementAndGet(); Thread.sleep(1200); 1 })
      ss.udf.register(s"gen_fast_b_$runId",
        () => { GenChainCounters.b.incrementAndGet(); 1 })
    })
    try {
      sched.schedule("gen-t", contentA)
      // wait for A's run to START (fires ~1 s in, then sleeps 1.2 s)
      val startDeadline = System.currentTimeMillis() + 5000
      while (aCount.get() == 0 && System.currentTimeMillis() < startDeadline)
        Thread.sleep(20)
      assert(aCount.get() == 1,
        s"content A never started; lastResult=${sched.lastResult("gen-t")}")
      // replace mid-run
      sched.schedule("gen-t", contentB)
      // A's in-flight run finishes ~1 s from now; give B two+ fire windows
      Thread.sleep(3500)
      assert(aCount.get() == 1,
        s"old content chain resurrected: A ran ${aCount.get()} times after replacement")
      assert(bCount.get() >= 1, "new content chain never ran")
      // cancel stops B's chain too — no leaked timer keeps firing
      sched.cancel("gen-t")
      val bAfterCancel = bCount.get()
      Thread.sleep(1600)
      assert(bCount.get() == bAfterCancel,
        s"cancelled chain still firing: $bAfterCancel -> ${bCount.get()}")
    } finally sched.close()
  }

  test("cancel DURING an executing run: the post-run re-arm must not resurrect the chain") {
    // distinct from the content-update case above: here the task is
    // CANCELLED (deleted) while its run is still executing. cancel()
    // removes the generation entry; the in-flight runAndReschedule
    // completes afterwards and its re-arm must fail the epoch check —
    // without it, a deleted task's interval chain would keep firing
    // forever on this node
    GenChainCounters.c.set(0)
    val content = s"SELECT (INTERVAL 1 SECOND)::SCHEDULE;\nSELECT gen_cancel_c_$runId() AS v;"
    val sched = new TaskScheduler(spark, prepare = ss => {
      ss.udf.register(s"gen_cancel_c_$runId",
        () => { GenChainCounters.c.incrementAndGet(); Thread.sleep(1200); 1 })
    })
    try {
      sched.schedule("cancel-t", content)
      // wait for the run to START (fires ~1 s in, then sleeps 1.2 s)
      val startDeadline = System.currentTimeMillis() + 5000
      while (GenChainCounters.c.get() == 0 && System.currentTimeMillis() < startDeadline)
        Thread.sleep(20)
      assert(GenChainCounters.c.get() == 1,
        s"task never started; lastResult=${sched.lastResult("cancel-t")}")
      // kill it mid-run
      sched.cancel("cancel-t")
      // the in-flight run completes ~1 s from now and would re-arm a
      // fresh 1 s interval — give that ghost two fire windows to show up
      Thread.sleep(3500)
      assert(GenChainCounters.c.get() == 1,
        s"cancelled task resurrected: ran ${GenChainCounters.c.get()} times after cancel")
    } finally sched.close()
  }

  test("scheduler publishes runs to the journal with next_run_type=init for boot rerun") {
    import graft.state.StateJournal
    val runsDir = java.nio.file.Files.createTempDirectory("graft-sched-runs").toString
    val runs = new StateJournal.TaskRunLog(runsDir)
    val sched = new TaskScheduler(spark, runLog = Some(runs))
    try {
      sched.schedule("t-init-pub", "SELECT 'init'::SCHEDULE;\nSELECT 3 AS x;")
      val run = runs.lastRun("t-init-pub")
      assert(run.exists(r => r.success && r.nextRunType == "init"), run)
      assert(run.exists(_.nextRunAtMillis.isEmpty))
      // a fresh consumer over the same journal (a restarted node) sees
      // the run, so Tasks.initTasks re-selects this task at boot
      val store = new StateJournal.MetaStore()
      store.tasks("t-init-pub") = StateJournal.TaskMeta(
        "t-init-pub", "I", "SELECT 'init'::SCHEDULE;", None, 0L, "t")
      val replayed = new StateJournal.TaskRunLog(runsDir)
      replayed.boot()
      assert(Tasks.initTasks(store, replayed).map(_.id) == Seq("t-init-pub"))
    } finally sched.close()
  }
}

/** JVM-global counters for the generation test: UDF closures are
  * serialized per task, so instance captures don't observe executor
  * increments — a module singleton does (same JVM on local[*]). */
object GenChainCounters {
  val a = new java.util.concurrent.atomic.AtomicInteger
  val b = new java.util.concurrent.atomic.AtomicInteger
  val c = new java.util.concurrent.atomic.AtomicInteger
}
