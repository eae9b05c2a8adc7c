package graft

import graft.api.HttpApi
import graft.state.StateJournal
import graft.tasks.{TaskScheduler, Tasks}

/** The `shaper serve` equivalent — one runnable that boots the whole
  * engine (ref: main.go + server wiring):
  *
  *   1. SparkSession (local[N] here; under spark-submit the cluster
  *      session config wins),
  *   2. journal replay into the MetaStore (StateApp.boot — restore
  *      from any partial state on shared storage) plus the task-runs
  *      consumer,
  *   3. init tasks re-run shallow-folder-first (GetInitTasks order),
  *      then every stored task (re)scheduled from its SCHEDULE rows,
  *   4. optional daily parquet snapshots (GRAFT_SNAPSHOT_TIME=HH:mm),
  *      with restore-on-boot when the managed catalog is empty
  *      (snapshots/restore.go; opt out via GRAFT_RESTORE_ON_BOOT=0);
  *      multi-node fires dedup through GRAFT_CLAIM_DIR,
  *   5. the full HTTP router on GRAFT_PORT (reference default 5454);
  *      first boot is claimed through `POST /api/auth/setup`.
  *
  * Environment: GRAFT_STATE_DIR (journal; default under the Spark
  * warehouse so every node of a shared-storage deployment replays the
  * same state), GRAFT_PORT, GRAFT_JWT_SECRET, GRAFT_SNAPSHOT_TIME,
  * SPARK_GRAFT_CPUS.
  */
object Serve {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.root()

    // Hadoop Path, not java.io.File: the warehouse may be s3a://…/hdfs://…
    // and File.getPath folds the authority into the path
    val stateDir = sys.env.getOrElse("GRAFT_STATE_DIR",
      new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"), "_graft_state").toString)
    val app = new StateJournal.StateApp(stateDir)
    val replayed = app.boot()
    val taskRuns = new StateJournal.TaskRunLog(stateDir)
    val runsReplayed = taskRuns.boot()
    println(s"[serve] state replayed: $replayed events, $runsReplayed task runs from $stateDir")

    // GRAFT_CLAIM_DIR (a shared directory) turns on multi-node dedup
    // for task runs AND snapshot fires: every node runs the timers, and
    // a `single` fire executes on one node per (task, runAt) claim.
    // Like the reference's taskId+runAt msg-id scheme, cross-node dedup
    // requires the schedule to evaluate to ALIGNED times (fixed
    // timestamps, bucket-aligned expressions) — `now() + INTERVAL` is a
    // per-node clock and fires per node on either engine
    val queue = sys.env.get("GRAFT_CLAIM_DIR").map(dir =>
      new graft.tasks.FsWorkQueue(dir, spark.sparkContext.hadoopConfiguration))

    // the in-memory catalog forgets managed tables at JVM exit while
    // their parquet stays in the warehouse — re-register them so
    // dashboards/tasks keep seeing pre-reboot data (the reference's
    // DuckDB file persists this naturally)
    val recovered = Tables.registerWarehouse(spark)
    if (recovered.nonEmpty)
      println(s"[serve] re-registered ${recovered.size} warehouse tables")

    // snapshots BEFORE task scheduling: the reference restores the
    // latest snapshot when the database is missing at boot
    // (snapshots/restore.go:31-49) and only then runs init tasks — here
    // "database missing" means the warehouse holds NO table data (a
    // per-JVM empty catalog proves nothing: in a shared-warehouse
    // multi-node deployment a rebooting node must not overwrite live
    // tables with a stale snapshot). Opt out with
    // GRAFT_RESTORE_ON_BOOT=0 (EnableRestore).
    val snapshots = sys.env.get("GRAFT_SNAPSHOT_TIME").map { hhmm =>
      val svc = new graft.snapshots.SnapshotService(spark,
        new org.apache.hadoop.fs.Path(stateDir, "snapshots").toString, hhmm,
        queue = queue.getOrElse(new graft.tasks.TaskWorkQueue))
      val restoreEnabled = !sys.env.get("GRAFT_RESTORE_ON_BOOT").contains("0")
      if (restoreEnabled && recovered.isEmpty) {
        // a crash mid-snapshot leaves a partial latest dir — a failed
        // restore must log and serve from empty, not crash-loop the boot
        try {
          val restored = svc.restoreLatest()
          if (restored.nonEmpty)
            println(s"[serve] restored ${restored.size} tables from the latest snapshot")
        } catch {
          case e: Exception =>
            System.err.println(s"[serve] snapshot restore failed (serving from empty): ${e.getMessage}")
        }
      }
      svc.start()
      println(s"[serve] daily snapshots at $hhmm UTC")
      svc
    }

    // init tasks first (parents before subfolders), then everything on
    // its own SCHEDULE; results feed the task-runs journal so the next
    // boot re-derives the same picture
    val scheduler = new TaskScheduler(spark, runLog = Some(taskRuns),
      queue = queue)
    val initial = Tasks.initTasks(app.store, taskRuns)
    initial.foreach(t => scheduler.schedule(t.id, t.content))
    val initIds = initial.map(_.id).toSet
    app.store.synchronized { app.store.tasks.values.toVector }
      .filterNot(t => initIds.contains(t.id))
      .foreach(t => scheduler.schedule(t.id, t.content))
    println(s"[serve] scheduled ${initial.size} init + " +
      s"${app.store.tasks.size - initial.size} stored tasks")

    // live multi-node convergence: a tail poller re-replays the journal
    // when a PEER's append changes the listing, so a dashboard deployed
    // on node A renders here without a reboot (the reference's NATS
    // fan-out; see README "Deployment envelope"). After each applied
    // batch, task schedules are reconciled against the store — a task
    // created/updated/deleted on a peer starts/stops firing here too.
    // GRAFT_JOURNAL_POLL_MS tunes the interval (default 2000, 0 = off).
    var knownTasks: Map[String, String] =
      app.store.synchronized(app.store.tasks.view.mapValues(_.content).toMap)
    val reconcileTasks: Int => Unit = _ => {
      val current = app.store.synchronized(app.store.tasks.view.mapValues(_.content).toMap)
      current.foreach { case (id, content) =>
        if (!knownTasks.get(id).contains(content)) scheduler.schedule(id, content)
      }
      knownTasks.keys.filterNot(current.contains).foreach(scheduler.cancel)
      knownTasks = current
    }
    val pollMs = sys.env.get("GRAFT_JOURNAL_POLL_MS").flatMap(_.toLongOption).getOrElse(2000L)
    val poller = Option.when(pollMs > 0)(
      new StateJournal.JournalTailPoller(app, pollMs, reconcileTasks))
    poller.foreach(_.start())
    poller.foreach(_ => println(s"[serve] journal tail poll every $pollMs ms"))

    // nodes WITHOUT shared storage: GRAFT_PEERS (comma-separated base
    // URLs) + GRAFT_SYNC_TOKEN (the comms-token analog, same value on
    // every node) replicate each node's local journal over HTTP — see
    // graft.state.PeerSync for the transport contract and its stated
    // durability trade-off vs a shared GRAFT_STATE_DIR
    val peers = sys.env.get("GRAFT_PEERS")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
    val syncToken = sys.env.getOrElse("GRAFT_SYNC_TOKEN", "")
    val peerSync = Option.when(peers.nonEmpty && syncToken.nonEmpty)(
      new graft.state.PeerSync(app, peers, syncToken, pollMs.max(500), reconcileTasks,
        // mirror fetched peer events next to the local journal so a
        // reboot replays them from disk and resumes cursors — without
        // it every boot re-pulls every peer's full history over HTTP
        mirrorDir = Some(new org.apache.hadoop.fs.Path(stateDir, "peersync").toString)))
    peerSync.foreach(_.start())
    peerSync.foreach(s => println(s"[serve] peer journal sync with ${peers.size} peer(s); " +
      s"${s.mirrorReplayed} mirrored peer events replayed"))

    // static iff the operator pinned it — clients read this flag to
    // decide whether JWTs survive restarts (system.go:12-24)
    val secretStatic = sys.env.contains("GRAFT_JWT_SECRET")
    val secret = sys.env.getOrElse("GRAFT_JWT_SECRET",
      app.store.tokens.generateRandomString(64))
    val api = new HttpApi(spark, app.store, secret,
      submit = app.submit, taskRuns = taskRuns, scheduler = scheduler,
      config = HttpApi.Config(jwtSecretStatic = secretStatic,
        syncToken = syncToken),
      journal = app.journal)
    val port = api.start(sys.env.get("GRAFT_PORT").flatMap(_.toIntOption).getOrElse(5454))
    println(s"[serve] listening on http://0.0.0.0:$port " +
      s"(setup ${if (app.store.tokens.listUsers.isEmpty) "OPEN — POST /api/auth/setup" else "complete"})")

    sys.addShutdownHook {
      api.stop()
      poller.foreach(_.close())
      peerSync.foreach(_.close())
      scheduler.close()
      snapshots.foreach(_.close())
    }
    // serve until killed
    Thread.currentThread().join()
  }
}
