package graft.interp

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.catalog.BucketSpec
import org.apache.spark.sql.catalyst.encoders.encoderFor
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LocalRelation, LogicalPlan, OneRowRelation, Range}
import org.apache.spark.sql.catalyst.trees.TreePattern.CURRENT_LIKE
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation, PartitioningAwareFileIndex}
import org.apache.spark.sql.graftsession.SessionHooks
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SizeEstimator

import java.util.concurrent.atomic.AtomicLong
import scala.collection.immutable.ArraySeq
import scala.collection.mutable
import scala.util.Try

/** An in-process LRU of capped statement results, reused while a
  * statement's plan and every file it reads are unchanged, and advanced
  * from the new files alone when an aggregate's table only grew.
  *
  * Shaper runs every statement on every render because a DuckDB query
  * costs microseconds; a Spark execution has a fixed cost of about
  * 100 ms (planning, a Hadoop-conf broadcast per Parquet scan, closure
  * cleaning per job, an adaptive re-plan) whatever the data size. A hit
  * runs no Spark execution and returns exactly what a fresh run would.
  *
  * An entry is keyed on the statement's *stem*:
  *  - the canonicalized *optimized* plan of the capped query, with each
  *    file relation reduced to what it reads and how (not its listing).
  *    Variables are literals by then (`Dialect.rewrite`), so tenants
  *    never share;
  *  - the output schema, because canonicalization erases alias names;
  *  - the session's SQL conf.
  *
  * The entry holds the (path, length, modification time) listing of every
  * file each relation read, subqueries included, taken from the same
  * listing the scan reads, so any writer, inside the program or not,
  * changes it. A statement then gets one of three outcomes:
  *  - *hit*: the listing is the entry's; its rows are returned;
  *  - *incremental*: the statement is an [[IncrementalAggregate]] over
  *    one relation, every file of the entry's listing is still there
  *    unchanged, and the new files total at most
  *    `IncrementalAggregate.MaxDeltaBytes`. The new files are read on the
  *    driver and merged into the entry's per-group state; no Spark job
  *    runs. An evaluation error (an ANSI overflow, say) falls back to a
  *    full run, which raises Spark's own error;
  *  - *miss*: anything else (a removed or rewritten file, a schema
  *    change, which changes the stem, a delta past the bound, a plan of
  *    any other shape). The statement runs in full and its result
  *    replaces the entry, so superseded listings do not pile up.
  * A full run of an incremental aggregate collects the aggregate's groups
  * (up to `IncrementalAggregate.MaxGroups`) and applies the operators
  * above it on the driver, the same code an incremental answer uses;
  * past the bound it runs the statement itself and its stem stays
  * non-incremental.
  *
  * Only plans whose every node is deterministic and whose every leaf is
  * on the allow-list (local data, `Range`, a file relation over a listed
  * index) are cached; anything else (`CACHE TABLE` `InMemoryRelation`s,
  * RDD or V2 sources, an unpruned partitioned catalog table) runs every
  * time. So does a statement that reads the clock (`now()`,
  * `current_date` and the rest of what `ComputeCurrentTime` folds): its
  * optimized plan holds that run's time as a literal, so its stem would
  * never be seen again and its entry would only push reusable ones out.
  * Cached rows and states are shared between renders and must not be
  * mutated. The cache is bounded by estimated bytes, evicting least
  * recently used entries first.
  *
  * A stem costs Spark's whole front end: parse, analysis (which resolves
  * and lists every table again in each new session) and optimization.
  * [[query]] puts a *text* entry in front of it, keyed on the statement's
  * SQL after `Dialect.rewrite`, the SQL conf, the row cap, and the
  * current catalog and namespace. A text entry points at a stem entry
  * and answers, with no parse, analysis or optimization, only when:
  *  - the catalog generation (`graft.Sessions.catalogGeneration`, read
  *    before the entry's analysis) is unchanged: no table, view, function
  *    or database was created, dropped, renamed or altered since;
  *  - the session is clean: no local or global temp view, no session
  *    variable, no experimental optimizer rule or strategy, no data
  *    cached by any session, and only the functions it was born with;
  *  - every table the statement reads lists as the stem entry's files
  *    (each table at most once per request, until the request runs Spark
  *    SQL again). [[FileListing]] lists a plain directory on the local
  *    file system by `InMemoryFileIndex`'s rules, one `java.nio` stat per
  *    entry; a table elsewhere, one whose directory holds a kept
  *    subdirectory, one with an option other than `path`, a SQL conf
  *    setting outside `spark.` or a Hadoop path filter is listed by an
  *    `InMemoryFileIndex` instead.
  * A text lookup in a request session whose state was never built (see
  * `graft.Sessions.request`) keeps it unbuilt: such a session is clean
  * by construction, so only the process's global temp views and cached
  * data are read, and the key's conf, catalog and namespace are those
  * every request session of the root starts with
  * (`graft.Sessions.textParts`). A text hit then costs the key, one map
  * lookup and one directory listing per table.
  * A text entry is recorded only for a cacheable statement whose every
  * file relation is an unpartitioned catalog table: a path or glob read
  * can gain files outside its stored root paths, and adding a partition
  * changes no catalog generation. Any other statement, or a text entry
  * that does not answer, takes the stem path above unchanged (hit,
  * incremental or miss). Text entries count against the byte budget and
  * are evicted with their stem.
  */
final class ResultCache(maxBytes: Long) {

  private val entries =
    new java.util.LinkedHashMap[ResultCache.Stem, ResultCache.Entry](16, 0.75f, true)
  private val texts = new java.util.HashMap[ResultCache.TextKey, ResultCache.Text]
  private var usedBytes = 0L

  /** Statements answered from the cache. */
  val hits = new AtomicLong
  /** Of the hits, those answered from the statement's text, before parse. */
  val textHits = new AtomicLong
  /** Statements answered from a cached aggregate state plus new files. */
  val incremental = new AtomicLong
  /** Cacheable statements run in full because no entry answered them. */
  val misses = new AtomicLong

  /** Estimated bytes held by keys, results and states. */
  def bytes: Long = synchronized(usedBytes)

  /** Statements with an entry. */
  def size: Int = synchronized(entries.size)

  /** `sql`'s schema and at most `maxRows` of its rows in `spark`.
    * Answered from its text with no parse, analysis or optimization when
    * the text entry's catalog generation is current, `spark` is clean
    * ([[ResultCache.Checks]]) and every table the statement reads lists
    * as the stem entry's files do; otherwise `run` makes its DataFrame
    * and the statement takes [[collect]]'s path. `checks` holds what the
    * caller's request has checked since it last ran Spark SQL; the caller
    * forgets them when `run` is called. */
  def query(spark: SparkSession, sql: String, maxRows: Int, checks: ResultCache.Checks)(
      run: String => DataFrame): (StructType, Seq[Row]) = {
    // read before analysis: a catalog change after this point makes an
    // entry recorded with it stale
    val generation = graft.Sessions.catalogGeneration
    val text = Option.when(checks.clean(spark)) {
      val parts = graft.Sessions.textParts(spark)
      ResultCache.TextKey(sql, parts.conf, maxRows, parts.catalog, parts.namespace)
    }
    text.flatMap(answer(spark, _, generation, checks))
      .getOrElse(collect(run(sql), maxRows, text.map(_ -> generation)))
  }

  private def answer(spark: SparkSession, key: ResultCache.TextKey, generation: Long,
      checks: ResultCache.Checks): Option[(StructType, Seq[Row])] =
    synchronized(Option(texts.get(key)).filter(_.generation == generation)
        .flatMap(t => Option(entries.get(t.stem)).map(t -> _)))
      .collect { case (t, e) if t.sources.map(checks.files(spark, _, key.conf)) == e.files =>
        hits.incrementAndGet()
        textHits.incrementAndGet()
        (e.schema, e.rows)
      }

  /** `df`'s schema and at most `maxRows` of its rows. */
  def collect(df: DataFrame, maxRows: Int): (StructType, Seq[Row]) = collect(df, maxRows, None)

  private def collect(df: DataFrame, maxRows: Int,
      text: Option[(ResultCache.TextKey, Long)]): (StructType, Seq[Row]) = {
    val schema = df.schema
    val capped = df.limit(maxRows)
    def run() = ArraySeq.unsafeWrapArray(capped.collect())
    ResultCache.keyOf(capped, schema) match {
      case None => (schema, run())
      case Some(ResultCache.Key(stem, files, sources)) =>
        val old = synchronized(Option(entries.get(stem)))
        val answer = old match {
          case Some(e) if e.files == files =>
            hits.incrementAndGet()
            (e.schema, e.rows)
          case _ =>
            val qe = capped.queryExecution
            val spark = qe.sparkSession
            val overCap = old.exists(_.overCap)
            val agg = if (overCap) None
              else IncrementalAggregate.of(qe.optimizedPlan, spark.sessionState.conf)
            val advanced = for {
              a <- agg
              e <- old
              state <- e.state
              delta <- ResultCache.appended(e.files, files)
              next <- Try(a.advance(spark, state, delta)).toOption
            } yield next
            if (advanced.isDefined) incremental.incrementAndGet() else misses.incrementAndGet()
            val state = advanced.orElse(agg.flatMap(_.fullState(spark)))
            val rows = (agg, state) match {
              case (Some(a), Some(st)) =>
                val fromRow = encoderFor(capped.encoder)
                  .resolveAndBind(qe.analyzed.output, spark.sessionState.analyzer).createDeserializer()
                a.rows(st).map(fromRow)
              case _ => run()
            }
            put(stem, ResultCache.Entry(files, schema, rows, state, overCap || agg.isDefined && state.isEmpty,
              SizeEstimator.estimate(Array[AnyRef](stem, files, schema, rows, state))))
            (schema, rows)
        }
        for ((key, generation) <- text; s <- sources)
          remember(key, ResultCache.Text(stem, generation, s, SizeEstimator.estimate(Array[AnyRef](key, s))))
        answer
    }
  }

  private def put(stem: ResultCache.Stem, entry: ResultCache.Entry): Unit =
    if (entry.bytes <= maxBytes) synchronized {
      val old = Option(entries.get(stem))
      entries.put(stem, entry.copy(texts = old.fold(Set.empty[ResultCache.TextKey])(_.texts)))
      old.foreach(o => usedBytes -= o.bytes)
      usedBytes += entry.bytes
      evict()
    }

  /** Point `key` at its stem's entry, while that entry is held. */
  private def remember(key: ResultCache.TextKey, text: ResultCache.Text): Unit = synchronized {
    Option(entries.get(text.stem)).foreach { e =>
      Option(texts.put(key, text)).foreach(old => usedBytes -= old.bytes)
      usedBytes += text.bytes
      entries.put(text.stem, e.copy(texts = e.texts + key))
      evict()
    }
  }

  /** Drop least recently used entries, with the text entries pointing at
    * them, until the cache fits its budget. */
  private def evict(): Unit = {
    val lru = entries.entrySet.iterator
    while (usedBytes > maxBytes) {
      val next = lru.next()
      val (stem, e) = (next.getKey, next.getValue)
      usedBytes -= e.bytes
      e.texts.foreach { k =>
        val t = texts.get(k)
        if (t != null && t.stem == stem) {
          usedBytes -= t.bytes
          texts.remove(k)
        }
      }
      lru.remove()
    }
  }
}

object ResultCache {

  /** Budget for all cached keys and results (estimated bytes). */
  private val MaxBytes: Long = 64L << 20

  /** The cache every request shares. */
  val shared = new ResultCache(MaxBytes)

  /** What a statement computes, whatever its files hold. */
  private final case class Stem(plan: LogicalPlan, schema: StructType, conf: Map[String, String])

  /** (path, length, modification time) of every file a relation reads. */
  private type Files = FileListing.Files

  /** A statement's last result: the listing it was computed from (one per
    * file relation), its rows and, for an incremental aggregate, its
    * per-group state. `overCap` marks an aggregate whose groups exceeded
    * the state's bound; it always runs in full. `texts` are the text
    * entries recorded against it. */
  private final case class Entry(files: Seq[Files], schema: StructType, rows: Seq[Row],
      state: Option[IncrementalAggregate.State], overCap: Boolean, bytes: Long,
      texts: Set[TextKey] = Set.empty)

  /** What a statement's text means in a session: the SQL after
    * `Dialect.rewrite`, the SQL conf, the row cap, and the current
    * catalog and namespace that resolve its unqualified names. */
  private final case class TextKey(sql: String, conf: Map[String, String], maxRows: Int,
      catalog: String, namespace: String)

  /** A text's stem, the catalog generation read before its analysis, and
    * the tables it reads, in the order of the stem entry's listings. */
  private final case class Text(stem: Stem, generation: Long, sources: Seq[Source], bytes: Long)

  /** A file relation's root paths, options and schema: enough to list it
    * again the way its scan did. */
  final case class Source(rootPaths: Seq[org.apache.hadoop.fs.Path], options: Map[String, String],
      schema: StructType)

  /** A statement's stem, the listing of each relation it reads, and the
    * relations themselves when each is an unpartitioned catalog table. */
  private final case class Key(stem: Stem, files: Seq[Files], sources: Option[Seq[Source]])

  /** What one request has checked since it last ran Spark SQL, which
    * may have written a table or made a function: the files of each
    * table it listed, and that its session holds only the functions it
    * was born with. The request owns the rule for forgetting them
    * (`Statements.Request`). Not thread-safe: a request runs on one
    * thread. */
  final class Checks {
    private val listed = mutable.HashMap.empty[Source, Files]
    private var bornFunctions: Option[Boolean] = None

    /** The files `source` lists, as a relation over it would read them
      * in a session whose SQL conf is `conf`: [[FileListing]]'s `java.nio`
      * listing of a plain local directory, or, where that gives no answer,
      * Spark's own `InMemoryFileIndex` with the relation's options and
      * schema. */
    private[ResultCache] def files(spark: SparkSession, source: Source, conf: Map[String, String]): Files =
      listed.getOrElseUpdate(source,
        FileListing.files(spark, source.rootPaths, source.options, source.schema, conf))

    /** Whether the process holds no global temp view or cached data and
      * `spark` no temp view, session variable or experimental optimizer
      * rule or strategy, and exactly its born functions. A session whose
      * state was never built holds none of its own by construction, so
      * only the process's are read, and its state stays unbuilt. */
    private[ResultCache] def clean(spark: SparkSession): Boolean =
      spark.sharedState.cacheManager.isEmpty &&
        spark.sharedState.globalTempViewManager.listViewNames("*").isEmpty &&
        (!SessionHooks.stateBuilt(spark) || {
          spark.sessionState.catalog.getTempViewNames().isEmpty && SessionHooks.holdsNoVariables(spark) &&
            spark.experimental.extraOptimizations.isEmpty && spark.experimental.extraStrategies.isEmpty &&
            bornFunctions.getOrElse {
              val born = graft.Sessions.holdsBornFunctions(spark)
              bornFunctions = Some(born)
              born
            }
        })

    /** Forget every check. */
    def clear(): Unit = {
      listed.clear()
      bornFunctions = None
    }
  }

  /** A file-source relation in a stem: what it reads and how, without the
    * index (which holds a session) or its listing. */
  private final case class FileScan(output: Seq[Attribute], rootPaths: Seq[String],
      format: String, dataSchema: StructType, partitionSchema: StructType,
      bucketSpec: Option[BucketSpec], options: Map[String, String]) extends LeafNode

  /** Cached only when this holds for every node, subqueries included. */
  private def allowed(node: LogicalPlan): Boolean =
    node.expressions.forall(_.deterministic) && (node match {
      case l: LocalRelation => !l.isStreaming
      case _: OneRowRelation | _: Range => true
      case r: LogicalRelation => !r.isStreaming && (r.relation match {
        case fs: HadoopFsRelation => fs.location.isInstanceOf[PartitioningAwareFileIndex]
        case _ => false
      })
      case _: LeafNode => false
      case _ => true
    })

  /** Whether a text may stand for this plan while the catalog is
    * unchanged: every relation is an unpartitioned catalog table. A path
    * or glob read can gain files outside its stored root paths, and a
    * partition added to a table changes no catalog generation. */
  private def catalogTablesOnly(plan: LogicalPlan): Boolean =
    plan.collectWithSubqueries { case r: LogicalRelation => r }.forall(r =>
      r.catalogTable.isDefined && r.relation.asInstanceOf[HadoopFsRelation].partitionSchema.isEmpty)

  /** The statement's stem and the listing of each relation it reads. */
  private def keyOf(capped: DataFrame, schema: StructType): Option[Key] = {
    val qe = capped.queryExecution
    val plan = qe.optimizedPlan
    if (plan.collectFirstWithSubqueries { case n if !allowed(n) => n }.isDefined ||
        qe.analyzed.collectFirstWithSubqueries {
          case n if n.expressions.exists(_.containsPattern(CURRENT_LIKE)) => n
        }.isDefined) None
    else {
      val files = Seq.newBuilder[Files]
      val sources = Seq.newBuilder[Source]
      val stemPlan = plan.canonicalized.transformUpWithSubqueries {
        case r @ LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
          val index = fs.location.asInstanceOf[PartitioningAwareFileIndex]
          files += FileListing.of(index)
          sources += Source(index.rootPaths, fs.options, fs.schema)
          FileScan(r.output, index.rootPaths.map(_.toString).sorted,
            fs.fileFormat.getClass.getName, fs.dataSchema, fs.partitionSchema,
            fs.bucketSpec, fs.options)
      }
      Some(Key(Stem(stemPlan, schema, qe.sparkSession.sessionState.conf.getAllConfs),
        files.result(), Option.when(catalogTablesOnly(plan))(sources.result())))
    }
  }

  /** The files a single relation's listing gained since `old`, when every
    * old file is still there unchanged and the new ones are few bytes. */
  private def appended(old: Seq[Files], now: Seq[Files]): Option[Files] = (old, now) match {
    case (Seq(before), Seq(after)) =>
      val kept = before.toSet
      val added = after.filterNot(kept)
      Option.when(after.length - added.length == before.length &&
        added.map(_._2).sum <= IncrementalAggregate.MaxDeltaBytes)(added)
    case _ => None
  }
}
