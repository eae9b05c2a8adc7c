package graft.interp

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.catalog.BucketSpec
import org.apache.spark.sql.catalyst.encoders.encoderFor
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LocalRelation, LogicalPlan, OneRowRelation, Range}
import org.apache.spark.sql.catalyst.trees.TreePattern.CURRENT_LIKE
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation, PartitioningAwareFileIndex}
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SizeEstimator

import java.util.concurrent.atomic.AtomicLong
import scala.collection.immutable.ArraySeq
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
  */
final class ResultCache(maxBytes: Long) {

  private val entries =
    new java.util.LinkedHashMap[ResultCache.Stem, ResultCache.Entry](16, 0.75f, true)
  private var usedBytes = 0L

  /** Statements answered from the cache. */
  val hits = new AtomicLong
  /** Statements answered from a cached aggregate state plus new files. */
  val incremental = new AtomicLong
  /** Cacheable statements run in full because no entry answered them. */
  val misses = new AtomicLong

  /** Estimated bytes held by keys, results and states. */
  def bytes: Long = synchronized(usedBytes)

  /** Statements with an entry. */
  def size: Int = synchronized(entries.size)

  /** `df`'s schema and at most `maxRows` of its rows. */
  def collect(df: DataFrame, maxRows: Int): (StructType, Seq[Row]) = {
    val schema = df.schema
    val capped = df.limit(maxRows)
    def run() = ArraySeq.unsafeWrapArray(capped.collect())
    ResultCache.keyOf(capped, schema) match {
      case None => (schema, run())
      case Some((stem, files)) =>
        val old = synchronized(Option(entries.get(stem)))
        old match {
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
    }
  }

  private def put(stem: ResultCache.Stem, entry: ResultCache.Entry): Unit =
    if (entry.bytes <= maxBytes) synchronized {
      Option(entries.put(stem, entry)).foreach(old => usedBytes -= old.bytes)
      usedBytes += entry.bytes
      val lru = entries.values.iterator
      while (usedBytes > maxBytes) {
        usedBytes -= lru.next().bytes
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
  private type Files = Seq[(String, Long, Long)]

  /** A statement's last result: the listing it was computed from (one per
    * file relation), its rows and, for an incremental aggregate, its
    * per-group state. `overCap` marks an aggregate whose groups exceeded
    * the state's bound; it always runs in full. */
  private final case class Entry(files: Seq[Files], schema: StructType, rows: Seq[Row],
      state: Option[IncrementalAggregate.State], overCap: Boolean, bytes: Long)

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

  /** The statement's stem and the listing of each relation it reads. */
  private def keyOf(capped: DataFrame, schema: StructType): Option[(Stem, Seq[Files])] = {
    val qe = capped.queryExecution
    val plan = qe.optimizedPlan
    if (plan.collectFirstWithSubqueries { case n if !allowed(n) => n }.isDefined ||
        qe.analyzed.collectFirstWithSubqueries {
          case n if n.expressions.exists(_.containsPattern(CURRENT_LIKE)) => n
        }.isDefined) None
    else {
      val files = Seq.newBuilder[Files]
      val stemPlan = plan.canonicalized.transformUpWithSubqueries {
        case r @ LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
          val index = fs.location.asInstanceOf[PartitioningAwareFileIndex]
          files += index.allFiles().map(f => (f.getPath.toString, f.getLen, f.getModificationTime))
            .sortBy(_._1)
          FileScan(r.output, index.rootPaths.map(_.toString).sorted,
            fs.fileFormat.getClass.getName, fs.dataSchema, fs.partitionSchema,
            fs.bucketSpec, fs.options)
      }
      Some((Stem(stemPlan, schema, qe.sparkSession.sessionState.conf.getAllConfs),
        files.result()))
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
