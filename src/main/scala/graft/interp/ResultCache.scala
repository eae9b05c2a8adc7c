package graft.interp

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.catalog.BucketSpec
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LocalRelation, LogicalPlan, OneRowRelation, Range}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation, PartitioningAwareFileIndex}
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SizeEstimator

import java.util.concurrent.atomic.AtomicLong
import scala.collection.immutable.ArraySeq

/** An in-process LRU of capped statement results, reused while a
  * statement's plan and every file it reads are unchanged.
  *
  * Shaper runs every statement on every render because a DuckDB query
  * costs microseconds; a Spark execution has a fixed cost of about
  * 100 ms (planning, a Hadoop-conf broadcast per Parquet scan, closure
  * cleaning per job, an adaptive re-plan) whatever the data size. A hit
  * runs no Spark execution and returns exactly what a fresh run would.
  *
  * The key has four parts:
  *  - the canonicalized *optimized* plan of the capped query. The
  *    optimizer folds `now()`/`current_date` into literals, so a
  *    time-dependent statement never matches an older run; variables are
  *    literals by then too (`Dialect.rewrite`), so tenants never share;
  *  - the output schema, because canonicalization erases alias names;
  *  - (path, length, modification time) of every file each file-source
  *    relation reads, subqueries included, from the same listing the scan
  *    reads — any writer, inside the program or not, changes it;
  *  - the session's SQL conf.
  *
  * Only plans whose every node is deterministic and whose every leaf is
  * on the allow-list (local data, `Range`, a file relation over a listed
  * index) are cached; anything else (`CACHE TABLE`/temp-table
  * `InMemoryRelation`s, RDD or V2 sources, an unpruned partitioned
  * catalog table) runs every time. Cached rows are shared between
  * renders and must not be mutated. The cache is bounded by estimated
  * bytes, evicting least recently used entries first.
  */
final class ResultCache(maxBytes: Long) {

  private val entries =
    new java.util.LinkedHashMap[ResultCache.Key, ResultCache.Entry](16, 0.75f, true)
  private var usedBytes = 0L

  /** Statements answered from the cache. */
  val hits = new AtomicLong
  /** Cacheable statements that ran because no entry matched. */
  val misses = new AtomicLong

  /** Estimated bytes held by keys and results. */
  def bytes: Long = synchronized(usedBytes)

  /** `df`'s schema and at most `maxRows` of its rows. */
  def collect(df: DataFrame, maxRows: Int): (StructType, Seq[Row]) = {
    val schema = df.schema
    val capped = df.limit(maxRows)
    def run() = ArraySeq.unsafeWrapArray(capped.collect())
    ResultCache.keyOf(capped, schema) match {
      case None => (schema, run())
      case Some(key) =>
        synchronized(Option(entries.get(key))) match {
          case Some(e) =>
            hits.incrementAndGet()
            (e.schema, e.rows)
          case None =>
            misses.incrementAndGet()
            val rows = run()
            put(key, ResultCache.Entry(schema, rows,
              SizeEstimator.estimate(Array[AnyRef](key, schema, rows))))
            (schema, rows)
        }
    }
  }

  private def put(key: ResultCache.Key, entry: ResultCache.Entry): Unit =
    if (entry.bytes <= maxBytes) synchronized {
      Option(entries.put(key, entry)).foreach(old => usedBytes -= old.bytes)
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

  /** The cache every render and download shares. */
  val shared = new ResultCache(MaxBytes)

  private final case class Key(plan: LogicalPlan, schema: StructType, conf: Map[String, String])

  private final case class Entry(schema: StructType, rows: Seq[Row], bytes: Long)

  /** A file-source relation in a key: what it reads and how, with the
    * listing's fingerprint instead of the index (which holds a session). */
  private final case class FileScan(output: Seq[Attribute], rootPaths: Seq[String],
      format: String, dataSchema: StructType, partitionSchema: StructType,
      bucketSpec: Option[BucketSpec], options: Map[String, String],
      files: Seq[(String, Long, Long)]) extends LeafNode

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

  private def keyOf(capped: DataFrame, schema: StructType): Option[Key] = {
    val plan = capped.queryExecution.optimizedPlan
    if (plan.collectFirstWithSubqueries { case n if !allowed(n) => n }.isDefined) None
    else {
      val keyPlan = plan.canonicalized.transformUpWithSubqueries {
        case r @ LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
          val index = fs.location.asInstanceOf[PartitioningAwareFileIndex]
          FileScan(r.output, index.rootPaths.map(_.toString).sorted,
            fs.fileFormat.getClass.getName, fs.dataSchema, fs.partitionSchema,
            fs.bucketSpec, fs.options,
            index.allFiles().map(f => (f.getPath.toString, f.getLen, f.getModificationTime))
              .sortBy(_._1))
      }
      Some(Key(keyPlan, schema, capped.queryExecution.sparkSession.sessionState.conf.getAllConfs))
    }
  }
}
