package graft.ingest

import SchemaInfer._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import scala.collection.mutable

/** Ingest pipeline: auto CREATE/ALTER TABLE from inferred schema, then
  * batched append with `_id`/`_ts` injection (ref:
  * server/ingest/ingest.go:531-778). Tables are Spark catalog tables
  * (parquet under the warehouse dir) — schema evolution is
  * `ALTER TABLE ADD COLUMNS`, type changes are not supported, missing
  * fields insert NULL, exactly like the reference.
  *
  * Scale design: `processBatch` builds ONE DataFrame per table per
  * batch and appends it in a single write job (the analog of the
  * reference's one-Appender-per-table-per-batch,
  * ingest.go:653). Wired to Structured Streaming via
  * `foreachBatch` in [[IngestStream]] — micro-batch trigger mirrors the
  * reference's 3000 msgs / 2 s batching.
  */
object IngestPipeline {

  private def quoteIdent(name: String): String =
    "`" + name.replace("`", "``") + "`"

  /** Random collision-resistant id (stands in for the reference's cuid2,
    * ingest.go:697). */
  def generateId(): String =
    "c" + java.util.UUID.randomUUID().toString.replace("-", "").take(23)

  /** Convert a parsed JSON value to the target column type
    * (ref: appender row loop, ingest.go:680-778). */
  private def convert(v: JValue, sqlType: String): Any = v match {
    case null | JNull => null
    case _ => sqlType match {
      case TypeBoolean => v match {
        case JBool(b) => b
        case _ => null
      }
      case TypeDouble => v match {
        case JNumber(n) => n
        case _ => null
      }
      case TypeTimestamp => v match {
        case JString(s) => parseTimestamp(s)
        case JNumber(n) => parseUnixTimestamp(n) // unix s/ms heuristic
        case _ => null
      }
      case TypeDate => v match {
        case JString(s) => parseDate(s)
        case _ => null
      }
      case TypeVarchar => v match {
        case JString(s) => s
        case other => toJsonString(other)
      }
      case _ => toJsonString(v) // JSON column
    }
  }

  /** Existing column name → type, or None if the table doesn't exist. */
  private def tableColumns(spark: SparkSession, table: String): Option[Seq[StructField]] =
    if (spark.catalog.tableExists(table)) Some(spark.table(table).schema.fields.toSeq)
    else None

  /** Process one batch of messages (grouped by table): infer schema,
    * create/evolve tables, append rows. Returns rows appended per table. */
  def processBatch(spark: SparkSession, batch: Seq[Message]): Map[String, Long] = {
    val results = mutable.LinkedHashMap.empty[String, Long]
    batch.groupBy(_.table).foreach { case (table, messages) =>
      val (types, order, parsed) = detectSchemaFromBatch(messages)

      tableColumns(spark, table) match {
        case None =>
          // multi-part names: ensure the namespace exists (the reference
          // resolves catalog/schema via duckdb_databases(), ingest.go:508-529;
          // Spark's session catalog is 2-level, so db.table maps directly)
          val parts = table.split("\\.")
          if (parts.length == 2)
            spark.sql(s"CREATE DATABASE IF NOT EXISTS ${quoteIdent(parts(0))}")
          val colDefs = order.map(c => s"${quoteIdent(c)} ${sparkDDL(types(c))}").mkString(", ")
          spark.sql(s"CREATE TABLE IF NOT EXISTS ${quoteTable(table)} ($colDefs) USING PARQUET")
        case Some(existing) =>
          val existingNames = existing.map(_.name).toSet
          val newCols = order.filterNot(existingNames.contains)
          if (newCols.nonEmpty) {
            val defs = newCols.map(c => s"${quoteIdent(c)} ${sparkDDL(types(c))}").mkString(", ")
            spark.sql(s"ALTER TABLE ${quoteTable(table)} ADD COLUMNS ($defs)")
          }
      }

      // publish idempotency: the reference's JetStream stream drops
      // republished Nats-Msg-Ids inside its duplicate window
      // (events.go:47, default 2 min); the per-micro-batch analog is
      // first-wins dedup on the explicit id (payload _id or header id —
      // generated ids are fresh cuid2s and can't collide)
      val seenIds = mutable.HashSet.empty[String]
      val unique = messages.zip(parsed).filter { case (msg, obj) =>
        // only non-empty STRING _ids are publisher-set Nats-Msg-Ids
        // (events.go:72-79) — non-string _ids get fresh cuid2 headers at
        // publish time and must never collapse two events in one batch
        val explicitId = obj.map.get(IdColumn) match {
          case Some(JString(s)) if s.nonEmpty => Some(s)
          case _ => msg.headerId.filter(_.nonEmpty)
        }
        explicitId.forall(seenIds.add)
      }

      // refresh schema after DDL; build rows in table column order
      val fields = spark.table(table).schema.fields.toSeq
      val schema = StructType(fields)
      val rows = unique.map { case (msg, obj) =>
        Row.fromSeq(fields.map { f =>
          f.name match {
            case IdColumn =>
              obj.map.get(IdColumn) match {
                case Some(JString(s)) => s
                case Some(other) if other != JNull => toJsonString(other)
                case _ => msg.headerId.filter(_.nonEmpty).getOrElse(generateId())
              }
            case TsColumn =>
              obj.map.get(TsColumn) match {
                case Some(JString(s)) => parseTimestamp(s)
                case Some(JNumber(n)) => parseUnixTimestamp(n)
                case _ => msg.metaTimestamp
              }
            case name =>
              obj.map.get(name) match {
                case Some(v) => convertTo(v, f.dataType)
                case None => null // missing field ⇒ NULL (nullable columns)
              }
          }
        })
      }
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows.toList, 1), schema)
      df.write.mode("append").insertInto(table)
      results(table) = rows.length.toLong
    }
    results.toMap
  }

  private def sparkDDL(sqlType: String): String = sqlType match {
    case TypeBoolean => "BOOLEAN"
    case TypeDouble => "DOUBLE"
    case TypeTimestamp => "TIMESTAMP"
    case TypeDate => "DATE"
    case _ => "STRING"
  }

  /** 1-3 dot-separated parts → quoted Spark table identifier
    * (ref: escapeTableName/resolveTableParts, ingest.go:499-529). */
  def quoteTable(name: String): String =
    name.split("\\.").map(quoteIdent).mkString(".")

  /** Convert against the *existing* column type — evolution never
    * changes types, so a DOUBLE column receives only numbers etc. */
  private def convertTo(v: JValue, dt: DataType): Any = dt match {
    case BooleanType => convert(v, TypeBoolean)
    case DoubleType => convert(v, TypeDouble)
    case TimestampType => convert(v, TypeTimestamp)
    case DateType => convert(v, TypeDate)
    // user-created tables (CTAS, tasks, re-registered warehouse dirs)
    // carry column types ingest never infers — appends must convert
    // against the ACTUAL column type like the reference's appender,
    // which switches on the DuckDB column type (ingest.go:680-778),
    // not the inferred payload type. Falling through to VARCHAR here
    // put a String in a typed field and failed row encoding.
    // Out-of-range narrowing yields NULL, never a wrapped/clamped
    // value: {"b": 300} into a TINYINT must not silently store 44.
    case LongType => v match {
      case JNumber(n) if n >= Long.MinValue.toDouble && n <= Long.MaxValue.toDouble => n.toLong
      case _ => null
    }
    case IntegerType => v match {
      case JNumber(n) if n >= Int.MinValue && n <= Int.MaxValue => n.toInt
      case _ => null
    }
    case ShortType => v match {
      case JNumber(n) if n >= Short.MinValue && n <= Short.MaxValue => n.toShort
      case _ => null
    }
    case ByteType => v match {
      case JNumber(n) if n >= Byte.MinValue && n <= Byte.MaxValue => n.toByte
      case _ => null
    }
    case FloatType => v match { case JNumber(n) => n.toFloat; case _ => null }
    case d: DecimalType => v match {
      case JNumber(n) =>
        // precision overflow → NULL (a too-wide value must fail the
        // VALUE, not the whole batch write at encoding time)
        val bd = new java.math.BigDecimal(n).setScale(d.scale, java.math.RoundingMode.HALF_UP)
        if (bd.precision - bd.scale <= d.precision - d.scale) bd else null
      case _ => null
    }
    // complex columns: recurse on the element/field types — the same
    // String-in-typed-slot encoding failure applies to a JSON array
    // landing in an ARRAY<DOUBLE> column
    case ArrayType(et, _) => v match {
      case JArray(items) => items.map(convertTo(_, et))
      case _ => null
    }
    case st: StructType => v match {
      case o: JObject =>
        Row.fromSeq(st.fields.toSeq.map(f => convertTo(o.map.getOrElse(f.name, JNull), f.dataType)))
      case _ => null
    }
    case MapType(StringType, vt, _) => v match {
      case o: JObject => o.fields.map { case (k, mv) => k -> convertTo(mv, vt) }.toMap
      case _ => null
    }
    case _: MapType => null // non-string map keys have no JSON form
    case BinaryType => null // JSON carries no binary representation
    case _ => convert(v, TypeVarchar)
  }
}

/** Structured Streaming front-end: a stream of (table, json, headerId,
  * ts) rows appended through IngestPipeline.processBatch via
  * foreachBatch — the Spark analog of the reference's NATS consumer
  * loop (3000 msgs / 2 s batches, ingest.go:86-268). */
object IngestStream {
  import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

  /** Expects columns: table STRING, json STRING, header_id STRING,
    * meta_ts TIMESTAMP. */
  def start(spark: SparkSession, source: DataFrame,
      triggerMillis: Long = 2000): StreamingQuery =
    source.writeStream
      .trigger(Trigger.ProcessingTime(triggerMillis))
      .foreachBatch { (batchDf: DataFrame, _: Long) =>
        val messages = batchDf.collect().toSeq.map { r =>
          SchemaInfer.Message(
            table = r.getAs[String]("table"),
            json = r.getAs[String]("json"),
            headerId = Option(r.getAs[String]("header_id")),
            metaTimestamp = Option(r.getAs[java.sql.Timestamp]("meta_ts"))
              .getOrElse(new java.sql.Timestamp(System.currentTimeMillis())))
        }
        if (messages.nonEmpty) IngestPipeline.processBatch(spark, messages)
        ()
      }
      .start()
}
