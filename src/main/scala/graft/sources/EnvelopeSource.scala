package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{NullOrdering, SortDirection, SortOrder => V2SortOrder, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.Aggregation
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, SupportsTruncate, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan, GreaterThanOrEqual, IsNotNull, IsNull, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** DataSource V2 reader for the reference's HTTP-API JSON envelope —
  * `{"data": [{col: val}, …], "count": N, "filters": {…}, "metadata": {…}}`
  * (`api/app/main.py:143-158`; timestamps ISO-serialized at `:139-141`).
  *
  * SURVEY.md §2.1 S1 maps the API to plain table reads (the API is
  * transport, the table is truth) — this source is the LITERAL-fidelity
  * option: point the engine at a directory of captured envelope payloads
  * and they scan like any table, with V2 column pruning (a projection of
  * 2 columns parses and materializes only those 2 fields).
  *
  * Scale shape: the driver lists files (one InputPartition per envelope
  * file — the API pages by day, so files ≙ daily partitions); executors
  * parse in parallel. No driver-side row materialization anywhere.
  *
  * Usage:
  * {{{
  *   spark.read.format("graft.sources.EnvelopeSource")
  *     .schema(EnvelopeSource.referenceSchema)   // or rely on the default
  *     .load("/path/to/envelopes")
  * }}}
  */
class EnvelopeSource extends TableProvider {

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    EnvelopeSource.referenceSchema

  override def supportsExternalMetadata(): Boolean = true

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new EnvelopeTable(schema, properties.get("path"))
}

object EnvelopeSource {
  /** The reference source table's shape (`database/init_fonte.sql:4-10`) —
    * including its load-bearing `ambient_temprature` misspelling
    * (`api/app/main.py:69,124`). */
  val referenceSchema: StructType = StructType(Seq(
    StructField("timestamp", TimestampType),
    StructField("wind_speed", DoubleType),
    StructField("power", DoubleType),
    StructField("ambient_temprature", DoubleType)))

  /** STREAMING ingest of an envelope lake: each newly-published envelope
    * file becomes a micro-batch of its `data[]` rows.
    *
    * Deliberately built on Spark's own file stream source rather than a
    * custom MicroBatchStream: exactly-once new-file tracking (seen-file
    * log in the checkpoint, no reliance on name ordering or mtimes) is
    * precisely what FileStreamSource already solves, and the envelope
    * writer's rename-as-publish commit means a file is complete the
    * moment it is visible. One envelope = one wrapper row (`multiLine`,
    * whole-file JSON), exploded to the `data[]` elements; timestamps
    * parse from the API's zoneless isoformat in UTC, matching the batch
    * reader.
    *
    * The UTC pin lives in the JSON source itself (TimestampType field +
    * `timeZone=UTC` option) rather than a post-hoc `to_timestamp`, which
    * follows `spark.sql.session.timeZone` — under a non-UTC user session
    * that silently shifted every instant relative to the batch DSv2
    * reader (which parses with an explicit `ZoneOffset.UTC`), so
    * watermarks and time filters disagreed between the two paths. */
  def readStream(spark: org.apache.spark.sql.SparkSession, path: String,
      maxFilesPerTrigger: Int = 1000): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{col, explode}
    val raw = StructType(Seq(StructField("data", ArrayType(StructType(Seq(
      StructField("timestamp", TimestampType),
      StructField("wind_speed", DoubleType),
      StructField("power", DoubleType),
      StructField("ambient_temprature", DoubleType)))))))
    spark.readStream
      .schema(raw)
      .option("multiLine", "true") // one envelope object spans lines
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .option("timeZone", "UTC") // zoneless isoformat = UTC, as in batch
      .json(path)
      .select(explode(col("data")).as("r"))
      .select(col("r.timestamp").as("timestamp"),
        col("r.wind_speed").as("wind_speed"),
        col("r.power").as("power"),
        col("r.ambient_temprature").as("ambient_temprature"))
  }
}

private class EnvelopeTable(tableSchema: StructType, path: String)
    extends Table with SupportsRead with SupportsWrite {
  override def name(): String = s"envelope($path)"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new EnvelopeScanBuilder(tableSchema, path)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new EnvelopeWriteBuilder(info.schema(), path)
}

/** Column pruning + filter pushdown: Spark hands us the narrowed schema
  * and the WHERE conjuncts; the reader then parses only the needed fields
  * and drops non-matching records at parse time, before any InternalRow
  * materializes — the V2 analog of the reference API pushing its
  * start/end-date range into Postgres (`api/app/database.py:54-60`). */
private class EnvelopeScanBuilder(fullSchema: StructType, path: String)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters with SupportsPushDownAggregates
    with SupportsPushDownLimit with SupportsPushDownTopN {
  private var required: StructType = fullSchema
  private var pushed: Array[Filter] = Array.empty
  private var limit: Int = -1
  private var topN: Array[EnvelopeSortKey] = Array.empty

  /** PARTIAL limit pushdown (`isPartiallyPushed` stays true, so Spark
    * keeps its global Limit): each file reader stops emitting after
    * `limit` rows that survive the pushed filters — a `LIMIT n` over a
    * million-file lake materializes at most n rows PER FILE instead of
    * the whole corpus. Spark only calls this when the limit sits directly
    * above the (projected/filtered) scan, so it never interacts with the
    * aggregate branch. */
  override def pushLimit(l: Int): Boolean = { limit = l; true }

  /** PARTIAL top-N pushdown: each file returns ITS top n under the query
    * ordering, a guaranteed superset of that file's contribution to the
    * global top n, and Spark's retained TakeOrderedAndProject finishes —
    * `ORDER BY ts DESC LIMIT 10` over a many-file lake moves 10 rows per
    * file instead of every row. Accepted only when every sort key is a
    * plain comparable envelope field (same exactness bar as the filter
    * pushdown); the per-file sort is bounded by the file (the API pages
    * by day). */
  override def pushTopN(orders: Array[V2SortOrder], l: Int): Boolean = {
    import org.apache.spark.sql.connector.expressions.NamedReference
    val keys = orders.map { so =>
      so.expression() match {
        case nr: NamedReference if nr.fieldNames.length == 1 =>
          fullSchema.fields.find(_.name == nr.fieldNames.head)
            .filter(f => EnvelopeFilters.comparable(f.dataType))
            .map(f => EnvelopeSortKey(f,
              so.direction() == SortDirection.DESCENDING,
              so.nullOrdering() == NullOrdering.NULLS_LAST))
        case _ => None
      }
    }
    if (keys.forall(_.isDefined)) { topN = keys.map(_.get); limit = l; true }
    else false
  }
  override def isPartiallyPushed: Boolean = true

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** Accept simple conjuncts we can evaluate exactly (comparisons and
    * null checks on envelope fields); everything else (Or, In, string
    * matches, …) stays residual and Spark re-applies it post-scan. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (ok, residual) = filters.partition(EnvelopeFilters.supported(fullSchema, _))
    pushed = ok
    residual
  }
  override def pushedFilters(): Array[Filter] = pushed

  /** PARTIAL aggregate pushdown for COUNT(*)/COUNT(col)/MIN/MAX/SUM,
    * grouped or ungrouped: the reader answers with one partial row per
    * (envelope file × group) — filter-aware counts, per-file extrema,
    * per-file numeric sums keyed by the group columns — and Spark's
    * final aggregate merges the per-file rows; no per-record InternalRow
    * ever materializes. `supportCompletePushDown` stays false: partial
    * rows keep the contract correct under any parallelism.
    *
    * AVG needs no case here: since SPARK-37839, Catalyst rewrites
    * `avg(x)` to `sum(x)/count(x)` when the source only supports partial
    * pushdown, so supporting non-distinct COUNT(col) + SUM makes AVG
    * partial-pushable for free (reference anchor: the API's count/min/
    * max/avg endpoints, `api/app/database.py:66-74`).
    *
    * DISTINCT aggregates (distinctness is global, not per-file) and
    * group-by/agg expressions that aren't plain envelope fields are
    * declined and run as ordinary scans. Per-file group cardinality is
    * bounded by the file (the API pages by day), so the reader's
    * in-memory group map stays day-sized — the same boundedness the
    * partial-row contract already relies on. */
  override def pushAggregation(aggregation: Aggregation): Boolean = {
    import org.apache.spark.sql.connector.expressions.NamedReference
    import org.apache.spark.sql.connector.expressions.aggregate.{Count, CountStar, Max, Min, Sum}
    def fieldOf(e: org.apache.spark.sql.connector.expressions.Expression): Option[StructField] =
      e match {
        case nr: NamedReference if nr.fieldNames.length == 1 =>
          fullSchema.fields.find(_.name == nr.fieldNames.head)
        case _ => None
      }
    val specs = aggregation.aggregateExpressions().map {
      case _: CountStar => Some(EnvelopeAgg.CountStar)
      case c: Count if !c.isDistinct => fieldOf(c.column).map(EnvelopeAgg.CountOf)
      case m: Min       => fieldOf(m.column).map(EnvelopeAgg.MinOf)
      case m: Max       => fieldOf(m.column).map(EnvelopeAgg.MaxOf)
      // SUM DISTINCT cannot partial per file (distinctness is global)
      case s: Sum if !s.isDistinct =>
        fieldOf(s.column).filter(f => EnvelopeAgg.sumable(f.dataType))
          .map(EnvelopeAgg.SumOf)
      case _            => None
    }
    val groups = aggregation.groupByExpressions().map(fieldOf)
    val ok = groups.forall(_.isDefined) &&
      specs.nonEmpty && specs.forall(_.isDefined)
    if (ok) {
      pushedGroupBy = groups.map(_.get)
      pushedAggs = specs.map(_.get)
    }
    ok
  }

  private var pushedAggs: Array[EnvelopeAgg] = Array.empty
  private var pushedGroupBy: Array[StructField] = Array.empty

  override def build(): Scan =
    if (pushedAggs.nonEmpty)
      new EnvelopeAggScan(pushedGroupBy, pushedAggs, pushed, path, fullSchema)
    else new EnvelopeScan(required, fullSchema, pushed, limit, topN, path)
}

/** One accepted pushed sort key: field + direction + null placement. */
private case class EnvelopeSortKey(f: StructField, desc: Boolean, nullsLast: Boolean)
    extends Serializable

/** A pushed ungrouped aggregate the reader can answer per file. */
private sealed trait EnvelopeAgg extends Serializable {
  def outputField: StructField
}
private object EnvelopeAgg {
  case object CountStar extends EnvelopeAgg {
    val outputField: StructField = StructField("COUNT(*)", LongType, nullable = false)
  }
  /** Non-null count of one field — also the count half of Catalyst's
    * partial-AVG sum/count rewrite. */
  final case class CountOf(f: StructField) extends EnvelopeAgg {
    def outputField: StructField = StructField(s"COUNT(${f.name})", LongType, nullable = false)
  }
  final case class MinOf(f: StructField) extends EnvelopeAgg {
    def outputField: StructField = StructField(s"MIN(${f.name})", f.dataType)
  }
  final case class MaxOf(f: StructField) extends EnvelopeAgg {
    def outputField: StructField = StructField(s"MAX(${f.name})", f.dataType)
  }
  /** Per-file partial SUM over a numeric field. The partial is typed as
    * the FINAL sum type (integral → Long, double → Double) so Spark's
    * rewritten final `SUM(partial)` resolves to the same result type the
    * un-pushed aggregate had. Double partials accumulate in file-row
    * order — the same order the ordinary scan feeds Spark's own partial
    * aggregate, so pushing down does not change float results. Integral
    * partials use addExact: a per-file overflow fails loudly (ANSI
    * behavior) instead of wrapping into a silently-wrong partial. */
  final case class SumOf(f: StructField) extends EnvelopeAgg {
    def outputField: StructField = StructField(s"SUM(${f.name})", sumType)
    def sumType: DataType = f.dataType match {
      case DoubleType => DoubleType
      case _          => LongType // IntegerType | LongType
    }
  }
  def sumable(dt: DataType): Boolean =
    dt == DoubleType || dt == LongType || dt == IntegerType
}

/** Aggregate-pushdown scan: one partial row per (file × group); group
  * columns (if any) lead the output schema, matching the shape Catalyst's
  * pushdown rewrite expects for its final merge aggregate. */
private class EnvelopeAggScan(groupBy: Array[StructField], aggs: Array[EnvelopeAgg],
    pushed: Array[Filter], path: String, fullSchema: StructType) extends Scan with Batch {
  override def readSchema(): StructType =
    StructType((groupBy ++ aggs.map(_.outputField)).toIndexedSeq)
  override def toBatch: Batch = this
  override def description(): String =
    s"EnvelopeAggScan PushedAggregates: [${aggs.map(_.outputField.name).mkString(", ")}], " +
      s"PushedGroupBy: [${groupBy.map(_.name).mkString(", ")}], " +
      s"PushedFilters: [${pushed.mkString(", ")}]"
  override def planInputPartitions(): Array[InputPartition] = {
    val files = EnvelopeScan.listFiles(path)
    // an empty directory must still yield one UNGROUPED partial row:
    // Spark's pushdown rewrite turns the final COUNT into a SUM of the
    // partials, and sum over NO rows is NULL where count(*) must be 0
    // (min/max partials are NULL in that row — the correct empty-input
    // extrema). A GROUPED aggregate over empty input is correctly EMPTY,
    // so no sentinel is planned when group columns exist.
    if (files.isEmpty && groupBy.isEmpty) Array(EnvelopeInputPartition(""))
    else files.map(f => EnvelopeInputPartition(f._1): InputPartition)
  }
  override def createReaderFactory(): PartitionReaderFactory = {
    val spark = org.apache.spark.sql.SparkSession.active
    val bc = spark.sparkContext.broadcast(
      new SerializableConfiguration(spark.sessionState.newHadoopConf()))
    EnvelopeAggReaderFactory(groupBy, aggs, pushed, fullSchema, bc)
  }
}

private case class EnvelopeAggReaderFactory(groupBy: Array[StructField],
    aggs: Array[EnvelopeAgg], pushed: Array[Filter], fullSchema: StructType,
    conf: Broadcast[SerializableConfiguration]) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private val file = partition.asInstanceOf[EnvelopeInputPartition].file

      private def toInternal(v: Any, dt: DataType): Any =
        if (v == null) null
        else dt match {
          case IntegerType => v.asInstanceOf[Long].toInt
          case StringType  => UTF8String.fromString(v.asInstanceOf[String])
          case _           => v // Long micros / Long / Double pass through
        }

      /** Per-group accumulator state: counts + per-agg min/max/sum slots. */
      private final class GroupAcc {
        var n = 0L
        val counts = new Array[Long](aggs.length)
        val mins = new Array[Any](aggs.length)
        val maxs = new Array[Any](aggs.length)
        val sums = new Array[Any](aggs.length) // null until a non-null value seen
      }

      /** Ungrouped zero-input partial: counts 0, min/max/sum NULL. Emitted
        * for the empty-directory sentinel AND for a file whose rows are all
        * excluded by the pushed filters — in both cases Spark's rewritten
        * final SUM(partial-count) needs at least one zero partial or an
        * ungrouped COUNT comes back NULL instead of 0. */
      private def zeroPartial: InternalRow =
        InternalRow.fromSeq(aggs.map {
          case EnvelopeAgg.CountStar    => 0L
          case EnvelopeAgg.CountOf(_)   => 0L
          case _                        => null
        }.toIndexedSeq)

      private val rows: Iterator[InternalRow] = {
        if (file.isEmpty) // empty-directory sentinel partial (ungrouped only)
          Iterator.single(zeroPartial)
        else {
          val p = new Path(file)
          val in = FileSystem.get(p.toUri, conf.value.value).open(p)
          val groups = try {
            val data = new ObjectMapper().readTree(in).get("data")
            require(data != null && data.isArray, s"$file: envelope has no data[] array")
            // LinkedHashMap: groups emit in first-seen file order, so the
            // partial stream is deterministic for a given file set
            val acc = scala.collection.mutable.LinkedHashMap.empty[Seq[Any], GroupAcc]
            data.elements().asScala
              .filter(r => pushed.forall(EnvelopeFilters.satisfies(r, fullSchema, _)))
              .foreach { r =>
                val key: Seq[Any] =
                  groupBy.map(f => EnvelopeFilters.nodeValue(r, f)).toIndexedSeq
                val g = acc.getOrElseUpdate(key, new GroupAcc)
                g.n += 1
                var i = 0
                while (i < aggs.length) {
                  aggs(i) match {
                    case EnvelopeAgg.CountOf(f) =>
                      if (EnvelopeFilters.nodeValue(r, f) != null) g.counts(i) += 1
                    case EnvelopeAgg.MinOf(f) =>
                      val v = EnvelopeFilters.nodeValue(r, f)
                      if (v != null && (g.mins(i) == null || EnvelopeFilters.compareValues(v, g.mins(i)) < 0))
                        g.mins(i) = v
                    case EnvelopeAgg.MaxOf(f) =>
                      val v = EnvelopeFilters.nodeValue(r, f)
                      if (v != null && (g.maxs(i) == null || EnvelopeFilters.compareValues(v, g.maxs(i)) > 0))
                        g.maxs(i) = v
                    case EnvelopeAgg.SumOf(f) =>
                      val v = EnvelopeFilters.nodeValue(r, f)
                      if (v != null) g.sums(i) = (g.sums(i), v) match {
                        case (null, x: Double)        => x
                        case (acc0: Double, x: Double) => acc0 + x
                        case (null, x: Long)          => x
                        case (acc0: Long, x: Long)    => Math.addExact(acc0, x)
                        case (acc0, x) => throw new IllegalStateException(
                          s"EnvelopeSource: sum type confusion $acc0 + $x")
                      }
                    case EnvelopeAgg.CountStar => ()
                  }
                  i += 1
                }
              }
            acc
          } finally in.close()
          // a file whose rows ALL fail the pushed filters still owes one
          // zero partial in the ungrouped case (grouped stays correctly
          // empty — zero groups aggregate to zero output rows)
          if (groupBy.isEmpty && groups.isEmpty) Iterator.single(zeroPartial)
          else groups.iterator.map { case (key, g) =>
            val keyVals = groupBy.zip(key).map { case (f, v) => toInternal(v, f.dataType) }
            val aggVals = aggs.zipWithIndex.map {
              case (EnvelopeAgg.CountStar, _)    => g.n
              case (EnvelopeAgg.CountOf(_), i)   => g.counts(i)
              case (EnvelopeAgg.MinOf(f), i)     => toInternal(g.mins(i), f.dataType)
              case (EnvelopeAgg.MaxOf(f), i)     => toInternal(g.maxs(i), f.dataType)
              case (s @ EnvelopeAgg.SumOf(_), i) => toInternal(g.sums(i), s.sumType)
            }
            InternalRow.fromSeq((keyVals ++ aggVals).toIndexedSeq)
          }
        }
      }

      private var cur: InternalRow = _
      override def next(): Boolean = { val h = rows.hasNext; if (h) cur = rows.next(); h }
      override def get(): InternalRow = cur
      override def close(): Unit = ()
    }
}

private class EnvelopeScan(schema: StructType, fullSchema: StructType,
    pushed: Array[Filter], limit: Int, topN: Array[EnvelopeSortKey], path: String)
    extends Scan with Batch with SupportsReportStatistics {
  override def readSchema(): StructType = schema
  override def toBatch: Batch = this
  override def description(): String =
    s"EnvelopeScan ReadSchema: ${schema.catalogString}, " +
      s"PushedFilters: [${pushed.mkString(", ")}]" +
      (if (topN.nonEmpty)
        s", PushedTopN: [${topN.map(k => s"${k.f.name}${if (k.desc) " DESC" else ""}").mkString(", ")}] LIMIT $limit"
       else if (limit >= 0) s", PushedLimit: $limit" else "")

  /** ONE listing per scan: statistics and partition planning share this
    * memoized (path, length) listing, so a query costs a single directory
    * RPC however many times the optimizer asks for stats (ADVICE r6: the
    * old shape re-listed per consumer AND issued one getFileStatus per
    * file — O(files) sequential namenode calls at planning time). */
  private lazy val files: Array[(String, Long)] = EnvelopeScan.listFiles(path)

  /** Size estimate from the visible files' byte lengths — without it a
    * DSv2 relation reports `defaultSizeInBytes` (effectively infinite),
    * so an envelope table could never auto-broadcast into a join however
    * small the actual payload. JSON text over-counts the row data, which
    * errs on the safe (non-broadcast) side. */
  override def estimateStatistics(): Statistics = new Statistics {
    private val bytes: Long = files.map(_._2).sum
    override def sizeInBytes(): java.util.OptionalLong = java.util.OptionalLong.of(bytes)
    override def numRows(): java.util.OptionalLong = java.util.OptionalLong.empty()
  }

  override def planInputPartitions(): Array[InputPartition] =
    files.map(f => EnvelopeInputPartition(f._1): InputPartition)

  override def createReaderFactory(): PartitionReaderFactory = {
    val spark = org.apache.spark.sql.SparkSession.active
    val conf = new SerializableConfiguration(spark.sessionState.newHadoopConf())
    val bc = spark.sparkContext.broadcast(conf)
    EnvelopeReaderFactory(schema, fullSchema, pushed, limit, topN, bc)
  }
}

private object EnvelopeScan {
  /** Listings issued since JVM start — a test hook only: the spec pins
    * "one listing per scan" against the million-file-lake concern (a
    * planning pass that re-lists per consumer is an O(files) RPC storm
    * on a real object store). */
  private[sources] val listings = new java.util.concurrent.atomic.AtomicLong

  /** One (path, byteLength) per visible envelope file (the API pages by
    * day, so files ≙ daily partitions); writer temps and hidden files
    * skipped. Lengths come from the directory listing's own FileStatus
    * entries — NO per-file getFileStatus RPCs (ADVICE r6). */
  def listFiles(path: String): Array[(String, Long)] = {
    listings.incrementAndGet()
    val spark = org.apache.spark.sql.SparkSession.active
    val hPath = new Path(path)
    val fs = hPath.getFileSystem(spark.sessionState.newHadoopConf())
    val root = fs.getFileStatus(hPath)
    if (root.isDirectory)
      fs.listStatus(hPath).filter(_.isFile)
        // skip in-flight/aborted writer temps (Hadoop hidden-file convention)
        .filter(s => s.getPath.getName.endsWith(".json")
          && !s.getPath.getName.startsWith(".") && !s.getPath.getName.startsWith("_"))
        .map(s => (s.getPath.toString, s.getLen)).sortBy(_._1)
    else Array((path, root.getLen))
  }
}

private case class EnvelopeInputPartition(file: String) extends InputPartition

private case class EnvelopeReaderFactory(schema: StructType, fullSchema: StructType,
    pushed: Array[Filter], limit: Int, topN: Array[EnvelopeSortKey],
    conf: Broadcast[SerializableConfiguration]) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new EnvelopeReader(partition.asInstanceOf[EnvelopeInputPartition].file, schema,
      fullSchema, pushed, limit, topN, conf.value.value)
}

/** Pushed-filter support + evaluation over parsed JSON records. A filter
  * is accepted only when this object can evaluate it EXACTLY — claiming a
  * filter removes Spark's own post-scan Filter, so a semantics gap here
  * would silently change results. */
private object EnvelopeFilters {

  private val comparableTypes: Set[DataType] =
    Set(TimestampType, DoubleType, LongType, IntegerType, StringType)

  /** Types [[compareValues]] can order — shared by the filter and top-N
    * pushdown acceptance checks. */
  def comparable(dt: DataType): Boolean = comparableTypes(dt)

  def supported(schema: StructType, f: Filter): Boolean = {
    def field(a: String): Option[StructField] = schema.fields.find(_.name == a)
    f match {
      case IsNotNull(a) => field(a).isDefined
      case IsNull(a)    => field(a).isDefined
      case EqualTo(a, _) => field(a).exists(x => comparableTypes(x.dataType))
      case GreaterThan(a, _) => field(a).exists(x => comparableTypes(x.dataType))
      case GreaterThanOrEqual(a, _) => field(a).exists(x => comparableTypes(x.dataType))
      case LessThan(a, _) => field(a).exists(x => comparableTypes(x.dataType))
      case LessThanOrEqual(a, _) => field(a).exists(x => comparableTypes(x.dataType))
      case _ => false
    }
  }

  /** Catalyst hands literals as external types (java.sql.Timestamp or
    * java.time.Instant for timestamps, boxed numbers); normalize once to
    * the reader's internal comparables (micros Long / Double / Long /
    * String). */
  def normalizeLiteral(v: Any, dt: DataType): Any = (dt, v) match {
    case (TimestampType, t: java.sql.Timestamp) => DateTimeUtils.fromJavaTimestamp(t)
    case (TimestampType, i: java.time.Instant)  => DateTimeUtils.instantToMicros(i)
    case (DoubleType, n: Number)  => n.doubleValue()
    case (LongType, n: Number)    => n.longValue()
    case (IntegerType, n: Number) => n.longValue()
    case (StringType, s)          => s.toString
    case _ => throw new IllegalArgumentException(
      s"EnvelopeSource: cannot evaluate pushed literal $v against $dt")
  }

  /** JSON field → the same internal comparable; null for JSON null/absent. */
  def nodeValue(node: JsonNode, f: StructField): Any = {
    val n = node.get(f.name)
    if (n == null || n.isNull) null
    else f.dataType match {
      case TimestampType =>
        DateTimeUtils.stringToTimestampAnsi(
          UTF8String.fromString(n.asText), java.time.ZoneOffset.UTC)
      case DoubleType  => n.asDouble
      case LongType    => n.asLong
      case IntegerType => n.asLong
      case StringType  => n.asText
      case dt => throw new IllegalArgumentException(
        s"EnvelopeSource: unsupported field type $dt for '${f.name}'")
    }
  }

  /** Total order over the reader's internal comparables — shared with the
    * min/max aggregate pushdown. */
  private[sources] def compareValues(a: Any, b: Any): Int = (a, b) match {
    case (x: Long, y: Long)     => java.lang.Long.compare(x, y)
    case (x: Double, y: Double) => java.lang.Double.compare(x, y)
    case (x: String, y: String) => x.compareTo(y)
    case _ => throw new IllegalArgumentException(s"EnvelopeSource: incomparable $a vs $b")
  }

  /** SQL three-valued logic collapsed to keep/drop: a comparison against
    * a NULL field is UNKNOWN → drop (matches post-scan Filter behavior). */
  def satisfies(node: JsonNode, schema: StructType, f: Filter): Boolean = {
    def field(a: String): StructField = schema.fields.find(_.name == a).get
    def test(a: String, v: Any, op: Int => Boolean): Boolean = {
      val fd = field(a)
      val row = nodeValue(node, fd)
      row != null && op(compareValues(row, normalizeLiteral(v, fd.dataType)))
    }
    f match {
      case IsNotNull(a) => nodeValue(node, field(a)) != null
      case IsNull(a)    => nodeValue(node, field(a)) == null
      case EqualTo(a, v)            => test(a, v, _ == 0)
      case GreaterThan(a, v)        => test(a, v, _ > 0)
      case GreaterThanOrEqual(a, v) => test(a, v, _ >= 0)
      case LessThan(a, v)           => test(a, v, _ < 0)
      case LessThanOrEqual(a, v)    => test(a, v, _ <= 0)
      case other => throw new IllegalStateException(
        s"EnvelopeSource: unpushable filter reached the reader: $other")
    }
  }
}

/** Parses one envelope file; emits one InternalRow per `data[]` element
  * that satisfies the pushed filters, materializing only the pruned
  * schema's fields. Filter columns are evaluated on the raw JSON node, so
  * a pruned-out column can still be filtered on. */
private class EnvelopeReader(file: String, schema: StructType,
    fullSchema: StructType, pushed: Array[Filter], limit: Int,
    topN: Array[EnvelopeSortKey],
    hadoopConf: org.apache.hadoop.conf.Configuration)
    extends PartitionReader[InternalRow] {

  /** Null-aware comparator over the pushed sort keys: record a sorts
    * before b exactly when Spark's SortOrder says so. */
  private def topNLess(a: JsonNode, b: JsonNode): Boolean = {
    var i = 0
    while (i < topN.length) {
      val k = topN(i)
      val (va, vb) = (EnvelopeFilters.nodeValue(a, k.f), EnvelopeFilters.nodeValue(b, k.f))
      val c = (va, vb) match {
        case (null, null) => 0
        case (null, _)    => if (k.nullsLast) 1 else -1
        case (_, null)    => if (k.nullsLast) -1 else 1
        case _ =>
          val base = EnvelopeFilters.compareValues(va, vb)
          if (k.desc) -base else base
      }
      if (c != 0) return c < 0
      i += 1
    }
    false
  }

  private val rows: Iterator[JsonNode] = {
    val p = new Path(file)
    val in = FileSystem.get(p.toUri, hadoopConf).open(p)
    try {
      val root = new ObjectMapper().readTree(in)
      val data = root.get("data")
      require(data != null && data.isArray, s"$file: envelope has no data[] array")
      val matching = data.elements().asScala.toVector
        .filter(n => pushed.forall(EnvelopeFilters.satisfies(n, fullSchema, _)))
      // partial pushed top-N / limit: this file's top n (a superset of its
      // contribution to the global top n) or its first n survivors;
      // Spark's retained TakeOrderedAndProject / global Limit finishes
      if (topN.nonEmpty && limit >= 0)
        matching.sortWith(topNLess).take(limit).iterator
      else if (limit >= 0) matching.iterator.take(limit)
      else matching.iterator
    } finally in.close()
  }
  private var cur: JsonNode = _

  override def next(): Boolean = { val h = rows.hasNext; if (h) cur = rows.next(); h }

  override def get(): InternalRow = {
    val values = schema.fields.map { f =>
      val node = cur.get(f.name)
      if (node == null || node.isNull) null
      else f.dataType match {
        case TimestampType =>
          // reference serializes datetime.isoformat() (`api/app/main.py:141`)
          DateTimeUtils.stringToTimestampAnsi(
            UTF8String.fromString(node.asText), java.time.ZoneOffset.UTC)
        case DoubleType  => node.asDouble
        case LongType    => node.asLong
        case IntegerType => node.asInt
        case StringType  => UTF8String.fromString(node.asText)
        case dt => throw new IllegalArgumentException(
          s"EnvelopeSource: unsupported field type $dt for '${f.name}'")
      }
    }
    InternalRow.fromSeq(values.toIndexedSeq)
  }

  override def close(): Unit = ()
}

/** V2 write path: each task streams its rows into a hidden temp file in
  * the target directory; the driver's commit renames every temp to a
  * visible `part-*.json` envelope (rename-as-publish two-phase commit),
  * and abort deletes the temps — a failed job never leaves a partial
  * envelope visible to the reader, which skips dot-files. `overwrite`
  * maps to SupportsTruncate: old part files are removed inside the same
  * commit, after all new temps are staged. */
private class EnvelopeWriteBuilder(schema: StructType, path: String)
    extends WriteBuilder with SupportsTruncate {
  private var doTruncate = false
  override def truncate(): WriteBuilder = { doTruncate = true; this }
  override def build(): Write = new Write {
    override def toBatch: BatchWrite = new EnvelopeBatchWrite(schema, path, doTruncate)
  }
}

private case class EnvelopeCommit(tempFile: String, rows: Long) extends WriterCommitMessage

private class EnvelopeBatchWrite(schema: StructType, path: String, truncate: Boolean)
    extends BatchWrite {

  // Per-job discriminator in the published name: a second append into a
  // non-empty directory must not collide with part files from an earlier
  // job — a fixed `part-00000.json` would fail the rename mid-commit and
  // leave a partially-visible write, breaking the all-or-nothing contract.
  private val jobId = java.util.UUID.randomUUID().toString.take(8)

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    val spark = org.apache.spark.sql.SparkSession.active
    val conf = new SerializableConfiguration(spark.sessionState.newHadoopConf())
    EnvelopeWriterFactory(schema, path, conf)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val dir = new Path(path)
    val fs = dir.getFileSystem(org.apache.spark.sql.SparkSession.active
      .sessionState.newHadoopConf())
    if (truncate && fs.exists(dir))
      fs.listStatus(dir).filter(_.isFile).map(_.getPath)
        .filter(p => p.getName.endsWith(".json") && !p.getName.startsWith("."))
        .foreach(p => fs.delete(p, false))
    messages.zipWithIndex.foreach { case (m: EnvelopeCommit, i) =>
      val src = new Path(m.tempFile)
      if (!fs.rename(src, new Path(dir, f"part-$jobId-$i%05d.json")))
        throw new java.io.IOException(s"EnvelopeSource: commit rename failed for $src")
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val fs = new Path(path).getFileSystem(org.apache.spark.sql.SparkSession.active
      .sessionState.newHadoopConf())
    messages.foreach {
      case EnvelopeCommit(temp, _) => fs.delete(new Path(temp), false)
      case _ => ()
    }
  }
}

private case class EnvelopeWriterFactory(schema: StructType, path: String,
    conf: SerializableConfiguration) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new EnvelopeDataWriter(schema, path, partitionId, taskId, conf.value)
}

/** Streams `{"data": [row, row, …], "count": N, …}` without buffering the
  * partition in memory — rows serialize as they arrive. */
private class EnvelopeDataWriter(schema: StructType, path: String,
    partitionId: Int, taskId: Long,
    hadoopConf: org.apache.hadoop.conf.Configuration)
    extends DataWriter[InternalRow] {

  private val tempPath = new Path(path, f".tmp-envelope-$partitionId%05d-$taskId.json")
  private val fs = tempPath.getFileSystem(hadoopConf)
  private val out = new java.io.PrintWriter(
    new java.io.OutputStreamWriter(fs.create(tempPath, true),
      java.nio.charset.StandardCharsets.UTF_8))
  private var n = 0L
  out.print("""{"data": [""")

  private def jsonValue(row: InternalRow, i: Int, f: StructField): String =
    if (row.isNullAt(i)) "null"
    else f.dataType match {
      case TimestampType =>
        // reference serializes datetime.isoformat() — zoneless ISO-8601
        val micros = row.getLong(i)
        "\"" + DateTimeUtils.microsToLocalDateTime(micros)
          .format(java.time.format.DateTimeFormatter.ISO_LOCAL_DATE_TIME) + "\""
      case DoubleType  => row.getDouble(i).toString
      case LongType    => row.getLong(i).toString
      case IntegerType => row.getInt(i).toString
      case StringType  =>
        com.fasterxml.jackson.databind.node.TextNode.valueOf(
          row.getUTF8String(i).toString).toString
      case dt => throw new IllegalArgumentException(
        s"EnvelopeSource: unsupported write type $dt for '${f.name}'")
    }

  override def write(row: InternalRow): Unit = {
    if (n > 0) out.print(", ")
    out.print(schema.fields.zipWithIndex
      .map { case (f, i) =>
        com.fasterxml.jackson.databind.node.TextNode.valueOf(f.name).toString +
          ": " + jsonValue(row, i, f)
      }
      .mkString("{", ", ", "}"))
    n += 1
  }

  override def commit(): WriterCommitMessage = {
    out.print(s"""], "count": $n, "filters": {}, "metadata": {"writer": "graft"}}""")
    out.close()
    EnvelopeCommit(tempPath.toString, n)
  }

  override def abort(): Unit = {
    out.close()
    fs.delete(tempPath, false)
  }

  override def close(): Unit = ()
}
