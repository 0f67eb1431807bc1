package graft.pointcloud.connector

import java.io.{BufferedReader, InputStreamReader}

import graft.pointcloud.Section
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, SpecificInternalRow}
import org.apache.spark.sql.connector.expressions.NamedReference
import org.apache.spark.sql.connector.expressions.aggregate.{AggregateFunc, Aggregation, CountStar, Max, Min}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{And => FAnd, EqualTo => FEq, Filter => SourceFilter, GreaterThan => FGt, GreaterThanOrEqual => FGe, In => FIn, LessThan => FLt, LessThanOrEqual => FLe, Or => FOr}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** ScanBuilder with column pruning (reference P1: only requested fields
  * are decoded, BinarySectionRelation.scala:165-181) and complete
  * aggregate pushdown answering COUNT/MIN/MAX from headers with zero data
  * IO (reference A1/A2, ExtraStrategies.scala:35-86 — rebuilt on the
  * standard DSv2 contract instead of a custom SparkStrategy).
  */
class PointCloudScanBuilder(
    kind: FormatKind,
    resolved: ResolvedPointCloud,
    tableSchema: StructType,
    options: CaseInsensitiveStringMap,
    provider: PointCloudProvider = null)
  extends ScanBuilder
  with SupportsPushDownRequiredColumns
  with SupportsPushDownFilters
  with SupportsPushDownLimit
  with SupportsPushDownAggregates {

  private var readSchema: StructType = tableSchema
  private var pushedAggRow: Option[(StructType, Array[Array[Any]])] = None
  /** Explicit subscriptions (`bbox` + `timerange` read options, see
    * [[SubscriptionOption]]): synthesized filters seeded into BOTH
    * pushdown layers so the declared region binds even when the query
    * carries no WHERE — the batch twin of the streaming source's only
    * pushdown channel (DSv2 micro-batch planning never calls
    * pushFilters). */
  private val bboxFilters: Array[SourceFilter] =
    SubscriptionOption.filters(kind, tableSchema, options)
  /** `copc.maxlevel`, parsed once here so a malformed value fails the
    * query instead of degrading; the scan and its stream receive it. */
  private val copcMaxLevel: Int = CopcPrune.maxLevelOption(options)
  private var skipFilters: Array[SourceFilter] = bboxFilters
  private var recordFilters: Array[SourceFilter] = bboxFilters
  private var limit: Int = -1

  override def pruneColumns(requiredSchema: StructType): Unit =
    readSchema = requiredSchema

  /** Two pushdown layers (reference: none — SURVEY §2.3 P4):
    *  - file skip: ALL filters prune whole sections against LAS header
    *    pmin/pmax at planning time (conservative, never a correctness
    *    dependency);
    *  - record skip: filters the binary readers can evaluate exactly
    *    (numeric comparisons in the exposed-schema domain, null-aware)
    *    are claimed as pushed and dropped from Spark's residual — a
    *    selective range scan never materializes non-matching rows.
    * XYZ text reads keep everything residual (values only exist after
    * per-line parsing, where Spark's own codegen filter is as good).
    */
  override def pushFilters(filters: Array[SourceFilter]): Array[SourceFilter] = {
    skipFilters = bboxFilters ++ filters
    // LAZ sections decode whole chunks anyway (a record predicate saves
    // no entropy-decode work), and the record readers evaluate pushed
    // filters on RAW record bytes — keep everything residual when any
    // section is compressed; header-bbox file skip still applies.
    // option-derived filters (bbox / timerange) are NOT residual-
    // droppable (Spark never saw them) so they stay in the
    // reader-applied set unconditionally.
    val (push, residual) =
      if (kind == FormatKind.Xyz || resolved.sections.exists(_.laz.isDefined))
        (Array.empty[SourceFilter], filters)
      else filters.partition(RecordPredicate.pushable(_, tableSchema))
    recordFilters = bboxFilters ++ push
    residual
  }
  override def pushedFilters(): Array[SourceFilter] = recordFilters

  /** Header counts make limit-aware planning exact when no record-level
    * filter is pushed: plan only the leading partitions covering `limit`
    * records. (With pushed filters the per-file match count is unknown;
    * with XYZ there is no header count.) */
  override def pushLimit(l: Int): Boolean = {
    if (kind == FormatKind.Xyz || recordFilters.nonEmpty) false
    else { limit = l; true }
  }

  override def supportCompletePushDown(aggregation: Aggregation): Boolean =
    computeAggregation(aggregation).isDefined

  override def pushAggregation(aggregation: Aggregation): Boolean =
    computeAggregation(aggregation) match {
      case Some(result) => pushedAggRow = Some(result); true
      case None => false
    }

  /** Try to answer the aggregation from headers alone. Returns the output
    * schema + result rows (one row globally, or one per fid when grouped
    * by fid), or None when not coverable. MIN/MAX(x|y|z) unscale header
    * pmin/pmax back to raw ints exactly (no `.toInt` truncation — fixes
    * the reference's ExtraStrategies.scala:57-62 caveat flagged in
    * SURVEY §2.4). `GROUP BY fid` is the per-file-stats query — headers
    * answer it with zero data IO.
    */
  private def computeAggregation(agg: Aggregation): Option[(StructType, Array[Array[Any]])] = {
    // header totals answer the UNFILTERED table only; once a record-level
    // filter is pushed the counts no longer describe the scan's output
    if (recordFilters.nonEmpty) return None
    // likewise a declared copc.maxlevel preview reads a SUBSET of each
    // file's chunks — header counts/extents describe the full file
    if (copcMaxLevel >= 0) return None
    if (kind == FormatKind.Xyz) return None // no header to answer from
    if (resolved.sections.isEmpty) return None
    val groupByFid = agg.groupByExpressions.toSeq match {
      case Seq() => false
      case Seq(e) if fieldName(e).contains(PointCloudUtil.FidCol) => true
      case _ => return None
    }
    // per-group section lists: one group per fid, or all sections at once.
    // A fid whose sections hold zero records contributes NO group — SQL
    // aggregation emits no row for a group with no input rows (the global
    // COUNT(*) = 0 row, by contrast, is correct).
    val groups: Seq[(Option[Int], Seq[SectionWithFid])] =
      if (groupByFid)
        resolved.sections.groupBy(_.fid).toSeq.sortBy(_._1)
          .filter { case (_, ss) => ss.exists(_.section.count > 0) }
          .map { case (fid, ss) => (Some(fid), ss) }
      else Seq((None, resolved.sections))
    if (groupByFid && groups.isEmpty) return None

    def minMax(sections: Seq[SectionWithFid], col: String,
        wantMin: Boolean): Option[Any] = kind match {
      case FormatKind.Las =>
        val axis = col match {
          case "x" => 0; case "y" => 1; case "z" => 2; case _ => -1
        }
        if (axis < 0) return None
        // per-section raw values from LAS header pmin/pmax + scale/offset;
        // zero-count sections carry no meaningful bbox
        val nonEmpty = sections.filter(_.section.count > 0)
        val las = nonEmpty.flatMap(_.lasStats)
        if (las.isEmpty || las.size < nonEmpty.size) return None
        val raws = las.map { st =>
          val p = if (wantMin) st.pMin(axis) else st.pMax(axis)
          Math.round((p - st.offset(axis)) / st.scale(axis))
        }
        val v = if (wantMin) raws.min else raws.max
        if (v < Int.MinValue || v > Int.MaxValue) None else Some(v.toInt)
      case _ => None
    }

    val outFields = Vector.newBuilder[StructField]
    if (groupByFid) outFields += StructField(PointCloudUtil.FidCol, IntegerType, nullable = false)
    var first = true
    val rows = groups.map { case (fid, sections) =>
      val values = Vector.newBuilder[Any]
      fid.foreach(values += _)
      agg.aggregateExpressions.foreach { f: AggregateFunc =>
        f match {
          case _: CountStar =>
            if (first) outFields += StructField("count", LongType, nullable = false)
            values += sections.map(_.section.count).sum
          case m: Min =>
            val col = fieldName(m.column)
            val v = col.flatMap(minMax(sections, _, wantMin = true)).getOrElse(return None)
            if (first) outFields += StructField("min", IntegerType, nullable = true)
            values += v
          case m: Max =>
            val col = fieldName(m.column)
            val v = col.flatMap(minMax(sections, _, wantMin = false)).getOrElse(return None)
            if (first) outFields += StructField("max", IntegerType, nullable = true)
            values += v
          case _ => return None
        }
      }
      first = false
      values.result().toArray
    }
    Some((StructType(outFields.result()), rows.toArray))
  }

  private def fieldName(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
    e match {
      case nr: NamedReference if nr.fieldNames.length == 1 => Some(nr.fieldNames.head)
      case _ => None
    }

  override def build(): Scan = pushedAggRow match {
    case Some((schema, values)) => new HeaderAggScan(schema, values)
    case None =>
      val pruned =
        if (skipFilters.isEmpty) resolved
        else resolved.copy(sections = resolved.sections.filter(sf =>
          SectionSkip.mayMatch(SectionSkip.sectionRange(sf), skipFilters)))
      new PointCloudScan(kind, pruned, readSchema, tableSchema, options, provider,
        recordFilters, limit, skipFilters, copcMaxLevel)
  }
}

/** The one range test of the connector's two skip levels: can a region
  * whose columns span `range` hold a record matching `filters`? `range`
  * maps a column to its `(lo, hi)` in the exposed raw domain, or None
  * when the region does not bound it. Returns false only when provably
  * empty. The builder's file skip, the scan's runtime (join-driven) fid
  * skip and the stream planner test a section over [[sectionRange]];
  * [[CopcPrune.keepMask]] tests each COPC chunk over its octree node's
  * bounds. */
private[connector] object SectionSkip {
  type Range = String => Option[(Double, Double)]

  /** A section's bounds: LAS header bbox for x/y/z; fid is a per-section
    * constant; pid spans [0, count); COPC's info VLR carries the file's
    * gpstime span (world-domain doubles, the exposed `time` domain), so
    * a time-sliced read of a lidar lake skips whole files exactly like
    * the bbox skip. A zero-count section bounds nothing (it is kept; it
    * costs nothing). */
  def sectionRange(sf: SectionWithFid): Range = col =>
    if (sf.section.count == 0) None
    else col match {
      case PointCloudUtil.FidCol => Some((sf.fid.toDouble, sf.fid.toDouble))
      case PointCloudUtil.PidCol => Some((0.0, (sf.section.count - 1).toDouble))
      case "x" | "y" | "z" => sf.lasStats.map { st =>
        val a = col match { case "x" => 0; case "y" => 1; case _ => 2 }
        (Math.round((st.pMin(a) - st.offset(a)) / st.scale(a)).toDouble,
          Math.round((st.pMax(a) - st.offset(a)) / st.scale(a)).toDouble)
      }
      case "time" => sf.laz.flatMap(lz => Option(lz.gpsRange)).map(r => (r(0), r(1)))
      case _ => None
    }

  def mayMatch(range: Range, filters: Array[SourceFilter]): Boolean = {
    // a NaN literal bounds nothing: Spark orders NaN above every value
    // (`time < NaN` holds for every non-NaN record), while a double
    // comparison with NaN is always false
    def num(v: Any): Option[Double] = v match {
      case n: Number if !java.lang.Double.isNaN(n.doubleValue()) => Some(n.doubleValue())
      case _ => None
    }
    def one(f: SourceFilter): Boolean = f match {
      case FGt(c, v)  => (range(c), num(v)) match {
        case (Some((_, hi)), Some(x)) => hi > x;  case _ => true }
      case FGe(c, v)  => (range(c), num(v)) match {
        case (Some((_, hi)), Some(x)) => hi >= x; case _ => true }
      case FLt(c, v)  => (range(c), num(v)) match {
        case (Some((lo, _)), Some(x)) => lo < x;  case _ => true }
      case FLe(c, v)  => (range(c), num(v)) match {
        case (Some((lo, _)), Some(x)) => lo <= x; case _ => true }
      case FEq(c, v)  => (range(c), num(v)) match {
        case (Some((lo, hi)), Some(x)) => lo <= x && x <= hi; case _ => true }
      case FIn(c, vs) => range(c) match {
        // runtime join filters arrive as In(fid, matched values)
        case Some((lo, hi)) =>
          vs.exists(v => num(v).forall(x => lo <= x && x <= hi))
        case None => true }
      case FAnd(l, r) => one(l) && one(r)
      case FOr(l, r)  => one(l) || one(r)
      case _ => true
    }
    filters.forall(one)
  }
}

/** Leaf scan returning precomputed rows — the pushed-aggregate result
  * (one row globally, or one per fid under GROUP BY fid). Zero executor
  * IO, mirroring the reference's driver-local CountPlan / AggregatePlan
  * (ExtraStrategies.scala:35-76). */
class HeaderAggScan(schema: StructType, rows: Array[Array[Any]]) extends Scan with Batch {
  override def readSchema(): StructType = schema
  override def toBatch: Batch = this
  override def description(): String = "graft header-aggregate scan (no data IO)"
  override def planInputPartitions(): Array[InputPartition] =
    Array(HeaderAggPartition(rows))
  override def createReaderFactory(): PartitionReaderFactory = HeaderAggReaderFactory
}

case class HeaderAggPartition(rows: Array[Array[Any]]) extends InputPartition

object HeaderAggReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val rows = partition.asInstanceOf[HeaderAggPartition].rows
    new PartitionReader[InternalRow] {
      private var i = -1
      override def next(): Boolean = { i += 1; i < rows.length }
      override def get(): InternalRow = new GenericInternalRow(rows(i))
      override def close(): Unit = ()
    }
  }
}

/** Data scan: record-aligned splits over every section, packed into
  * core-sized tasks. */
class PointCloudScan(
    kind: FormatKind,
    resolved: ResolvedPointCloud,
    schema: StructType,
    tableSchema: StructType,
    options: CaseInsensitiveStringMap,
    provider: PointCloudProvider = null,
    pushedFilters: Array[org.apache.spark.sql.sources.Filter] = Array.empty,
    limit: Int = -1,
    /** ALL pushed-down conjuncts, claimed or residual — LAZ sections
      * keep record filters residual (Spark re-evaluates them exactly),
      * but the PLANNER may still use every conjunct conservatively for
      * COPC chunk skipping, exactly like the header file skip does. */
    planFilters: Array[org.apache.spark.sql.sources.Filter] = Array.empty,
    /** The `copc.maxlevel` preview bound (−1 = unset), parsed by the
      * builder. */
    copcMaxLevel: Int = -1)
  extends Scan with Batch with SupportsReportStatistics with SupportsRuntimeFiltering {

  // a declared preview over a source that cannot honor it (any non-COPC
  // file) is rejected outright
  if (copcMaxLevel >= 0) resolved.sections.foreach(CopcPrune.requirePreviewHonorable)

  /** Sections surviving runtime (join-driven) filtering; starts as the
    * planning-time set. */
  @volatile private var sections: Seq[SectionWithFid] = resolved.sections

  /** Runtime file skip: when this scan sits under a join on `fid`,
    * Spark's dynamic pruning sends the matched build-side values as an
    * In-filter and only the named files' sections are read — the DSv2
    * analogue of dynamic partition pruning, with the file as the
    * partition. */
  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    // only declarable when fid survives column pruning — Spark resolves
    // these against the scan output and fails on a pruned column
    if (kind != FormatKind.Xyz && schema.fieldNames.contains(PointCloudUtil.FidCol))
      Array(org.apache.spark.sql.connector.expressions.Expressions.column(PointCloudUtil.FidCol))
    else Array.empty

  override def filter(filters: Array[SourceFilter]): Unit = {
    sections = sections.filter(sf => SectionSkip.mayMatch(SectionSkip.sectionRange(sf), filters))
  }

  /** Streaming ingest: new files in the directory become micro-batches
    * (SURVEY §7.7). Binary formats split record-aligned; XYZ text (no
    * header count) streams one partition per file, like the batch path. */
  override def toMicroBatchStream(
      checkpointLocation: String): org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    require(provider != null, "streaming requires the owning provider")
    streaming = true
    // filters claimed as pushed MUST be applied by the streaming readers
    // too — this scan (with its pushedFilters) is what Spark plans from;
    // the full conjunct set rides along for COPC planning-time pruning
    new PointCloudMicroBatchStream(kind, provider, schema, tableSchema, options,
      checkpointLocation, pushedFilters, planFilters, copcMaxLevel)
  }

  /** Header-derived stats (exact row counts, on-disk bytes) so Catalyst
    * sizes joins correctly — a small LAS/PLY table becomes broadcastable
    * instead of defaulting to "unknown = huge". XYZ (no header count)
    * reports nothing. */
  override def estimateStatistics(): Statistics = new Statistics {
    private val known = kind != FormatKind.Xyz && resolved.sections.nonEmpty
    private val fullRows = resolved.sections.map(_.section.count).sum
    // a copc.maxlevel preview plans only the coarse-level chunks, so the
    // planner-visible row count must be the KEPT chunk points (~1/8 per
    // skipped level), not the header total — otherwise Catalyst sizes
    // the cheap preview as the full corpus and misses broadcasts
    private val totalRows =
      if (copcMaxLevel < 0) fullRows
      else resolved.sections.map { sf =>
        // a zero-count section may carry no laz layout at all (an empty
        // uncompressed task file in the directory — admitted by the
        // construction require above); it contributes 0 rows, it must
        // not crash stats estimation
        sf.laz.fold(0L) { lz =>
          val keep = CopcPrune.keepMask(lz, Array.empty, copcMaxLevel)
          lz.chunkPoints.indices.iterator
            .filter(i => keep == null || keep(i)).map(lz.chunkPoints(_)).sum
        }
      }.sum
    private val rows =
      if (limit >= 0) math.min(limit.toLong, totalRows) else totalRows
    override def sizeInBytes(): java.util.OptionalLong =
      if (known) {
        val bytes = resolved.sections.map(_.section.byteSize).sum
        // a pushed limit or level preview caps the scan output
        // proportionally
        val capped = if (fullRows > 0 && rows < fullRows)
          math.max(1L, bytes / fullRows * rows) else bytes
        java.util.OptionalLong.of(capped)
      } else java.util.OptionalLong.empty()
    override def numRows(): java.util.OptionalLong =
      if (known) java.util.OptionalLong.of(rows)
      else java.util.OptionalLong.empty()
  }

  override def readSchema(): StructType = schema
  override def toBatch: Batch = this
  override def description(): String =
    s"graft ${kind.name} scan, ${resolved.sections.size} section(s), " +
      (if (streaming) "" else {
        val tasks = planInputPartitions()
        s"${tasks.map(_.asInstanceOf[PackedPartition].splits.length).sum} split(s) " +
          s"in ${tasks.length} task(s), "
      }) +
      s"columns [${schema.fieldNames.mkString(",")}]" +
      lazLayers.fold("")(", " + _) +
      (if (pushedFilters.nonEmpty) s", PushedFilters: [${pushedFilters.mkString(", ")}]" else "") +
      (if (limit >= 0) s", PushedLimit: $limit" else "") +
      (if (copcMaxLevel >= 0) s", PushedMaxLevel: $copcMaxLevel" else "")

  /** The decoded LAZ layers, for [[description]] (rendered once per
    * explain string, so computed once). */
  private lazy val lazLayers =
    LazLayers.describe(resolved.sections, LazLayers.columns(schema, pushedFilters))

  /** Set once this scan becomes a stream: its description then describes
    * no batch plan (each micro-batch plans its own files). */
  @volatile private var streaming = false

  /** The last plan with the section set it was made from: Spark renders
    * [[description]] for every explain string of a query (SQL execution
    * events included), and it must not re-plan each time. A runtime
    * filter swaps the section set, which invalidates the plan. */
  @volatile private var lastPlan: (Seq[SectionWithFid], Array[InputPartition]) = null

  /** The sections' splits packed into core-sized tasks ([[SplitPlanner]]). */
  override def planInputPartitions(): Array[InputPartition] = {
    val ss = sections
    val last = lastPlan
    if (last != null && (last._1 eq ss)) last._2
    else {
      val tasks = SplitPlanner.plan(kind, ss, tableSchema, planFilters, copcMaxLevel, limit)
      lastPlan = (ss, tasks)
      tasks
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new PointCloudReaderFactory(schema.json, tableSchema.json, pushedFilters)
}

/** A run of whole records inside one section. The section schema rides
  * along as JSON so the executor can rebuild decode offsets without any
  * shared mutable configuration (the reference's shared-conf race,
  * BinarySectionRelation.scala:151-155, is structurally impossible here).
  */
case class BinaryPartition(
    location: String,
    sectionOffset: Long,
    startRecord: Long,
    numRecords: Long,
    stride: Int,
    littleEndian: Boolean,
    fid: Int,
    sectionSchemaJson: String) extends InputPartition

case class XyzPartition(location: String, fid: Int, schemaJson: String)
  extends InputPartition

/** A run of whole LAZ chunks of one compressed file — the chunk is the
  * smallest independently decodable unit (all codec state resets at a
  * chunk boundary), so it plays the role whole records play for raw
  * sections: partitions are CHUNK-aligned, sized by compressed bytes
  * against maxPartitionBytes, and a 100-TB .laz corpus fans out across
  * executors exactly like its uncompressed twin. `chunkCounts` carries
  * decoded points per chunk (the last may be truncated by a pushed
  * limit — decode simply stops early mid-chunk). */
case class LazPartition(
    location: String,
    fid: Int,
    format: Byte,
    stride: Int,
    startRecord: Long,
    chunkOffsets: Array[Long],
    chunkBytes: Array[Long],
    chunkCounts: Array[Long],
    sectionSchemaJson: String) extends InputPartition {

  def numRecords: Long = chunkCounts.sum

  /** Leading chunks covering exactly `take` records (pushed limit). */
  def truncatedTo(take: Long): LazPartition = {
    var remaining = take
    var n = 0
    while (n < chunkCounts.length && remaining > 0) {
      remaining -= math.min(chunkCounts(n), remaining)
      n += 1
    }
    val counts = chunkCounts.take(n)
    if (n > 0) {
      val covered = counts.init.sum
      counts(n - 1) = math.min(counts(n - 1), take - covered)
    }
    copy(chunkOffsets = chunkOffsets.take(n), chunkBytes = chunkBytes.take(n),
      chunkCounts = counts)
  }
}

/** Explicit subscriptions: the `bbox` read option,
  * `"xlo,xhi,ylo,yhi,zlo,zhi"` in the exposed-schema coordinate domain
  * (raw integers for LAS, stored values for PLY), and the `timerange`
  * read option, `"lo,hi"` in the exposed `time` (gpstime) domain; `*`
  * leaves a side unbounded. Spark's DSv2 STREAMING planner never pushes
  * predicates into a micro-batch source (the stream's scan is built
  * before the optimizer sees any WHERE), so a consumer that should only
  * ingest a region or a time window must DECLARE it — the same way a
  * Kafka reader declares its subscription. A batch `WHERE` gets the same
  * planning effects automatically (pc31). The declared bounds are EXACT
  * at the record level: they compile to the same [[RecordPredicate]] the
  * claimed-pushdown path uses (readers skip non-matching records before
  * decode; LAZ readers apply it to decoded chunk records), and at
  * planning they drive the header file skip, the COPC gps-range file
  * skip and COPC chunk pruning ([[SectionSkip]]). The batch scan honors
  * the options identically, so one option value means one result set in
  * both modes. XYZ sources, and tables without the bound columns, are
  * rejected: a silently over-delivering subscription is worse than an
  * error. */
private[graft] object SubscriptionOption {
  def filters(kind: FormatKind, tableSchema: StructType,
      options: CaseInsensitiveStringMap): Array[SourceFilter] =
    parse(kind, tableSchema, options, "bbox", Seq("x", "y", "z"), integralFirst = true) ++
      parse(kind, tableSchema, options, "timerange", Seq("time"), integralFirst = false)

  /** One option's filters: a `lo,hi` pair per column of `cols`. With
    * `integralFirst`, a bound that parses as a Long stays integral (Long
    * columns only push integral literals, and the raw-int LAS domain
    * compares exactly); every other bound parses as a double. */
  private def parse(kind: FormatKind, tableSchema: StructType,
      options: CaseInsensitiveStringMap, name: String, cols: Seq[String],
      integralFirst: Boolean): Array[SourceFilter] =
    Option(options.get(name)) match {
      case None => Array.empty
      case Some(raw) =>
        require(kind != FormatKind.Xyz,
          s"$name is not supported for xyz sources: text records have no " +
            "reader-side predicate surface, so the declared bounds could not " +
            "be honored exactly")
        val parts = raw.split(",", -1).map(_.trim)
        require(parts.length == 2 * cols.length,
          s"$name must be '${cols.map(c => s"${c}lo,${c}hi").mkString(",")}' " +
            s"(exposed-schema domain, '*' for an unbounded side), got '$raw'")
        // NaN/Infinity parse as doubles but make every comparison false
        // — a subscription that silently matches nothing, the exact
        // failure mode these options exist to surface as an error
        def bound(tok: String, side: String, c: String): Option[Any] =
          if (tok == "*") None
          else Some((if (integralFirst) tok.toLongOption else None)
            .map(java.lang.Long.valueOf).getOrElse {
              val d = try tok.toDouble catch {
                case _: NumberFormatException => throw new IllegalArgumentException(
                  s"$name $side bound for $c is not a number: '$tok'")
              }
              require(java.lang.Double.isFinite(d),
                s"$name $side bound for $c is not finite: '$tok'")
              java.lang.Double.valueOf(d)
            })
        // exact for Longs and doubles alike (a double round-trip would
        // wave through inverted Long bounds past 2^53)
        def big(v: Any): BigDecimal = v match {
          case x: java.lang.Long => BigDecimal(x.longValue)
          case x: java.lang.Double => BigDecimal(x.doubleValue)
        }
        val out = Array.newBuilder[SourceFilter]
        cols.zipWithIndex.foreach { case (c, a) =>
          val lo = bound(parts(2 * a), "lower", c)
          val hi = bound(parts(2 * a + 1), "upper", c)
          for (l <- lo; h <- hi)
            require(big(l) <= big(h), s"$name $c bounds are inverted: $l > $h")
          lo.foreach(v => out += FGe(c, v))
          hi.foreach(v => out += FLe(c, v))
        }
        val fs = out.result()
        require(fs.nonEmpty, s"$name '$raw' binds nothing; drop the option instead")
        fs.foreach { f =>
          require(RecordPredicate.pushable(f, tableSchema),
            s"$name bound $f is not evaluable against this table's schema " +
              s"(${cols.mkString("/")} must exist as numeric primitive columns)")
        }
        fs
    }
}

/** Chunk-level pruning over a COPC file's octree: the planner drops
  * whole LAZ chunks whose node bounds cannot hold a matching record —
  * row-group-stats pruning for point clouds, decided on the driver
  * before any split is cut. One level below the file skip, one level
  * above [[RecordPredicate]] (exact per-record evaluation on decoded
  * bytes); both skip levels ask [[SectionSkip.mayMatch]], so a chunk
  * survives iff its bounds admit at least one possibly-matching
  * record. */
private[graft] object CopcPrune {

  /** Keep mask over `lz`'s chunks, or null when nothing prunes (no
    * bounds in the file or no filters, and no preview bound). A chunk is
    * kept when [[SectionSkip.mayMatch]] admits `filters` over its raw
    * x/y/z bounds (a chunk without bounds is kept) and, under a
    * `copc.maxlevel` preview (`maxLevel` ≥ 0), its octree node sits at
    * level ≤ maxLevel. Unlike the filters the level bound CHANGES the
    * result set (a declared approximate read), so it is only ever driven
    * by the explicit read option. Chunks without a hierarchy entry
    * (level −1) are kept — the option bounds octree NODES, and data
    * outside the octree contract must not silently vanish. */
  def keepMask(lz: graft.pointcloud.las.laz.LazInfo,
      filters: Array[SourceFilter], maxLevel: Int): Array[Boolean] = {
    val bounded = lz.chunkRawBounds != null && filters.nonEmpty
    val leveled = maxLevel >= 0 && lz.chunkLevels != null
    if (!bounded && !leveled) return null
    Array.tabulate(lz.numChunks) { i =>
      (!leveled || lz.chunkLevels(i) < 0 || lz.chunkLevels(i) <= maxLevel) &&
        (!bounded || lz.chunkRawBounds(i) == null ||
          SectionSkip.mayMatch(chunkRange(lz.chunkRawBounds(i)), filters))
    }
  }

  /** A chunk's raw `[xlo,xhi,ylo,yhi,zlo,zhi]` node bounds as a range. */
  private def chunkRange(b: Array[Long]): SectionSkip.Range = {
    case "x" => Some((b(0).toDouble, b(1).toDouble))
    case "y" => Some((b(2).toDouble, b(3).toDouble))
    case "z" => Some((b(4).toDouble, b(5).toDouble))
    case _ => None
  }

  /** The `copc.maxlevel` read option (−1 when absent): the LOD
    * preview's declared depth bound. */
  def maxLevelOption(options: CaseInsensitiveStringMap): Int =
    PointCloudUtil.intOption(k => Option(options.get(k)), "copc.maxLevel") match {
      case None => -1
      case Some(v) =>
        require(v >= 0, s"copc.maxLevel must be >= 0, got $v")
        v
    }

  /** The one rule for a declared `copc.maxlevel` preview, checked by the
    * batch scan and the stream alike: a section with records but no COPC
    * octree index cannot honor it, and the read fails (the [[SubscriptionOption]]
    * precedent: a silently over-delivering subscription, the FULL corpus
    * where ~1/8 was declared, is worse than an error). A zero-record
    * section honors any preview trivially (empty task files are normal
    * in a multi-task layout). */
  def requirePreviewHonorable(sf: SectionWithFid): Unit =
    if (sf.section.count != 0 && !sf.laz.exists(_.chunkLevels != null))
      throw new CopcPreviewUnhonorable(
        s"copc.maxLevel declared but ${sf.section.location} carries no COPC " +
          "octree index, so the coarse preview cannot be honored there; " +
          "read it without the option instead")
}

/** A declared `copc.maxlevel` preview the source cannot honor. The
  * streaming planner re-throws it past its skip-unreadable catch, so a
  * contract breach fails the query instead of reading as a healthy
  * empty stream. */
private[connector] class CopcPreviewUnhonorable(msg: String)
  extends IllegalArgumentException(msg)

/** Shared LAZ split planning (batch scan + streaming source). A `keep`
  * mask (from [[CopcPrune]]) drops pruned chunks at planning: each
  * maximal CONSECUTIVE kept run becomes its own partition group with
  * its true record base, so `pid` stays the record's absolute index in
  * the file across pruning gaps and the chunk-seeking readers run
  * unchanged. */
private[graft] object LazPlanning {
  def partitions(s: graft.pointcloud.Section, fid: Int,
      lz: graft.pointcloud.las.laz.LazInfo, maxBytes: Long,
      keep: Array[Boolean] = null, sectionSchemaJson: String = null): Seq[LazPartition] = {
    val schemaJson = if (sectionSchemaJson != null) sectionSchemaJson else s.schema.json
    val out = Seq.newBuilder[LazPartition]
    var i = 0
    var off = lz.firstChunkOffset
    var recBase = 0L // records preceding chunk i (pid continuity)
    while (i < lz.numChunks) {
      if (keep != null && !keep(i)) {
        off += lz.chunkBytes(i)
        recBase += lz.chunkPoints(i)
        i += 1
      } else {
      val first = i
      val firstOff = off
      val firstRec = recBase
      var bytes = 0L
      while (i < lz.numChunks && (keep == null || keep(i)) &&
          (i == first || bytes + lz.chunkBytes(i) <= maxBytes)) {
        bytes += lz.chunkBytes(i)
        off += lz.chunkBytes(i)
        recBase += lz.chunkPoints(i)
        i += 1
      }
      val offs = new Array[Long](i - first)
      val bts = new Array[Long](i - first)
      val cnts = new Array[Long](i - first)
      var k = first
      var o = firstOff
      while (k < i) {
        offs(k - first) = o
        bts(k - first) = lz.chunkBytes(k)
        cnts(k - first) = lz.chunkPoints(k)
        o += lz.chunkBytes(k)
        k += 1
      }
      out += LazPartition(s.location, fid, lz.format, lz.stride,
        firstRec, offs, bts, cnts, schemaJson)
      }
    }
    out.result()
  }
}

class PointCloudReaderFactory(
    readSchemaJson: String,
    tableSchemaJson: String,
    pushedFilters: Array[SourceFilter])
  extends PartitionReaderFactory {

  // parsed once per task, not once per split of a packed task
  @transient private lazy val readSchema =
    DataType.fromJson(readSchemaJson).asInstanceOf[StructType]
  @transient private lazy val tableSchema =
    DataType.fromJson(tableSchemaJson).asInstanceOf[StructType]
  @transient private lazy val lazColumns = LazLayers.columns(readSchema, pushedFilters)

  /** XYZ text reads row by row. Binary and LAZ splits, which Spark reads
    * through [[createColumnarReader]], serve this contract as the rows of
    * those batches, so they too are decoded by [[ColumnarFiller]]. */
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    if (supportColumnarReads(partition)) new BatchRowReader(createColumnarReader(partition))
    else taskReader(partition, { case (p: XyzPartition, _) => new XyzReader(p, readSchema) })

  /** A task's reader: every split of the task shares one [[LazDecoders]]. */
  private def taskReader[T](partition: InputPartition,
      open: (InputPartition, LazDecoders) => PartitionReader[T]): PartitionReader[T] = {
    val decoders = new LazDecoders(lazColumns)
    partition match {
      case PackedPartition(splits) => new PackedReader(splits, open(_, decoders))
      case p => open(p, decoders)
    }
  }

  /** Fixed-stride binary sections decode vectorized (ColumnarBatch) —
    * raw and LAZ alike (a decoded chunk IS a run of fixed-stride
    * records); XYZ text stays row-oriented. A scan plans one kind of
    * split only, so a packed task is columnar iff its first split is. */
  override def supportColumnarReads(partition: InputPartition): Boolean = partition match {
    case PackedPartition(splits) => supportColumnarReads(splits.head)
    case _ => partition.isInstanceOf[BinaryPartition] || partition.isInstanceOf[LazPartition]
  }

  override def createColumnarReader(
      partition: InputPartition): PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    taskReader(partition, columnarReader)

  private def columnarReader(partition: InputPartition, decoders: LazDecoders)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = partition match {
    case p: BinaryPartition => new BinarySectionColumnarReader(p, readSchema, predicate(p))
    case p: LazPartition =>
      val schema = sectionSchema(p)
      new LazSectionColumnarReader(p, schema, readSchema, lazPredicate(p, schema),
        decoders(p, schema))
  }

  private def sectionSchema(p: LazPartition): StructType =
    DataType.fromJson(p.sectionSchemaJson).asInstanceOf[StructType]

  /** Pushed-filter evaluator compiled against this split's section
    * schema (sections differ across merged files); null when nothing was
    * pushed. */
  private def predicate(p: BinaryPartition): RecordPredicate =
    if (pushedFilters.isEmpty) null
    else new RecordPredicate(pushedFilters, tableSchema,
      Section(p.location, p.sectionOffset, p.numRecords, p.littleEndian,
        DataType.fromJson(p.sectionSchemaJson).asInstanceOf[StructType], p.stride),
      p.fid)

  /** Same, over a LAZ split's DECODED records (a decoded chunk is a
    * run of ordinary fixed-stride LAS records). The batch builder keeps
    * filters residual for compressed tables, but the STREAMING path may
    * claim filters as pushed before any .laz file lands — the readers
    * must honor them or claimed-pushed rows leak unfiltered. */
  private def lazPredicate(p: LazPartition, sectionSchema: StructType): RecordPredicate =
    if (pushedFilters.isEmpty) null
    else new RecordPredicate(pushedFilters, tableSchema,
      Section(p.location, 0, p.numRecords, littleEndian = true, sectionSchema, p.stride),
      p.fid)
}

/** Tab-separated text reader: types parsed per the schema, missing
  * trailing fields padded with null (xyz/XyzRelation.scala:57-70). */
class XyzReader(p: XyzPartition, readSchema: StructType)
  extends PartitionReader[InternalRow] {

  private val fileSchema = DataType.fromJson(p.schemaJson).asInstanceOf[StructType]
  private val path = new Path(p.location)
  private val reader = new BufferedReader(new InputStreamReader(
    path.getFileSystem(LocalIo.conf).open(path), "UTF-8"))

  private val row = new SpecificInternalRow(readSchema)
  // for each output field: source token index (or -1 for fid/pid/absent)
  private val plan: Array[(Int, DataType)] = readSchema.fields.map { f =>
    (fileSchema.fieldNames.indexOf(f.name), f.dataType)
  }
  private val fidOrd = readSchema.fieldNames.indexOf(PointCloudUtil.FidCol)
  private val pidOrd = readSchema.fieldNames.indexOf(PointCloudUtil.PidCol)

  private var pid = -1L
  private var line: String = _

  override def next(): Boolean = {
    line = reader.readLine()
    while (line != null && line.isEmpty) line = reader.readLine()
    pid += 1
    line != null
  }

  override def get(): InternalRow = {
    val tokens = line.split('\t')
    var i = 0
    while (i < plan.length) {
      val (src, dt) = plan(i)
      if (i == fidOrd) row.setInt(i, p.fid)
      else if (i == pidOrd) row.setLong(i, pid)
      else if (src < 0 || src >= tokens.length || tokens(src).isEmpty) row.setNullAt(i)
      else {
        val t = tokens(src)
        try dt match {
          case ByteType    => row.setByte(i, t.toByte)
          case ShortType   => row.setShort(i, t.toShort)
          case IntegerType => row.setInt(i, t.toInt)
          case LongType    => row.setLong(i, t.toLong)
          case FloatType   => row.setFloat(i, t.toFloat)
          case DoubleType  => row.setDouble(i, t.toDouble)
          case StringType  => row.update(i, UTF8String.fromString(t))
          case _           => row.setNullAt(i)
        } catch { case _: NumberFormatException => row.setNullAt(i) }
      }
      i += 1
    }
    row
  }

  override def close(): Unit = reader.close()
}
