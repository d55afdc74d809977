package graft.lake

import java.util

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, Row, SQLContext, SparkSession}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.connector.expressions.NamedReference
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar, Max, Min}
import org.apache.spark.sql.connector.read.{LocalScan, Scan, ScanBuilder, SupportsPushDownAggregates, SupportsPushDownFilters, SupportsPushDownRequiredColumns, V1Scan}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** `spark.read.format("graft").load(root)` — the DataSource V2 entry to
  * ACID tables, so external tooling and `CREATE TABLE ... USING graft`
  * DDL reach snapshots without [[TxLog.createView]] staging. Options:
  * `path` (or `root`); `versionAsOf` / `timestampAsOf` for time travel.
  *
  * Read path: a DSv2 [[TableProvider]] whose scan falls back to a V1
  * relation ([[V1Scan]], the Delta pattern) — the relation builds the
  * SAME Catalyst plan `TxLog.readLatest`/`readAt` produce (parquet
  * vectorization, whole-stage codegen, pushdown all intact, since the
  * inner plan executes as-is via `toRdd` with `needConversion = false`)
  * and layers the connector contract on top:
  *
  *  - column pruning: the scan projects exactly the required schema, so
  *    the inner parquet read prunes to it (ReadSchema)
  *  - filter pushdown: translatable filters are accepted, re-applied
  *    EXACTLY on the inner plan (reaching the parquet scan as
  *    PushedFilters), and — the tiers parquet can't see — numeric bounds
  *    prune the snapshot's FILE LIST through the committed stats and
  *    equality/IN probes prune it through the bloom sidecars
  *    ([[TxLog.readPrunedScan]]) before any IO
  *
  * Write path, same short name (plain writes ARE faithfully
  * expressible; only the richer protocol features keep explicit-API or
  * SQL spellings — constraints, expectations, MERGE):
  *
  *  - batch: `df.write.format("graft").mode(...).save(root)` — V1
  *    CreatableRelationProvider fallback (the table exposes no DSv2
  *    write capability, so DataFrameWriter's own dispatch lands here).
  *    Append/Overwrite map to [[TxLog.append]]/[[TxLog.overwrite]];
  *    ErrorIfExists/Ignore consult the table's committed state.
  *    `.partitionBy(...)` flows through (Spark's V1 option encoding),
  *    `statsCols` opts into skipping stats, `txnAppId`+`txnVersion`
  *    make the append exactly-once ([[TxLog.appendIdempotent]]).
  *  - streaming: `writeStream.format("graft")` delegates to the
  *    exactly-once sink ([[graft.streaming.TxLogSinkProvider]]), the
  *    mirror of the read-side change-feed delegation below.
  */
final class GraftTableProvider extends TableProvider with DataSourceRegister
    with org.apache.spark.sql.sources.StreamSourceProvider
    with org.apache.spark.sql.sources.StreamSinkProvider
    with org.apache.spark.sql.sources.CreatableRelationProvider {

  override def shortName(): String = "graft"

  override def supportsExternalMetadata(): Boolean = true

  // ---- streaming entry: `spark.readStream.format("graft").load(root)`
  // is the table's CHANGE FEED, delegated to the existing provider (the
  // same options: startingVersion/startingTimestamp/maxVersionsPerTrigger)
  private val streamDelegate =
    new graft.streaming.TxLogChangeSourceProvider

  private def withRoot(parameters: Map[String, String]): Map[String, String] =
    if (parameters.contains("root")) parameters
    else parameters + ("root" ->
      parameters.getOrElse("path", throw new IllegalArgumentException(
        "readStream.format(\"graft\") needs a table root: .load(<root>) " +
          "or .option(\"root\", <root>)")))

  override def sourceSchema(sqlContext: org.apache.spark.sql.SQLContext,
                            schema: Option[StructType], providerName: String,
                            parameters: Map[String, String])
      : (String, StructType) =
    streamDelegate.sourceSchema(sqlContext, schema, providerName,
      withRoot(parameters))

  override def createSource(sqlContext: org.apache.spark.sql.SQLContext,
                            metadataPath: String,
                            schema: Option[StructType], providerName: String,
                            parameters: Map[String, String])
      : org.apache.spark.sql.execution.streaming.Source =
    streamDelegate.createSource(sqlContext, metadataPath, schema,
      providerName, withRoot(parameters))

  // ---- streaming sink: `df.writeStream.format("graft")` is the
  // exactly-once commit-log sink (appId from checkpointLocation/txnAppId,
  // one table version per micro-batch), delegated like the source
  private val sinkDelegate = new graft.streaming.TxLogSinkProvider

  override def createSink(sqlContext: SQLContext,
                          parameters: Map[String, String],
                          partitionColumns: Seq[String],
                          outputMode: org.apache.spark.sql.streaming.OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink =
    sinkDelegate.createSink(sqlContext, withRoot(parameters),
      partitionColumns, outputMode)

  // ---- batch write: the V1 fallback DataFrameWriter picks because the
  // DSv2 table deliberately exposes no write capability
  override def createRelation(ctx: SQLContext,
                              mode: org.apache.spark.sql.SaveMode,
                              parameters: Map[String, String],
                              data: org.apache.spark.sql.DataFrame)
      : BaseRelation = {
    import org.apache.spark.sql.SaveMode
    val spark = ctx.sparkSession
    val opts = new CaseInsensitiveStringMap(
      scala.jdk.CollectionConverters.MapHasAsJava(parameters).asJava)
    val root = GraftDataSource.rootOf(opts)
    val partitionCols = parameters.collectFirst {
      case (k, v) if k.equalsIgnoreCase(
        org.apache.spark.sql.graftnative.partitioningColumnsKey) =>
        org.apache.spark.sql.graftnative.decodePartitioningColumns(v)
    }.getOrElse(Seq.empty)
    val statsCols = Option(opts.get("statsCols"))
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty)
    def append(): Unit =
      (Option(opts.get("txnAppId")), Option(opts.get("txnVersion"))) match {
        case (Some(app), Some(v)) =>
          TxLog.appendIdempotent(spark, data, root, app, v.toLong,
            partitionCols, statsCols)
        case (None, None) =>
          TxLog.append(spark, data, root, partitionCols, statsCols)
        case _ => throw new IllegalArgumentException(
          "format(\"graft\") write: txnAppId and txnVersion make an " +
            "append exactly-once TOGETHER — set both or neither")
      }
    mode match {
      case SaveMode.Append    => append()
      case SaveMode.Overwrite =>
        TxLog.overwrite(spark, data, root, partitionCols, statsCols)
      case SaveMode.ErrorIfExists =>
        if (TxLog.currentVersion(spark, root).isDefined)
          throw new IllegalArgumentException(
            s"format(\"graft\"): table $root already has committed " +
              "state (SaveMode.ErrorIfExists)")
        append()
      case SaveMode.Ignore =>
        if (TxLog.currentVersion(spark, root).isEmpty) append()
    }
    // the relation Spark hands back from save(): the table just written,
    // pinned to its now-current version (same pin rule as getTable)
    val nowV = TxLog.currentVersion(spark, root)
    val pinned = new util.HashMap[String, String]()
    pinned.put("root", root)
    nowV.foreach(v => pinned.put("versionAsOf", v.toString))
    new GraftRelation(ctx, TxLog.schemaOf(spark, root, nowV), Array.empty,
      new CaseInsensitiveStringMap(pinned))
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val spark = SparkSession.active
    TxLog.schemaOf(spark, GraftDataSource.rootOf(options),
      GraftDataSource.versionOf(spark, options))
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    // PIN the snapshot version at analysis time (the Delta pattern):
    // without it, a held DataFrame's scan would re-resolve LATEST at
    // each execution — after a concurrent schema-changing overwrite the
    // emitted InternalRows would no longer match the analyzed schema
    // (silent mis-typed reads under needConversion=false). getTable runs
    // per analysis, so catalog tables still follow new commits query to
    // query; only one query's plan is frozen. The pin comes from the
    // CHECKPOINT-AWARE current version: raw-entry replay would return
    // None on a log vacuumed to a tip checkpoint (where reads succeed),
    // silently dropping the pin — and it re-reads every surviving entry
    // per analysis where resolve pays O(checkpoint + tail).
    // A timestampAsOf is resolved to its version HERE for the same
    // reason: one resolution at analysis, not one per execution.
    val spark = SparkSession.active
    val opts = new CaseInsensitiveStringMap(properties)
    val root = GraftDataSource.rootOf(opts)
    val resolved: Option[Long] = GraftDataSource.versionOf(spark, opts)
      .orElse(TxLog.currentVersion(spark, root))
    val pinned = resolved match {
      case Some(v) =>
        val m = new util.HashMap[String, String](properties)
        m.remove("timestampAsOf")
        m.put("versionAsOf", v.toString)
        m
      case None => properties // no commits yet: fail loudly at read
    }
    // declared-schema validation happens at SCAN BUILD (GraftTable), not
    // here: on the WRITE path DataFrameWriter hands getTable the INPUT
    // DF's schema (supportsExternalMetadata contract), and a legitimate
    // evolution append — new column, widened type — must reach
    // TxLog.append's own schema policy, not be refused by read rules
    new GraftTable(schema, new CaseInsensitiveStringMap(pinned))
  }
}

private[lake] final class GraftTable(schema0: StructType,
                                     options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {

  override def name(): String = s"graft:${GraftDataSource.rootOf(options)}"

  override def schema(): StructType = schema0

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder = {
    // catalog-registered tables (CREATE TABLE ... USING graft) deliver
    // the stored OPTIONS here rather than in getTable's properties;
    // direct reads deliver them in getTable. Merge, runtime keys winning.
    val merged0 = new util.HashMap[String, String](options.asCaseSensitiveMap())
    merged0.putAll(opts.asCaseSensitiveMap())
    val merged = new CaseInsensitiveStringMap(merged0)
    // supportsExternalMetadata admits a user/catalog .schema(...); the
    // scan returns ACTUAL column bytes under needConversion=false, so a
    // mismatched declared type would silently reinterpret them — refuse,
    // AT SCAN BUILD (reads only — getTable also fronts the write path,
    // where the declared schema is the input df's), anything that is not
    // the actual type or a lossless upcast (the upcast itself is
    // inserted in buildScan)
    val spark = SparkSession.active
    GraftDataSource.validateSchema(
      TxLog.schemaOf(spark, GraftDataSource.rootOf(merged),
        GraftDataSource.versionOf(spark, merged)),
      schema0)
    new GraftScanBuilder(schema0, merged)
  }
}

private[lake] final class GraftScanBuilder(schema: StructType,
                                           options: CaseInsensitiveStringMap)
    extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates {

  private var required: StructType = schema
  private var pushed: Array[Filter] = Array.empty
  // memo from supportCompletePushDown; PROMOTED to the scan only by
  // pushAggregation (Spark's contract: a true here is always followed
  // by pushAggregation before build — but build must never serve an
  // answer Spark didn't actually push)
  private var answered: Option[GraftDataSource.AggAnswer] = None
  private var pushedAgg: Option[GraftDataSource.AggAnswer] = None

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    // accept only filters the relation can re-apply EXACTLY; the rest go
    // back to Spark as residuals (correctness first: a filter accepted
    // here and applied loosely would silently drop or keep rows)
    val (ok, residual) =
      filters.partition(f => GraftDataSource.toColumn(f).isDefined)
    pushed = ok
    residual
  }

  override def pushedFilters(): Array[Filter] = pushed

  // ---- metadata-only aggregate pushdown: COUNT(*) from the committed
  // row counts (TxLog.countRowsFast), MIN/MAX(col) from the committed
  // stats (TxLog.minMaxFast) — answered COMPLETELY on the driver, so
  // `SELECT COUNT(*), MIN(k), MAX(k)` over format("graft") plans a
  // LocalTableScan: zero tasks, zero data files opened. Declines (and
  // Spark falls back to its own scan aggregate) whenever metadata can't
  // answer EXACTLY: pushed filters, GROUP BY, any aggregate beyond
  // COUNT(*)/MIN/MAX on a plain column, a live file without the stat, a
  // deletion vector under MIN/MAX (the vector may have removed the
  // extreme row; COUNT stays answerable — vectors commit their
  // cumulative row count), or a value the stats' double space can't
  // round-trip exactly (longs at |v| >= 2^53).
  override def supportCompletePushDown(agg: Aggregation): Boolean = {
    answered = GraftDataSource.answerAggregation(agg, pushed, options)
    answered.isDefined
  }

  override def pushAggregation(agg: Aggregation): Boolean = {
    // complete answers only: accepting here after supportCompletePushDown
    // said no would make Spark treat the scan's rows as PARTIAL states
    pushedAgg = answered
    answered.isDefined
  }

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = pushedAgg match {
    case Some(a) =>
      GraftDataSource.lastAggPushdown = Some(a.description)
      new GraftAggScan(a)
    case None => new GraftScan(required, pushed, options)
  }
}

/** The pushed-aggregate scan: one driver-resident row, executed as a
  * LocalTableScan — the connector twin of [[TxLog.countRows]] /
  * [[TxLog.minMaxFast]].
  */
private[lake] final class GraftAggScan(answer: GraftDataSource.AggAnswer)
    extends LocalScan {
  override def readSchema(): StructType = answer.schema
  override def rows(): Array[InternalRow] = answer.rows
  override def description(): String =
    s"GraftAggScan(${answer.description})"
}

private[lake] final class GraftScan(required: StructType,
                                    filters: Array[Filter],
                                    options: CaseInsensitiveStringMap)
    extends V1Scan {

  override def readSchema(): StructType = required

  override def toV1TableScan[T <: BaseRelation with TableScan](
      context: SQLContext): T =
    new GraftRelation(context, required, filters, options).asInstanceOf[T]
}

private[graft] final class GraftRelation(ctx: SQLContext,
                                         required: StructType,
                                         filters: Array[Filter],
                                         options: CaseInsensitiveStringMap)
    extends BaseRelation with TableScan {

  override def sqlContext: SQLContext = ctx

  override def schema: StructType = required

  /** Post-pruning planned scan bytes — the [[graft.plans.ScanBudget]]
    * seam: the committed sizes of exactly the file set [[buildScan]]
    * would read after the same stats + bloom tiers, no data touched.
    * Without this, a commit-log table scan (direct `format("graft")` or
    * a catalog identifier) hides behind an opaque RowDataSourceScanExec
    * and the budget would charge it ZERO — a 100 TB query sails under
    * any cap.
    */
  // lazy: ScanBudgetRule fires at every AQE stage preparation of the
  // same (immutable) scan — the log resolution + sidecar reads behind
  // this must run once per relation, not once per re-optimization
  private[graft] lazy val plannedScanBytes: Long =
    TxLog.plannedScanSizes(ctx.sparkSession,
      GraftDataSource.rootOf(options),
      GraftDataSource.boundsOf(filters),
      GraftDataSource.equalityProbes(filters),
      GraftDataSource.versionOf(ctx.sparkSession, options))

  // the inner plan's toRdd rows ARE InternalRows in this exact schema;
  // declaring it skips the Row re-conversion RowDataSourceScanExec would
  // otherwise insert
  override def needConversion: Boolean = false

  override def buildScan(): RDD[Row] = {
    val spark = ctx.sparkSession
    val root = GraftDataSource.rootOf(options)
    val version = GraftDataSource.versionOf(spark, options)
    // FILE skipping from the pushed filters, two tiers composed in one
    // snapshot resolution: numeric bounds against committed stats
    // (conservative: strict comparisons widen to inclusive bounds), and
    // equality/IN probes against the column's bloom index where one
    // exists — the point-lookup path readEquals serves natively. Rows
    // are then filtered exactly below.
    val bounds = GraftDataSource.boundsOf(filters)
    val probes = GraftDataSource.equalityProbes(filters)
    val base =
      if (bounds.nonEmpty || probes.nonEmpty)
        TxLog.readPrunedScan(spark, root, bounds, probes, version)
      else version match {
        case Some(v) => TxLog.readAt(spark, root, v)
        case None    => TxLog.readLatest(spark, root)
      }
    val filtered = filters.foldLeft(base) { (df, f) =>
      df.filter(GraftDataSource.toColumn(f).getOrElse(
        // unreachable: pushFilters only accepted translatable filters
        throw new IllegalStateException(s"untranslatable pushed filter $f")))
    }
    val pruned =
      if (required.isEmpty) filtered.select()
      else filtered.select(required.toIndexedSeq.map { f =>
        // honor a declared-but-wider type (validated in getTable as a
        // lossless upcast): without the cast the InternalRows would
        // carry the ACTUAL type's bytes under the declared schema
        val actual = filtered.schema
          .find(_.name.equalsIgnoreCase(f.name)).map(_.dataType)
        if (actual.contains(f.dataType)) col(f.name)
        else col(f.name).cast(f.dataType).as(f.name)
      }: _*)
    pruned.queryExecution.toRdd.asInstanceOf[RDD[Row]]
  }
}

private[graft] object GraftDataSource {

  /** A completely-answered pushed aggregation: the scan's output schema,
    * its rows (internal representations — ONE for the global-aggregate
    * tier, one per group for the partition-grouped tier), and a
    * human-readable description (the plan/test seam).
    */
  final case class AggAnswer(schema: StructType, rows: Array[InternalRow],
                             description: String)

  /** Test seam: the description of the last aggregation a
    * [[GraftScanBuilder]] answered from metadata (set at scan build).
    */
  @volatile var lastAggPushdown: Option[String] = None

  /** Answer `agg` ENTIRELY from commit metadata, or None to decline
    * (Spark then plans its own scan aggregate — correctness never
    * depends on acceptance). Answerable: no pushed filters, no GROUP
    * BY, and every aggregate is COUNT(*) (countRowsFast: every live
    * file carries a row count) or MIN/MAX of a plain numeric column
    * (minMaxFast: every live file carries the stat; under deletion
    * vectors only when a vector-free file dominates the bound — the
    * clean-dominates rule) whose value the stats' double space
    * round-trips exactly.
    */
  def answerAggregation(agg: Aggregation, pushedFilters: Array[Filter],
                        options: CaseInsensitiveStringMap)
      : Option[AggAnswer] = {
    if (agg.aggregateExpressions.isEmpty) return None
    // partition tier: COUNT(*) under partition-equality filters and/or
    // GROUP BY partition columns — answered from live-path values +
    // per-file committed row counts, one metadata fold, zero data files
    if (pushedFilters.nonEmpty || agg.groupByExpressions.nonEmpty)
      return answerPartitionCounts(agg, pushedFilters, options)
    val spark = SparkSession.active
    val root = rootOf(options)
    val version = versionOf(spark, options)
    lazy val tableSchema = TxLog.schemaOf(spark, root, version)
    // one metadata read per column even when MIN and MAX both appear
    val mmCache = scala.collection.mutable.Map
      .empty[String, Option[(Double, Double)]]
    def mm(c: String): Option[(Double, Double)] =
      mmCache.getOrElseUpdate(c, TxLog.minMaxFast(spark, root, c, version))
    def fieldOf(c: String): Option[org.apache.spark.sql.types.StructField] =
      tableSchema.find(_.name.equalsIgnoreCase(c))
    def colNameOf(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[String] = e match {
      case nr: NamedReference if nr.fieldNames.length == 1 =>
        Some(nr.fieldNames()(0))
      case _ => None
    }
    // a stat double back to the column's internal value — EXACT or
    // decline. Int-width and float types round-trip by construction
    // (the stat was widened from the value); longs only below 2^53.
    def exact(d: Double, t: org.apache.spark.sql.types.DataType)
        : Option[Any] = t match {
      case org.apache.spark.sql.types.DoubleType  => Some(d)
      case org.apache.spark.sql.types.FloatType   => Some(d.toFloat)
      case org.apache.spark.sql.types.IntegerType => Some(d.toInt)
      case org.apache.spark.sql.types.ShortType   => Some(d.toShort)
      case org.apache.spark.sql.types.ByteType    => Some(d.toByte)
      case org.apache.spark.sql.types.LongType
          if math.abs(d) < 9007199254740992.0 && d == math.rint(d) =>
        Some(d.toLong)
      case _ => None
    }
    def minMaxVal(e: org.apache.spark.sql.connector.expressions.Expression,
                  takeMin: Boolean): Option[(Any,
                    org.apache.spark.sql.types.DataType, String)] =
      for {
        c <- colNameOf(e)
        f <- fieldOf(c)
        bounds <- mm(c)
        v <- exact(if (takeMin) bounds._1 else bounds._2, f.dataType)
      } yield (v, f.dataType, f.name)
    val answers: Seq[Option[(Any, org.apache.spark.sql.types.DataType,
      String)]] = agg.aggregateExpressions.toSeq.map {
      case _: CountStar =>
        TxLog.countRowsFast(spark, root, version).map(n =>
          (n: Any, org.apache.spark.sql.types.LongType
            : org.apache.spark.sql.types.DataType, "COUNT(*)"))
      case m: Min => minMaxVal(m.column, takeMin = true)
        .map { case (v, t, n) => (v, t, s"MIN($n)") }
      case m: Max => minMaxVal(m.column, takeMin = false)
        .map { case (v, t, n) => (v, t, s"MAX($n)") }
      case _ => None
    }
    if (answers.exists(_.isEmpty)) None
    else {
      val resolved = answers.flatten
      val outSchema = StructType(resolved.zipWithIndex.map {
        case ((_, t, _), i) =>
          org.apache.spark.sql.types.StructField(s"agg_$i", t,
            nullable = false)
      })
      Some(AggAnswer(outSchema,
        Array[InternalRow](new GenericInternalRow(resolved.map(_._1).toArray)),
        resolved.map(_._3).mkString(", ")))
    }
  }

  /** The partition-metadata aggregate tier: answers an `agg` whose
    * aggregates are ALL COUNT(*), whose GROUP BY columns (if any) are
    * all PARTITION columns, and whose pushed filters (if any) are all
    * partition-column equalities with non-null values — entirely from
    * [[TxLog.partitionAggregates]] (live-path partition values + per-file
    * committed row counts, dv-subtracted). Declines on anything else,
    * and on partition value types the path string can't round-trip
    * EXACTLY (only string and integral columns qualify — a date/double
    * rendering mismatch would silently mis-bucket rows). The answer is
    * one LocalTableScan row per surviving group (the standard complete-
    * pushdown shape: grouping columns first, then the aggregates);
    * `SELECT part, count(*) ... GROUP BY part` over 100k files is then
    * zero tasks and zero data files, like Delta's partition-stats path.
    */
  private def answerPartitionCounts(agg: Aggregation,
                                    pushedFilters: Array[Filter],
                                    options: CaseInsensitiveStringMap)
      : Option[AggAnswer] = {
    import org.apache.spark.sql.types._
    val spark = SparkSession.active
    val root = rootOf(options)
    val version = versionOf(spark, options)
    val tableSchema = TxLog.schemaOf(spark, root, version)
    def colNameOf(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[String] = e match {
      case nr: NamedReference if nr.fieldNames.length == 1 =>
        Some(nr.fieldNames()(0))
      case _ => None
    }
    // a path string back to the column's typed value — EXACT or decline
    // (same posture as the stats tier's double round-trip rule)
    def parse(v: String, t: DataType): Option[Any] = t match {
      case StringType  => Some(UTF8String.fromString(v))
      case LongType    => v.toLongOption
      case IntegerType => v.toIntOption
      case ShortType   => v.toShortOption.map(s => s: Any)
      case ByteType    => v.toByteOption.map(b => b: Any)
      case _           => None
    }
    def fieldOf(c: String): Option[StructField] =
      tableSchema.find(_.name.equalsIgnoreCase(c))
    // the group columns must all resolve to plain column references
    val groupNames = agg.groupByExpressions.toSeq.map(colNameOf)
    if (groupNames.exists(_.isEmpty)) return None
    // classify the aggregates: COUNT(*), or MIN/MAX of a data column
    // answered from the per-partition stat bounds (exact round-trip
    // required, same posture as the global tier)
    sealed trait ASpec
    case object ACount extends ASpec
    final case class ABound(name: String, takeMin: Boolean,
                            t: DataType) extends ASpec
    val specs: Seq[ASpec] = agg.aggregateExpressions.toSeq.map {
      case _: CountStar => ACount
      case m: Min =>
        val c = colNameOf(m.column).getOrElse(return None)
        val f = fieldOf(c).getOrElse(return None)
        ABound(f.name, takeMin = true, f.dataType)
      case m: Max =>
        val c = colNameOf(m.column).getOrElse(return None)
        val f = fieldOf(c).getOrElse(return None)
        ABound(f.name, takeMin = false, f.dataType)
      case _ => return None
    }
    val statCols = specs.collect { case b: ABound => b.name }.distinct
    // filter SHAPES validated before any metadata work, and the named
    // columns handed to partitionAggregates so a non-partition GROUP
    // BY/filter declines on a file-name probe, never a metadata fold
    val filterCols: Seq[String] = pushedFilters.toSeq.map {
      case EqualTo(a, v) if v != null                            => a
      case EqualNullSafe(a, v) if v != null                      => a
      case In(a, arr) if arr.nonEmpty && arr.forall(_ != null)   => a
      case IsNotNull(a)                                          => a
      case _ => return None
    }
    val (pcols, parts) =
      TxLog.partitionAggregates(spark, root, version, statCols,
        requireCols = groupNames.flatten ++ filterCols)
        .getOrElse(return None)
    val pIndex = pcols.zipWithIndex
      .map { case (c, i) => c.toLowerCase(java.util.Locale.ROOT) -> i }
      .toMap
    def idxOf(name: String): Option[Int] =
      pIndex.get(name.toLowerCase(java.util.Locale.ROOT))
    // every pushed filter must be a partition constraint we can absorb —
    // answering while silently dropping a filter would over-count.
    // Equality, IN (a disjunction over one column), and the IsNotNull
    // Spark INFERS next to every pushed equality (vacuous here — the
    // tier already declines tables with null-marker partitions).
    def valueMatches(parsed: Any, want: Any): Boolean = parsed match {
      case u: UTF8String => u.toString == String.valueOf(want)
      case other         => other == want
    }
    val constraints: Seq[Option[Seq[Any] => Boolean]] =
      pushedFilters.toSeq.map {
        case EqualTo(a, v) if v != null =>
          idxOf(a).map(i => (vs: Seq[Any]) => valueMatches(vs(i), v))
        case EqualNullSafe(a, v) if v != null =>
          idxOf(a).map(i => (vs: Seq[Any]) => valueMatches(vs(i), v))
        case In(a, arr) if arr.nonEmpty && arr.forall(_ != null) =>
          idxOf(a).map(i => (vs: Seq[Any]) =>
            arr.exists(w => valueMatches(vs(i), w)))
        case IsNotNull(a) =>
          idxOf(a).map(_ => (_: Seq[Any]) => true)
        case _ => None
      }
    if (constraints.exists(_.isEmpty)) return None
    // typed tuples: parse every partition value under its column type
    val typed: Seq[(Seq[Any], TxLog.PartitionAgg)] =
      parts.toSeq.map { case (vs, a) =>
        val parsed = pcols.zip(vs).map { case (c, v) =>
          fieldOf(c).flatMap(f => parse(v, f.dataType))
        }
        if (parsed.exists(_.isEmpty)) return None
        (parsed.flatten, a)
      }
    val survivors = typed.filter { case (vs, _) =>
      constraints.flatten.forall(_(vs))
    }
    // a stat double back to the column's internal value — EXACT or
    // decline (the global tier's rule, restated here for group bounds)
    def exact(d: Double, t: DataType): Option[Any] = t match {
      case DoubleType  => Some(d)
      case FloatType   => Some(d.toFloat)
      case IntegerType => Some(d.toInt)
      case ShortType   => Some(d.toShort)
      case ByteType    => Some(d.toByte)
      case LongType
          if math.abs(d) < 9007199254740992.0 && d == math.rint(d) =>
        Some(d.toLong)
      case _ => None
    }
    // MIN/MAX under deletion vectors: a vector can remove a file's
    // extreme row, so per group the bound is answered only when a
    // VECTOR-FREE file dominates the vector-carrying files' stat bound
    // (TxLog.BoundParts — exact by construction: the clean extreme is
    // achieved by a surviving row). A sparse delete therefore declines
    // only the groups it actually touched AND whose extreme it could
    // hide; an untouched partition's groups keep the metadata answer.
    // Any unanswerable group declines the whole aggregation (complete
    // pushdown is all-or-nothing). Per-group bound values are required
    // present + exactly-convertible; a group with zero visible rows
    // (fully vector-deleted) surfaces no group row, SQL-correctly.
    def boundOf(a: TxLog.PartitionAgg, b: ABound): Option[Any] =
      a.bounds(b.name).flatMap(_.answer(b.takeMin))
        .flatMap(exact(_, b.t))
    def describe: String = {
      val ags = specs.map {
        case ACount => "COUNT(*)"
        case b: ABound =>
          s"${if (b.takeMin) "MIN" else "MAX"}(${b.name})"
      }.mkString(", ")
      val f = if (pushedFilters.isEmpty) ""
        else s" WHERE ${pushedFilters.map(_.toString).mkString(" AND ")}"
      s"$ags$f [partition metadata]"
    }
    def aggSchema: Seq[StructField] = specs.zipWithIndex.map {
      case (ACount, i)    => StructField(s"agg_$i", LongType,
        nullable = false)
      case (b: ABound, i) => StructField(s"agg_$i", b.t, nullable = true)
    }
    if (agg.groupByExpressions.isEmpty) {
      // filtered global aggregate: ONE row — COUNT over no rows is 0,
      // MIN/MAX over no rows is NULL
      val total = survivors.map(_._2.rows).sum
      val values: Seq[Any] = specs.map {
        case ACount => total
        case b: ABound =>
          val nonEmpty = survivors.map(_._2).filter(_.rows > 0)
          if (nonEmpty.isEmpty) null
          else {
            // fold the per-partition ANSWERED bounds (each exact under
            // the clean-dominates rule); any unanswerable partition
            // declines the whole aggregation
            val per = nonEmpty.map(
              _.bounds(b.name).flatMap(_.answer(b.takeMin)))
            if (per.exists(_.isEmpty)) return None
            val ds = per.flatten
            exact(if (b.takeMin) ds.min else ds.max,
              b.t).getOrElse(return None)
          }
      }
      Some(AggAnswer(StructType(aggSchema),
        Array[InternalRow](new GenericInternalRow(values.toArray)),
        describe))
    } else {
      val gIdx = groupNames.flatten.map(n => idxOf(n).getOrElse(return None))
      val gFields = groupNames.flatten.map(n =>
        fieldOf(n).getOrElse(return None))
      // zero-visible-row partitions surface no group (SQL: no rows, no
      // group — a fully vector-deleted partition vanishes correctly)
      val grouped = survivors.filter(_._2.rows > 0)
        .groupMapReduce { case (vs, _) => gIdx.map(vs) }(_._2) { (a, b) =>
          TxLog.PartitionAgg(a.rows + b.rows, a.anyDv || b.anyDv,
            statCols.map { c =>
              c -> (for { x <- a.bounds(c); y <- b.bounds(c) }
                yield x.merge(y))
            }.toMap)
        }
        .toSeq.sortBy(_._1.map(String.valueOf).mkString("/"))
      val schema = StructType(
        gFields.map(f => StructField(f.name, f.dataType,
          nullable = false)) ++ aggSchema)
      val rows = grouped.map { case (key, a) =>
        val values: Seq[Any] = specs.map {
          case ACount    => a.rows
          case b: ABound => boundOf(a, b).getOrElse(return None)
        }
        new GenericInternalRow((key ++ values).toArray): InternalRow
      }.toArray
      Some(AggAnswer(schema, rows,
        s"GROUP BY ${gFields.map(_.name).mkString(", ")} / $describe"))
    }
  }

  def rootOf(options: CaseInsensitiveStringMap): String =
    Option(options.get("path")).orElse(Option(options.get("root")))
      .orElse(Option(options.get("location"))) // CREATE TABLE ... LOCATION
      .getOrElse(throw new IllegalArgumentException(
        "format(\"graft\") needs a table root: .load(<root>) or " +
          ".option(\"root\", <root>)"))

  def versionOf(spark: SparkSession,
                options: CaseInsensitiveStringMap): Option[Long] =
    (Option(options.get("versionAsOf")),
      Option(options.get("timestampAsOf"))) match {
      case (Some(_), Some(_)) => throw new IllegalArgumentException(
        "format(\"graft\") takes versionAsOf OR timestampAsOf, not both")
      case (Some(v), None) => Some(v.toLong)
      case (None, Some(ts)) =>
        val ms = TxLog.parseTimestampMs(ts).getOrElse(
          throw new IllegalArgumentException(
            s"cannot parse timestampAsOf '$ts' (epoch ms, " +
              "'yyyy-MM-dd HH:mm:ss', or ISO-8601 instant)"))
        Some(TxLog.versionAtTimestamp(spark, rootOf(options), ms))
      case (None, None) => None
    }

  /** Reject a declared (user `.schema(...)` / catalog-stored) schema the
    * scan cannot honor. [[GraftRelation.buildScan]] selects snapshot
    * columns BY NAME and emits InternalRows under needConversion=false,
    * so a declared type that differs from the actual one reinterprets
    * unsafe-row bytes as garbage: every declared field must exist in the
    * table, with the actual type or one reachable by a LOSSLESS upcast
    * (inserted in buildScan). Anything else fails here, at analysis.
    */
  def validateSchema(actual: StructType, declared: StructType): Unit = {
    val byName = actual.map(f =>
      f.name.toLowerCase(java.util.Locale.ROOT) -> f).toMap
    declared.foreach { f =>
      val a = byName.getOrElse(f.name.toLowerCase(java.util.Locale.ROOT),
        throw new IllegalArgumentException(
          s"format(\"graft\"): declared column '${f.name}' does not " +
            s"exist in the table (actual schema: ${actual.simpleString})"))
      if (a.dataType != f.dataType &&
          !org.apache.spark.sql.catalyst.expressions.Cast
            .canUpCast(a.dataType, f.dataType))
        throw new IllegalArgumentException(
          s"format(\"graft\"): declared type ${f.dataType.simpleString} " +
            s"for column '${f.name}' is not the table's " +
            s"${a.dataType.simpleString} nor a lossless upcast of it — " +
            "scanning under it would misread row bytes; drop " +
            ".schema(...) or declare the actual type")
    }
  }

  /** Exact Column translation of a connector [[Filter]]; None marks the
    * filter residual (Spark re-applies it post-scan).
    */
  def toColumn(f: Filter): Option[Column] = f match {
    case EqualTo(a, v)            => Some(col(a) === lit(v))
    case EqualNullSafe(a, v)      => Some(col(a) <=> lit(v))
    case GreaterThan(a, v)        => Some(col(a) > lit(v))
    case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case LessThan(a, v)           => Some(col(a) < lit(v))
    case LessThanOrEqual(a, v)    => Some(col(a) <= lit(v))
    case In(a, vs)                => Some(col(a).isin(vs.toIndexedSeq: _*))
    case IsNull(a)                => Some(col(a).isNull)
    case IsNotNull(a)             => Some(col(a).isNotNull)
    case StringStartsWith(a, v)   => Some(col(a).startsWith(v))
    case StringEndsWith(a, v)     => Some(col(a).endsWith(v))
    case StringContains(a, v)     => Some(col(a).contains(v))
    case And(l, r) => for { lc <- toColumn(l); rc <- toColumn(r) } yield lc && rc
    case Or(l, r)  => for { lc <- toColumn(l); rc <- toColumn(r) } yield lc || rc
    case Not(c)    => toColumn(c).map(!_)
    case _         => None
  }

  /** Per-column probe-value sets from the TOP-LEVEL equality/IN
    * conjuncts — point sets and bloom probes. Only top-level AND
    * members qualify (an OR branch can't narrow the file set), and null
    * values contribute no probe: `x = NULL` matches nothing (Spark
    * rewrites it to IsNull anyway) and a NULL inside an IN list can
    * never be the value that makes the predicate TRUE, so probing the
    * non-null values stays a necessary condition. A column may appear
    * once per conjunct (`x = 5 AND x IN (5, 6)`): each application can
    * only remove more files, so repeats compose.
    */
  def equalityProbes(filters: Array[Filter]): Seq[(String, Seq[Any])] =
    filters.toSeq.flatMap {
      case EqualTo(a, v) if v != null       => Some(a -> Seq(v))
      case EqualNullSafe(a, v) if v != null => Some(a -> Seq(v))
      case In(a, vs) =>
        val nonNull = vs.toSeq.filter(_ != null)
        if (nonNull.nonEmpty) Some(a -> nonNull) else None
      case _ => None
    }

  /** Per-column [lo, hi] windows from the TOP-LEVEL conjuncts' numeric
    * range comparisons (equalities ride [[equalityProbes]]). Only
    * top-level AND members qualify (an OR branch can't narrow the file
    * set), strict comparisons widen to inclusive (skipping is
    * necessary-condition only); non-numeric values don't participate.
    */
  def boundsOf(filters: Array[Filter]): Seq[(String, Double, Double)] = {
    def num(v: Any): Option[Double] = v match {
      // NaN contributes NO bound: under Spark's NaN-largest total order
      // `x <= NaN` still matches every non-NaN row, but hi=NaN makes
      // the range's `mn <= hi` false for every stats-bearing file —
      // silently skipping them all (mirror of the NaN-KEEP rule the
      // stats tier applies to file stats)
      case n: java.lang.Number =>
        val d = n.doubleValue(); if (d.isNaN) None else Some(d)
      case _ => None
    }
    val windows = scala.collection.mutable.Map.empty[String, (Double, Double)]
    def narrow(a: String, lo: Double, hi: Double): Unit = {
      val (clo, chi) = windows.getOrElse(a, (Double.MinValue, Double.MaxValue))
      windows(a) = (math.max(clo, lo), math.min(chi, hi))
    }
    filters.foreach {
      case GreaterThan(a, v)        => num(v).foreach(d => narrow(a, d, Double.MaxValue))
      case GreaterThanOrEqual(a, v) => num(v).foreach(d => narrow(a, d, Double.MaxValue))
      case LessThan(a, v)           => num(v).foreach(d => narrow(a, Double.MinValue, d))
      case LessThanOrEqual(a, v)    => num(v).foreach(d => narrow(a, Double.MinValue, d))
      case _                        => ()
    }
    windows.toSeq.map { case (a, (lo, hi)) => (a, lo, hi) }
      .filter { case (_, lo, hi) =>
        lo != Double.MinValue || hi != Double.MaxValue }
      .sortBy(_._1)
  }
}
