package graft.sources

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.expressions.NamedReference
import org.apache.spark.sql.connector.expressions.aggregate.{AggregateFunc, Aggregation, CountStar, Max, Min}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownAggregates, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types.{IntegerType, LongType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A complete DataSource V2 connector: the deterministic sequence table
  * `graft.sources.SeqSource` — rows (id, bucket, value) derived purely from
  * the row number:
  *
  *   bucket = id % 32
  *   value  = ((id * 2654435761) & 0x7fffffff) % 1000   (Knuth hash, exact int64)
  *
  * The point is not the data (an oracle can replay it from `range()`), it
  * is the CONNECTOR SURFACE a Spark-native engine must be able to host:
  *
  *  - `TableProvider` / `Table` / `ScanBuilder` / `Batch` — the full V2
  *    read path, registered by class name via `spark.read.format(...)`.
  *  - `SupportsPushDownFilters`: id-range predicates are ACCEPTED and
  *    narrow the generated range at PLANNING time (the scan never produces
  *    the pruned rows — the V2 analogue of parquet row-group pruning /
  *    partition pruning); other predicates are returned as residuals for
  *    Spark to evaluate.
  *  - `SupportsPushDownRequiredColumns`: the reader materializes only the
  *    requested columns (column pruning reaching the source).
  *  - `planInputPartitions`: the narrowed range splits into `slices`
  *    contiguous partitions — source-side parallelism under the engine's
  *    control, the thing a 100 TB custom source must get right.
  *
  * `Scan.description` prints the effective range + pushed filters, so the
  * pruning is assertable from the physical plan (RoundtripsSpec does).
  */
class SeqSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = SeqSource.schema
  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new SeqTable(
      properties.getOrDefault("rows", "1000").toLong,
      properties.getOrDefault("slices", "8").toInt)
}

object SeqSource {
  val schema: StructType = new StructType()
    .add("id", LongType, nullable = false)
    .add("bucket", IntegerType, nullable = false)
    .add("value", IntegerType, nullable = false)

  /** The row derivation — shared by the reader and the spec. */
  def bucketOf(id: Long): Int = (id % 32L).toInt
  def valueOf(id: Long): Int = (((id * 2654435761L) & 0x7fffffffL) % 1000L).toInt

  /** SQL replay of the same derivation (DuckDB + Spark dialect-neutral). */
  def valueSql(idExpr: String): String =
    s"CAST(((($idExpr) * 2654435761) & 2147483647) % 1000 AS INTEGER)"
}

final class SeqTable(rows: Long, slices: Int) extends Table with SupportsRead {
  override def name(): String = s"graft_seq($rows)"
  override def schema(): StructType = SeqSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new SeqScanBuilder(rows, slices)
}

/** Streaming offset = how many sequence rows have been emitted. */
final case class SeqOffset(pos: Long) extends Offset {
  override def json(): String = pos.toString
}

/** The STREAMING read path of the same table: a `MicroBatchStream` whose
  * offsets are plain row positions — `batchRows` per trigger (or
  * everything at once under AvailableNow, where Spark's wrapper drives to
  * `latestOffset`). Each batch's [start, end) range splits into the same
  * contiguous partitions as the batch scan, and rows derive from the same
  * arithmetic, so a streaming run is bit-identical to the batch relation —
  * which is exactly what the oracle gate asserts.
  */
final class SeqMicroBatchStream(rows: Long, slices: Int) extends MicroBatchStream {

  override def initialOffset(): Offset = SeqOffset(0L)
  override def latestOffset(): Offset = SeqOffset(rows)
  override def deserializeOffset(json: String): Offset = SeqOffset(json.toLong)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val lo = start.asInstanceOf[SeqOffset].pos
    val hi = math.min(end.asInstanceOf[SeqOffset].pos, rows)
    SeqScan(lo, math.max(lo, hi), slices, SeqSource.schema, Array.empty)
      .planInputPartitions()
  }

  override def createReaderFactory(): PartitionReaderFactory =
    SeqScan(0L, rows, slices, SeqSource.schema, Array.empty).createReaderFactory()
}

final class SeqScanBuilder(rows: Long, slices: Int)
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates {

  private var lo = 0L
  private var hi = rows
  private var accepted: Array[Filter] = Array.empty
  private var required: StructType = SeqSource.schema
  private var pushedAgg: Option[Array[AggregateFunc]] = None

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (ours, residual) = filters.partition {
      case GreaterThan("id", _: Long) => true
      case GreaterThanOrEqual("id", _: Long) => true
      case LessThan("id", _: Long) => true
      case LessThanOrEqual("id", _: Long) => true
      case EqualTo("id", _: Long) => true
      case _ => false
    }
    ours.foreach {
      case GreaterThan("id", v: Long) => lo = math.max(lo, v + 1)
      case GreaterThanOrEqual("id", v: Long) => lo = math.max(lo, v)
      case LessThan("id", v: Long) => hi = math.min(hi, v)
      case LessThanOrEqual("id", v: Long) => hi = math.min(hi, v + 1)
      case EqualTo("id", v: Long) => lo = math.max(lo, v); hi = math.min(hi, v + 1)
      case _ => ()
    }
    accepted = ours
    residual // Spark evaluates everything we did not take
  }
  override def pushedFilters(): Array[Filter] = accepted

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  // Aggregate pushdown: COUNT(*) / MIN(id) / MAX(id) over the (already
  // filter-narrowed) range have CLOSED FORMS — the scan answers them with
  // one row and zero generated data. Complete pushdown, so Spark plans no
  // aggregate exec at all (only reached when every filter was absorbed,
  // which the engine enforces).
  private def idRef(e: org.apache.spark.sql.connector.expressions.Expression): Boolean =
    e match {
      case r: NamedReference => r.fieldNames.sameElements(Array("id"))
      case _ => false
    }

  private def supported(agg: Aggregation): Boolean =
    agg.groupByExpressions.isEmpty && agg.aggregateExpressions.forall {
      case _: CountStar => true
      case m: Min => idRef(m.column)
      case m: Max => idRef(m.column)
      case _ => false
    }

  override def supportCompletePushDown(agg: Aggregation): Boolean = supported(agg)

  override def pushAggregation(agg: Aggregation): Boolean =
    if (!supported(agg)) false
    else {
      pushedAgg = Some(agg.aggregateExpressions)
      true
    }

  override def build(): Scan = pushedAgg match {
    case Some(fns) => SeqAggScan(lo, math.max(lo, hi), fns, accepted)
    case None => SeqScan(lo, math.max(lo, hi), slices, required, accepted)
  }
}

/** Completely-pushed aggregate over the narrowed range: one row, computed
  * in closed form (count = hi-lo; min/max = range ends, null when empty).
  */
final case class SeqAggScan(lo: Long, hi: Long, fns: Array[AggregateFunc], pushed: Array[Filter])
    extends Scan with Batch {

  override def readSchema(): StructType =
    fns.zipWithIndex.foldLeft(new StructType()) {
      case (s, (_: CountStar, i)) => s.add(s"agg_$i", LongType, nullable = false)
      case (s, (_, i)) => s.add(s"agg_$i", LongType, nullable = true)
    }
  override def toBatch: Batch = this
  override def description(): String =
    s"GraftSeqScan AGG-PUSHED range=[$lo,$hi) aggs=[${fns.mkString(", ")}] " +
      s"pushed=[${pushed.mkString(", ")}]"

  override def planInputPartitions(): Array[InputPartition] = Array(SeqRange(lo, hi))

  override def createReaderFactory(): PartitionReaderFactory = {
    val values: Array[Any] = fns.map {
      case _: CountStar => hi - lo
      case _: Min => if (hi > lo) lo else null
      case _: Max => if (hi > lo) hi - 1 else null
      case _ => null
    }
    new PartitionReaderFactory {
      override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
        new PartitionReader[InternalRow] {
          private var emitted = false
          override def next(): Boolean = { val r = !emitted; emitted = true; r }
          override def get(): InternalRow = new GenericInternalRow(values)
          override def close(): Unit = ()
        }
    }
  }
}

final case class SeqRange(start: Long, end: Long) extends InputPartition

final case class SeqScan(
    lo: Long, hi: Long, slices: Int, required: StructType, pushed: Array[Filter])
    extends Scan with Batch
    with org.apache.spark.sql.connector.read.SupportsRuntimeFiltering
    with org.apache.spark.sql.connector.read.SupportsReportStatistics {

  /** Exact post-pushdown statistics — the range is closed-form, so joins
    * against a narrowed sequence table size-plan on real numbers (a small
    * range auto-broadcasts with no hint).
    */
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics = {
    val rows = math.max(0L, hi - lo)
    val bytes = rows * math.max(1, required.defaultSize).toLong
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong = java.util.OptionalLong.of(bytes)
      override def numRows(): java.util.OptionalLong = java.util.OptionalLong.of(rows)
    }
  }

  // Runtime filtering — the V2 analogue of dynamic partition pruning:
  // after a join's build side materializes, Spark pushes the id key set
  // here at EXECUTION time and the bracket narrows BEFORE partition
  // planning, so the probe side never generates rows outside the build
  // side's key span. Narrowing to [min, max] of the set is sound because
  // Spark re-applies the join predicate on the produced rows.
  private var rtLo: Long = lo
  private var rtHi: Long = hi

  override def filterAttributes(): Array[NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions.column("id"))

  override def filter(filters: Array[Filter]): Unit = filters.foreach {
    case org.apache.spark.sql.sources.In("id", vs) if vs.nonEmpty =>
      val ids = vs.collect { case v: Long => v }
      if (ids.nonEmpty) {
        rtLo = math.max(rtLo, ids.min)
        rtHi = math.min(rtHi, ids.max + 1)
      }
    case _ => () // other runtime filter shapes: over-generation is safe
  }

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new SeqMicroBatchStream(hi, slices)
  override def description(): String =
    s"GraftSeqScan range=[$lo,$hi) cols=${required.fieldNames.mkString(",")} " +
      s"pushed=[${pushed.mkString(", ")}]"

  override def planInputPartitions(): Array[InputPartition] = {
    val (l, h) = (rtLo, math.max(rtLo, rtHi))
    val n = math.max(1, math.min(slices.toLong, math.max(1L, h - l)).toInt)
    val span = h - l
    (0 until n).map { i =>
      SeqRange(l + span * i / n, l + span * (i + 1) / n)
    }.filter(r => r.end > r.start).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    // column codes resolved once (0=id, 1=bucket, 2=value), not per row
    val colCodes: Array[Int] = required.fieldNames.map {
      case "id" => 0
      case "bucket" => 1
      case "value" => 2
    }
    new PartitionReaderFactory {
      override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
        val SeqRange(start, end) = partition
        new PartitionReader[InternalRow] {
          private var cur = start - 1
          override def next(): Boolean = { cur += 1; cur < end }
          override def get(): InternalRow = {
            val vals = new Array[Any](colCodes.length)
            var i = 0
            while (i < colCodes.length) {
              vals(i) = colCodes(i) match {
                case 0 => cur
                case 1 => SeqSource.bucketOf(cur)
                case 2 => SeqSource.valueOf(cur)
              }
              i += 1
            }
            new GenericInternalRow(vals)
          }
          override def close(): Unit = ()
        }
      }
    }
  }
}

/** SQL-addressable catalog for the V2 connector pair: with
  * `spark.sql.catalog.graft = graft.sources.SeqCatalog`,
  *
  *  - any identifier `graft.seq_<rows>` resolves to a read-only
  *    [[SeqTable]] — plain SQL (`SELECT ... FROM graft.seq_1000000 WHERE
  *    id < k`) flows through the SAME V2 scan, so planning-time filter
  *    absorption, column pruning and aggregate pushdown all apply to SQL
  *    users too;
  *  - any other identifier is a WRITABLE [[MemTable]]: `CREATE TABLE` /
  *    `INSERT INTO` / `INSERT OVERWRITE` / `df.writeTo(...).append()` run
  *    Spark's full batch commit protocol against it (see [[MemTables]]) and
  *    `DROP TABLE` removes it. The `seq_<n>` namespace stays reserved
  *    (creation rejected) so the generated tables cannot be shadowed.
  */
object SeqCatalog {
  /** A session conf name that selects nothing: every table is
    * file-backed whatever it holds, and the catalog never reads it. Kept
    * only because the benchmark harness's session still sets it.
    */
  val DefaultStorageConf = "spark.graft.defaultTableStorage"
}

class SeqCatalog extends org.apache.spark.sql.connector.catalog.TableCatalog
    with org.apache.spark.sql.connector.catalog.StagingTableCatalog
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog
    with org.apache.spark.sql.connector.catalog.FunctionCatalog
    with org.apache.spark.sql.connector.catalog.ViewCatalog {
  import org.apache.spark.sql.connector.catalog.{Identifier, Table => CTable, TableChange, View, ViewChange, ViewInfo}
  import org.apache.spark.sql.catalyst.analysis.{NoSuchTableException, NoSuchViewException, TableAlreadyExistsException, ViewAlreadyExistsException}

  /** VIEW catalog half (Spark 4 `ViewCatalog`): `CREATE VIEW graft.v AS
    * ...` lands IN THIS CATALOG instead of falling back to the session
    * catalog — the lakehouse-owns-its-views contract. Views store the SQL
    * text plus the analysis context (catalog, namespace, schema, column
    * aliases) and are re-resolved at read, so a view over a versioned mem
    * table composes with time travel and schema evolution underneath.
    * Storage is process-wide (like [[MemTables]]), so views survive
    * session restarts within the process.
    */
  override def listViews(namespace: String*): Array[Identifier] =
    MemViews.views.keys.toArray.sorted.map(n => Identifier.of(Array.empty, n))

  override def loadView(ident: Identifier): View = {
    val key = memKey(ident)
    MemViews.views.get(key).map { v =>
      new View {
        override def name(): String = key
        override def query(): String = v.sql
        override def currentCatalog(): String = v.currentCatalog
        override def currentNamespace(): Array[String] = v.currentNamespace
        override def schema(): StructType = v.schema
        override def queryColumnNames(): Array[String] = v.queryColumnNames
        override def columnAliases(): Array[String] = v.columnAliases
        override def columnComments(): Array[String] = v.columnComments
        override def properties(): util.Map[String, String] = {
          val m = new java.util.HashMap[String, String]()
          v.properties.foreach { case (k, value) => m.put(k, value) }
          m
        }
      }
    }.getOrElse(throw new NoSuchViewException(ident))
  }

  override def viewExists(ident: Identifier): Boolean =
    MemViews.views.contains(memKey(ident))

  override def createView(info: ViewInfo): View = {
    val key = memKey(info.ident)
    // a view must not shadow a table (resolution order would silently
    // flip depending on the statement shape)
    if (tableExists(info.ident))
      throw new TableAlreadyExistsException(info.ident)
    import scala.jdk.CollectionConverters._
    val stored = MemViews.StoredView(
      info.sql, info.currentCatalog, info.currentNamespace, info.schema,
      info.queryColumnNames, info.columnAliases, info.columnComments,
      info.properties.asScala.toMap)
    if (MemViews.views.putIfAbsent(key, stored).isDefined)
      throw new ViewAlreadyExistsException(info.ident)
    loadView(info.ident)
  }

  override def alterView(ident: Identifier, changes: ViewChange*): View = {
    val key = memKey(ident)
    val v = MemViews.views.getOrElse(key, throw new NoSuchViewException(ident))
    val props = changes.foldLeft(v.properties) { (ps, c) =>
      c match {
        case s: org.apache.spark.sql.connector.catalog.ViewChange.SetProperty =>
          ps + (s.property -> s.value)
        case r: org.apache.spark.sql.connector.catalog.ViewChange.RemoveProperty =>
          ps - r.property
        case other => throw new UnsupportedOperationException(
          s"unsupported view change ${other.getClass.getSimpleName}")
      }
    }
    MemViews.views.update(key, v.copy(properties = props))
    loadView(ident)
  }

  override def dropView(ident: Identifier): Boolean =
    MemViews.views.remove(memKey(ident)).isDefined

  override def renameView(from: Identifier, to: Identifier): Unit = {
    val v = MemViews.views.getOrElse(memKey(from), throw new NoSuchViewException(from))
    if (MemViews.views.contains(memKey(to)) || tableExists(to))
      throw new ViewAlreadyExistsException(to)
    MemViews.views.put(memKey(to), v)
    MemViews.views.remove(memKey(from))
  }

  /** V2 FUNCTION catalog half — what makes `bucket(n, col)` a RESOLVABLE
    * transform: Spark's `V2ExpressionUtils` looks the function up here to
    * (a) plan the clustered write distribution of a bucket-partitioned
    * table and (b) prove two bucket-partitioned scans compatible for a
    * storage-partitioned join (canonical-name + argument equality — the
    * Iceberg SPJ contract). Also directly callable:
    * `SELECT graft.bucket(8, k)`.
    */
  override def loadFunction(ident: Identifier):
      org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    ident.name() match {
      case "bucket" => GraftBucketFunction
      case "truncate" => GraftTruncateFunction
      case unit if MemTables.TimeUnits.contains(unit) => GraftTimeFunction(unit)
      case _ => throw new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(ident)
    }
  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    (Seq("bucket", "truncate") ++ MemTables.TimeUnits)
      .map(Identifier.of(namespace, _)).toArray

  /** Catalog MAINTENANCE procedures (Spark 4 `CALL` support — the surface
    * Iceberg exposes `expire_snapshots`/`rewrite_data_files` through):
    * `CALL graft.expire_snapshots('table', olderThan)` ages history out of
    * a mem table per [[MemTables.expireSnapshots]] and returns a one-row
    * summary. Procedures are catalog-scoped, so table maintenance DDL
    * stays in SQL — no driver-side helper calls a 100 TB job can't reach.
    */
  override def loadProcedure(ident: Identifier):
      org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure =
    ident.name() match {
      case "expire_snapshots" => ExpireSnapshotsProcedure
      case "expire_older_than" => ExpireOlderThanProcedure
      case "rollback_table" => RollbackTableProcedure
      case "compact_table" => CompactTableProcedure
      case "rewrite_data_files" => RewriteDataFilesProcedure
      case "table_history" => TableHistoryProcedure
      case "create_tag" => CreateTagProcedure
      case "drop_tag" => DropTagProcedure
      case "create_branch" => CreateBranchProcedure
      case "drop_branch" => DropBranchProcedure
      case "fast_forward" => FastForwardProcedure
      case "replace_partition_spec" => ReplacePartitionSpecProcedure
      case "create_view" => CreateViewProcedure
      case "drop_view" => DropViewProcedure
      case "remove_orphan_files" => RemoveOrphanFilesProcedure
      case "unload_table" => UnloadTableProcedure
      case "create_materialized_view" => CreateMaterializedViewProcedure
      case "refresh_materialized_view" => RefreshMaterializedViewProcedure
      case "drop_materialized_view" => DropMaterializedViewProcedure
      case "materialized_views" => MaterializedViewsProcedure
      case other => throw new UnsupportedOperationException(
        s"unknown procedure $other (available: expire_snapshots, " +
          "expire_older_than, rollback_table, compact_table, rewrite_data_files, " +
          "table_history, create_tag, drop_tag, " +
          "create_branch, drop_branch, fast_forward, replace_partition_spec, " +
          "create_view, drop_view, remove_orphan_files, unload_table, " +
          "create_materialized_view, " +
          "refresh_materialized_view, drop_materialized_view)")
    }
  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    Array(
      Identifier.of(namespace, "expire_snapshots"),
      Identifier.of(namespace, "expire_older_than"),
      Identifier.of(namespace, "rollback_table"),
      Identifier.of(namespace, "compact_table"),
      Identifier.of(namespace, "rewrite_data_files"),
      Identifier.of(namespace, "table_history"),
      Identifier.of(namespace, "create_tag"),
      Identifier.of(namespace, "drop_tag"),
      Identifier.of(namespace, "create_branch"),
      Identifier.of(namespace, "drop_branch"),
      Identifier.of(namespace, "fast_forward"),
      Identifier.of(namespace, "replace_partition_spec"),
      Identifier.of(namespace, "create_view"),
      Identifier.of(namespace, "drop_view"),
      Identifier.of(namespace, "remove_orphan_files"),
      Identifier.of(namespace, "unload_table"),
      Identifier.of(namespace, "create_materialized_view"),
      Identifier.of(namespace, "refresh_materialized_view"),
      Identifier.of(namespace, "drop_materialized_view"),
      Identifier.of(namespace, "materialized_views"))

  private var catalogName: String = "graft"
  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    // `spark.sql.catalog.graft.rest-uri=http://host:port` points the
    // mutable pointer plane at a shared [[CatalogServer]] commit
    // authority (the REST-catalog shape); absent, the direct file
    // protocol stands and an earlier binding is left untouched
    Option(options.get("rest-uri")).map(_.trim).filter(_.nonEmpty)
      .foreach(MetaIO.useRestCatalog)
  }
  override def name(): String = catalogName

  /** Column DEFAULT support (`CREATE TABLE (c INT DEFAULT 5)` / `ALTER
    * TABLE ... ADD COLUMN c INT DEFAULT 5`): declaring the capability lets
    * Spark's analyzer resolve DEFAULT clauses against this catalog —
    * create-time defaults ride the column metadata (new INSERTs fill them
    * analyzer-side), ALTER-time defaults additionally become the
    * EXISTS-default pre-alter rows read ([[MemTables.defaultFor]]).
    */
  override def capabilities():
      java.util.Set[org.apache.spark.sql.connector.catalog.TableCatalogCapability] =
    java.util.EnumSet.of(
      org.apache.spark.sql.connector.catalog.TableCatalogCapability
        .SUPPORT_COLUMN_DEFAULT_VALUE)

  private val Pattern = "seq_([0-9]+)".r

  private def memKey(ident: Identifier): String =
    (ident.namespace() :+ ident.name()).mkString(".")

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    // real catalog contents (registry + disk-recoverable), not a stub:
    // SHOW TABLES must list what loadTable serves. The virtual demo
    // table appears only in the root namespace, where it actually lives.
    // in-flight CTAS staging tables are invisible: they become real only
    // at publishStaged, and listing them would leak the uncommitted name
    val mem = MemTables.listKeys().filterNot(_.startsWith("__stage_"))
      .map(_.split('.')).collect {
        case parts if java.util.Arrays.equals(
            parts.init.asInstanceOf[Array[AnyRef]],
            namespace.asInstanceOf[Array[AnyRef]]) =>
          Identifier.of(parts.init, parts.last)
      }
    val seq =
      if (namespace.isEmpty) Array(Identifier.of(namespace, "seq_1000"))
      else Array.empty[Identifier]
    seq ++ mem
  }

  override def loadTable(ident: Identifier): CTable = ident.name() match {
    case Pattern(n) => new SeqTable(n.toLong, 8)
    case _ =>
      MemTables.get(memKey(ident))
        .map(st => new MemTable(memKey(ident), st.schema))
        .orElse(branchTable(ident))
        .orElse(metaTable(ident))
        .getOrElse(throw new NoSuchTableException(ident.asInstanceOf[Identifier]))
  }

  /** Metadata-table resolution (the Iceberg `db.table.files` /
    * `db.table.partitions` convention): served only when the namespace is
    * an existing mem table — ordinary identifiers are never shadowed
    * (the mem-table lookup wins first).
    */
  private def metaTable(ident: Identifier):
      Option[org.apache.spark.sql.connector.catalog.Table] =
    if (ident.namespace().isEmpty ||
        !Set("files", "partitions", "history", "refs").contains(ident.name())) None
    else {
      val parentKey = ident.namespace().mkString(".")
      MemTables.get(parentKey).map(_ => new MemMetaTable(parentKey, ident.name()))
    }

  /** Branch-ref resolution (the Iceberg identifier convention):
    * `<table>.branch_<name>` reads/stages against the named branch —
    * served only when the parent mem table exists and carries the branch,
    * so ordinary identifiers are never shadowed. The branch table binds
    * the SCHEMA AS OF its base (staged writes must not see later alters:
    * the publish replays them onto the base era).
    */
  private def branchTable(ident: Identifier):
      Option[org.apache.spark.sql.connector.catalog.Table] =
    if (!ident.name().startsWith("branch_") || ident.namespace().isEmpty) None
    else {
      val parentKey = ident.namespace().mkString(".")
      val branch = ident.name().stripPrefix("branch_")
      MemTables.get(parentKey).flatMap { st =>
        val (branches, hist) = st.synchronized((st.branches, st.history))
        branches.get(branch).map { bs =>
          val schemaAt = hist.filter(_.version <= bs.base).last.schema
          new MemBranchTable(parentKey, branch, schemaAt, bs.base)
        }
      }
    }

  /** Time travel (`VERSION AS OF v`): resolve a mem table to a read-only
    * pinned snapshot — batches with `version <= v < removedAt`, metadata
    * from the newest timeline entry `<= v` (see [[MemTables.State]]).
    * Versions are the table's own commit/alter counter, so they are
    * deterministic per DDL/DML sequence.
    */
  override def loadTable(ident: Identifier, version: String): CTable = {
    if (Pattern.matches(ident.name()))
      throw new UnsupportedOperationException(
        "seq_<n> tables are generated and have no version history")
    val key = memKey(ident)
    val st = MemTables.get(key)
      .getOrElse(throw new NoSuchTableException(ident))
    // numeric = snapshot id; anything else = a TAG name (named snapshot
    // ref — `VERSION AS OF 'release1'`), resolved against the tag map
    val v = try version.toLong catch {
      case _: NumberFormatException =>
        st.tags.getOrElse(version,
          throw new IllegalArgumentException(
            s"'$version' is neither a numeric version nor a tag of $key " +
              s"(tags: ${if (st.tags.isEmpty) "none" else st.tags.keys.toSeq.sorted.mkString(", ")})"))
    }
    if (v < 0 || v > st.version)
      throw new IllegalArgumentException(
        s"version $v does not exist for mem table $key (current: ${st.version})")
    if (v < st.earliestVersion)
      throw new IllegalArgumentException(
        s"version $v of mem table $key is expired " +
          s"(earliest retained snapshot: ${st.earliestVersion})")
    val schemaAt = st.history.filter(_.version <= v).last.schema
    new MemTable(key, schemaAt, asOf = Some(v))
  }

  /** Time travel by wall clock (`TIMESTAMP AS OF t`, micros): resolve to
    * the newest version whose commit/alter stamp is at or before `t` —
    * the Iceberg/Delta timestamp-resolution rule — then pin that snapshot
    * exactly like `VERSION AS OF`. Asking before the table's creation is
    * an error (there is no state to read), asking after the newest stamp
    * reads the current version.
    */
  override def loadTable(ident: Identifier, timestampMicros: Long): CTable = {
    if (Pattern.matches(ident.name()))
      throw new UnsupportedOperationException(
        "seq_<n> tables are generated and have no version history")
    val key = memKey(ident)
    val st = MemTables.get(key)
      .getOrElse(throw new NoSuchTableException(ident))
    val at = st.versionTimes.filter(_._2 <= timestampMicros)
    if (at.isEmpty)
      throw new IllegalArgumentException(
        s"timestamp $timestampMicros predates mem table $key's retained history " +
          s"(earliest retained stamp: ${st.versionTimes.head._2})")
    val v = at.last._1
    if (v < st.earliestVersion)
      throw new IllegalArgumentException(
        s"timestamp $timestampMicros resolves to expired version $v of mem table $key " +
          s"(earliest retained snapshot: ${st.earliestVersion})")
    val schemaAt = st.history.filter(_.version <= v).last.schema
    new MemTable(key, schemaAt, asOf = Some(v))
  }

  override def tableExists(ident: Identifier): Boolean =
    Pattern.matches(ident.name()) || MemTables.get(memKey(ident)).isDefined

  /** Shared CREATE-shape validation (plain CREATE TABLE and the staged
    * CTAS/RTAS paths): generated-name guard, dotted-name guard, view
    * shadowing.
    */
  private def validateCreateName(ident: Identifier): Unit = {
    if (Pattern.matches(ident.name()))
      throw new UnsupportedOperationException("seq_<n> tables are generated, not created")
    // the registry keys tables by DOTTED path (namespace.name) — a quoted
    // name containing '.' would collide with a namespaced ident and be
    // misfiled by SHOW TABLES; reject loudly rather than alias silently
    if (ident.name().contains("."))
      throw new IllegalArgumentException(
        s"table name '${ident.name()}' contains '.' — use a namespace " +
          "instead (the catalog keys tables by dotted path)")
    // the mirror of createView's table-shadow check: a table behind an
    // existing view name would be unreachable (ResolveGraftViews resolves
    // reads of the shared name to the view first)
    if (MemViews.views.contains(memKey(ident)))
      throw new ViewAlreadyExistsException(ident)
  }

  override def createTable(
      ident: Identifier,
      schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): CTable = {
    validateCreateName(ident)
    val (mode, propsMap, spec) = parseSpecAndProps(partitions, properties)
    // Spark's CREATE TABLE IF NOT EXISTS handling catches exactly this
    // exception type — anything else surfaces as a crash
    if (!MemTables.create(memKey(ident), schema, mode, propsMap, spec))
      throw new TableAlreadyExistsException(ident)
    new MemTable(memKey(ident), schema)
  }

  /** Translate CREATE-statement partitioning + properties into the mem
    * plane's shape — shared by plain CREATE and the staged CTAS/RTAS
    * paths. Returns (delete mode, resolved property map, partition spec).
    */
  private def parseSpecAndProps(
      partitions: Array[Transform],
      properties: util.Map[String, String])
      : (String, Map[String, String], Seq[MemTables.PartField]) = {
    // PARTITIONED BY — identity (`PARTITIONED BY (k)`), bucket
    // (`bucket(8, k)`), the time transforms (`years(ts)`/`months`/`days`/
    // `hours`) and width truncation (`truncate(4, k)`, either argument
    // order); anything else (multi-column buckets, nested fields) is
    // honestly rejected rather than silently ignored (a dropped partition
    // spec would misreport layout)
    import org.apache.spark.sql.connector.expressions.{Literal => V2Literal}
    val spec: Seq[MemTables.PartField] = partitions.toSeq.map { t =>
      (t.name, t.arguments.toSeq) match {
        case ("identity", Seq(ref: NamedReference)) if ref.fieldNames.length == 1 =>
          MemTables.IdentityPart(ref.fieldNames.head)
        case ("bucket", Seq(lit: V2Literal[_], ref: NamedReference))
            if ref.fieldNames.length == 1 =>
          MemTables.BucketPart(lit.value.asInstanceOf[Number].intValue, ref.fieldNames.head)
        case (unit, Seq(ref: NamedReference))
            if MemTables.TimeUnits.contains(unit) && ref.fieldNames.length == 1 =>
          MemTables.TimePart(unit, ref.fieldNames.head)
        // `year`/`month`/`day`/`hour` parse as distinct transform names —
        // accept the singular spellings as aliases of the Iceberg plurals
        case (unit, Seq(ref: NamedReference))
            if MemTables.TimeUnits.contains(unit + "s") && ref.fieldNames.length == 1 =>
          MemTables.TimePart(unit + "s", ref.fieldNames.head)
        case ("truncate", Seq(lit: V2Literal[_], ref: NamedReference))
            if ref.fieldNames.length == 1 =>
          MemTables.TruncatePart(lit.value.asInstanceOf[Number].intValue, ref.fieldNames.head)
        case ("truncate", Seq(ref: NamedReference, lit: V2Literal[_]))
            if ref.fieldNames.length == 1 =>
          MemTables.TruncatePart(lit.value.asInstanceOf[Number].intValue, ref.fieldNames.head)
        case _ => throw new UnsupportedOperationException(
          "mem tables support identity, single-column bucket, " +
            "years/months/days/hours, and truncate partitioning, " +
            s"got ${t.describe}")
      }
    }
    // DELETE mode is a create-time table property (the Iceberg
    // write.delete.mode fork): copy-on-write (default) rewrites matched
    // batches; merge-on-read records positional delete vectors instead
    val mode = Option(properties.get("graft.delete-mode"))
      .getOrElse(MemTables.DeleteModeCow)
    // keep the FULL user property map so SHOW TBLPROPERTIES echoes what
    // CREATE accepted (silently dropping a property would misreport)
    import scala.jdk.CollectionConverters._
    (mode, properties.asScala.toMap, spec)
  }

  /** ATOMIC CTAS/RTAS ([[org.apache.spark.sql.connector.catalog
    * .StagingTableCatalog]]): `CREATE/REPLACE TABLE ... AS SELECT`
    * stages the write into a HIDDEN table and publishes it under the
    * real name only when the whole query succeeded
    * ([[MemTables.publishStaged]]) — a failed CTAS strands no empty
    * table, and REPLACE serves the OLD table until the instant of the
    * swap (all-or-nothing). The staged write path is the ordinary mem
    * write path; abort reclaims the staging table (files included).
    */
  override def stageCreate(
      ident: Identifier, schema: StructType, partitions: Array[Transform],
      properties: util.Map[String, String])
      : org.apache.spark.sql.connector.catalog.StagedTable =
    stageFor(ident, schema, partitions, properties, replace = false, orCreate = false)

  override def stageReplace(
      ident: Identifier, schema: StructType, partitions: Array[Transform],
      properties: util.Map[String, String])
      : org.apache.spark.sql.connector.catalog.StagedTable =
    stageFor(ident, schema, partitions, properties, replace = true, orCreate = false)

  override def stageCreateOrReplace(
      ident: Identifier, schema: StructType, partitions: Array[Transform],
      properties: util.Map[String, String])
      : org.apache.spark.sql.connector.catalog.StagedTable =
    stageFor(ident, schema, partitions, properties, replace = true, orCreate = true)

  private def stageFor(
      ident: Identifier, schema: StructType, partitions: Array[Transform],
      properties: util.Map[String, String],
      replace: Boolean, orCreate: Boolean)
      : org.apache.spark.sql.connector.catalog.StagedTable = {
    validateCreateName(ident)
    val target = memKey(ident)
    // fail the obvious cases at STAGE time (cheap, before the query
    // runs); publishStaged re-checks under the registry for races
    if (!replace && MemTables.get(target).isDefined)
      throw new TableAlreadyExistsException(ident)
    if (replace && !orCreate && MemTables.get(target).isEmpty)
      throw new NoSuchTableException(ident)
    // replacing a live MV's backing store would strand the view
    if (replace) MatViews.assertStoreDroppable(target, "REPLACE TABLE")
    val (mode, propsMap, spec) = parseSpecAndProps(partitions, properties)
    val stagingKey =
      s"__stage_${java.util.UUID.randomUUID().toString.take(8)}_$target"
    if (!MemTables.create(stagingKey, schema, mode, propsMap, spec))
      throw new IllegalStateException(s"staging name collision: $stagingKey")
    new StagedMemTable(stagingKey, target, schema, replace, orCreate)
  }

  /** Schema evolution for mem tables — ALL metadata-only swaps; committed
    * batches keep their write-time schema and scans project through the
    * era-resolved by-name rule (see [[MemTables]]):
    *
    *  - ADD COLUMNS (top-level, appended, nullable): pre-alter batches
    *    read NULL.
    *  - DROP COLUMN: tombstones the name at the alter version, so
    *    re-ADDing it later creates a NEW field (pre-drop batches read
    *    NULL, never their stale values — name-based Iceberg field-id
    *    semantics).
    *  - RENAME COLUMN: extends the field's ERA timeline — old batches
    *    keep serving their bytes under the write-time name, new writes
    *    use the new name.
    *  - ALTER COLUMN TYPE, widening only (int→bigint, float→double —
    *    [[MemTables.widens]]): old batches read through a per-value
    *    promotion; narrowing/retyping is rejected (decoding those bytes
    *    under the new type would read garbage).
    */
  override def alterTable(ident: Identifier, changes: TableChange*): CTable = {
    if (Pattern.matches(ident.name()))
      throw new UnsupportedOperationException("seq_<n> tables are generated, not alterable")
    val key = memKey(ident)
    val st = MemTables.get(key)
      .getOrElse(throw new NoSuchTableException(ident))
    def topLevel(fieldNames: Array[String]): String = {
      if (fieldNames.length != 1)
        throw new UnsupportedOperationException(
          s"mem tables only evolve top-level columns, got ${fieldNames.mkString(".")}")
      fieldNames.head
    }
    var renames = Map.empty[String, String]
    var addDefaults = Map.empty[String, Any]
    val newSchema = changes.foldLeft(st.schema) { (schema, change) =>
      change match {
        case add: TableChange.AddColumn =>
          val name = topLevel(add.fieldNames())
          if (schema.fieldNames.contains(name))
            throw new IllegalArgumentException(s"column $name already exists in $key")
          Option(add.defaultValue()) match {
            case None =>
              if (!add.isNullable)
                throw new IllegalArgumentException(
                  s"cannot add NOT NULL column $name to $key without a DEFAULT: " +
                    "rows written before the alter would read NULL")
              // nullable, no default: pre-alter rows read NULL
              schema.add(name, add.dataType(), nullable = true)
            case Some(dv) =>
              // DEFAULT: pre-alter rows read the literal (the EXISTS
              // default); the SQL text rides the column metadata so the
              // analyzer fills omitted columns on future INSERTs (the
              // CURRENT default) — the two halves of the standard contract
              val lit = Option(dv.getValue).getOrElse(
                throw new UnsupportedOperationException(
                  s"column $name of $key: only literal DEFAULTs are supported"))
              val v = if (lit.value == null) null
                else if (lit.dataType == add.dataType()) lit.value
                else if (MemTables.widens(lit.dataType, add.dataType()))
                  MemTables.widenValue(lit.value, lit.dataType, add.dataType())
                else throw new IllegalArgumentException(
                  s"DEFAULT literal type ${lit.dataType.simpleString} does not " +
                    s"match column $name's ${add.dataType().simpleString}")
              if (v == null && !add.isNullable)
                throw new IllegalArgumentException(
                  s"cannot add NOT NULL column $name with a NULL default")
              addDefaults += (name -> v)
              val meta = Option(dv.getSql) match {
                case Some(sql) => new org.apache.spark.sql.types.MetadataBuilder()
                  .putString("CURRENT_DEFAULT", sql)
                  .putString("EXISTS_DEFAULT", sql)
                  .build()
                case None => org.apache.spark.sql.types.Metadata.empty
              }
              schema.add(org.apache.spark.sql.types.StructField(
                name, add.dataType(), nullable = add.isNullable, meta))
          }
        case del: TableChange.DeleteColumn =>
          val name = topLevel(del.fieldNames())
          if (!schema.fieldNames.contains(name))
            throw new IllegalArgumentException(s"column $name does not exist in $key")
          StructType(schema.fields.filterNot(_.name == name))
        case ren: TableChange.RenameColumn =>
          val from = topLevel(ren.fieldNames())
          val to = ren.newName()
          if (!schema.fieldNames.contains(from))
            throw new IllegalArgumentException(s"column $from does not exist in $key")
          if (schema.fieldNames.contains(to))
            throw new IllegalArgumentException(s"column $to already exists in $key")
          renames += (from -> to)
          StructType(schema.fields.map(f => if (f.name == from) f.copy(name = to) else f))
        case upd: TableChange.UpdateColumnType =>
          val name = topLevel(upd.fieldNames())
          val i = schema.fieldNames.indexOf(name)
          if (i < 0)
            throw new IllegalArgumentException(s"column $name does not exist in $key")
          val from = schema.fields(i).dataType
          val to = upd.newDataType()
          if (from != to && !MemTables.widens(from, to))
            throw new UnsupportedOperationException(
              s"cannot alter $key.$name from ${from.simpleString} to ${to.simpleString}: " +
                "only widening promotions (int->bigint, float->double) are metadata-safe")
          StructType(schema.fields.map(f => if (f.name == name) f.copy(dataType = to) else f))
        case other =>
          throw new UnsupportedOperationException(
            "mem tables support ADD/DROP/RENAME COLUMN and widening " +
              s"ALTER COLUMN TYPE only, got ${other.getClass.getSimpleName}")
      }
    }
    MemTables.alterSchema(key, newSchema, renames, addDefaults)
    new MemTable(key, newSchema)
  }
  override def dropTable(ident: Identifier): Boolean = {
    // a LIVE materialized view's backing store drops only through
    // CALL graft.drop_materialized_view (an orphan store stays droppable)
    MatViews.assertStoreDroppable(memKey(ident), "DROP TABLE")
    !Pattern.matches(ident.name()) && MemTables.drop(memKey(ident))
  }

  /** `ALTER TABLE ... RENAME TO ...` — a pure registry move: batches,
    * history, refs, and the storage directory
    * are untouched; the durable metadata document re-persists under the
    * new key so disk recovery follows the rename. Views referencing the
    * OLD name fail late with an error naming the view (the pinned
    * lifecycle semantics, [[graft.plans.ResolveGraftViews]]).
    */
  override def renameTable(from: Identifier, to: Identifier): Unit = {
    if (Pattern.matches(from.name()) || Pattern.matches(to.name()))
      throw new UnsupportedOperationException("seq_<n> tables are generated, not renamable")
    // renaming a live MV's store strands the view exactly like a drop
    MatViews.assertStoreDroppable(memKey(from), "RENAME TABLE")
    // `RENAME TO graft.t2` parses the catalog name as a NAMESPACE on the
    // TO side (renames never cross catalogs, so Spark leaves it) — strip
    // the redundant self-qualification so both spellings land on one key
    val toIdent =
      if (to.namespace().sameElements(Array(name()))) Identifier.of(Array.empty, to.name())
      else to
    if (MemViews.views.contains(memKey(toIdent)))
      throw new ViewAlreadyExistsException(toIdent)
    if (!MemTables.rename(memKey(from), memKey(toIdent)))
      throw new NoSuchTableException(from)
  }
}

/** Process-wide view store backing [[SeqCatalog]]'s `ViewCatalog` half —
  * the stored shape is `ViewInfo` minus the identifier (the map key).
  */
object MemViews {
  final case class StoredView(
      sql: String, currentCatalog: String, currentNamespace: Array[String],
      schema: org.apache.spark.sql.types.StructType,
      queryColumnNames: Array[String], columnAliases: Array[String],
      columnComments: Array[String], properties: Map[String, String])
  val views: scala.collection.concurrent.TrieMap[String, StoredView] =
    scala.collection.concurrent.TrieMap.empty
}

/** The catalog's `bucket` V2 function ([[MemTables.bucketOf]] exposed to
  * Spark): `bucket(numBuckets, col) -> INT` over the stats-comparable
  * column types. One [[BoundBucket]] per column type; the canonical name
  * embeds the type, so a storage-partitioned join only matches two sides
  * whose bucket hashes provably agree.
  */
object GraftBucketFunction
    extends org.apache.spark.sql.connector.catalog.functions.UnboundFunction {
  import org.apache.spark.sql.types._
  override def name(): String = "bucket"
  override def description(): String =
    "bucket(numBuckets, col): deterministic hash bucket in [0, numBuckets)"
  override def bind(inputType: StructType):
      org.apache.spark.sql.connector.catalog.functions.BoundFunction = {
    if (inputType.fields.length != 2 || inputType.fields.head.dataType != IntegerType)
      throw new UnsupportedOperationException(
        s"bucket expects (INT numBuckets, col), got ${inputType.simpleString}")
    val colType = inputType.fields(1).dataType
    colType match {
      case LongType | IntegerType | ShortType | ByteType | StringType |
          DoubleType | FloatType | BooleanType | DateType | TimestampType |
          TimestampNTZType => BoundBucket(colType)
      case other => throw new UnsupportedOperationException(
        s"bucket does not support column type ${other.simpleString}")
    }
  }
}

/** The catalog's TIME transform functions (`years`/`months`/`days`/
  * `hours`), [[MemTables.timeOrdinalOf]] exposed to Spark — what makes a
  * time transform a RESOLVABLE expression for (a) the clustered write
  * distribution of a time-partitioned table and (b) proving two
  * time-partitioned scans compatible for a storage-partitioned join
  * (canonical-name + argument equality, the Iceberg SPJ contract). Also
  * directly callable: `SELECT graft.months(d)`.
  */
final case class GraftTimeFunction(unit: String)
    extends org.apache.spark.sql.connector.catalog.functions.UnboundFunction {
  import org.apache.spark.sql.types._
  override def name(): String = unit
  override def description(): String =
    s"$unit(col): epoch-relative $unit ordinal (1970 = 0) of a DATE/TIMESTAMP"
  override def bind(inputType: StructType):
      org.apache.spark.sql.connector.catalog.functions.BoundFunction = {
    if (inputType.fields.length != 1)
      throw new UnsupportedOperationException(
        s"$unit expects one DATE/TIMESTAMP column, got ${inputType.simpleString}")
    inputType.fields.head.dataType match {
      case DateType if unit == "hours" => throw new UnsupportedOperationException(
        "hours() of a DATE column: no sub-day resolution")
      case dt @ (DateType | TimestampType | TimestampNTZType) => BoundTime(unit, dt)
      case other => throw new UnsupportedOperationException(
        s"$unit does not support column type ${other.simpleString}")
    }
  }
}

final case class BoundTime(unit: String, colType: org.apache.spark.sql.types.DataType)
    extends org.apache.spark.sql.connector.catalog.functions.ScalarFunction[Integer] {
  import org.apache.spark.sql.types.{DataType, IntegerType}
  override def inputTypes(): Array[DataType] = Array(colType)
  override def resultType(): DataType = IntegerType
  override def name(): String = unit
  override def canonicalName(): String = s"graft.$unit(${colType.catalogString})"
  override def produceResult(input: InternalRow): Integer =
    if (input.isNullAt(0)) null
    else Integer.valueOf(MemTables.timeOrdinalOf(unit, input.get(0, colType)).get)
}

/** The catalog's `truncate` V2 function ([[MemTables.truncValueOf]]):
  * `truncate(width, col) -> col's type` — integrals floor to their
  * width-bucket, strings to their first `width` chars.
  */
object GraftTruncateFunction
    extends org.apache.spark.sql.connector.catalog.functions.UnboundFunction {
  import org.apache.spark.sql.types._
  override def name(): String = "truncate"
  override def description(): String =
    "truncate(width, col): width-bucket floor (integrals) / prefix (strings)"
  override def bind(inputType: StructType):
      org.apache.spark.sql.connector.catalog.functions.BoundFunction = {
    if (inputType.fields.length != 2 || inputType.fields.head.dataType != IntegerType)
      throw new UnsupportedOperationException(
        s"truncate expects (INT width, col), got ${inputType.simpleString}")
    inputType.fields(1).dataType match {
      case dt @ (ByteType | ShortType | IntegerType | LongType | StringType) =>
        BoundTruncate(dt)
      case other => throw new UnsupportedOperationException(
        s"truncate does not support column type ${other.simpleString}")
    }
  }
}

final case class BoundTruncate(colType: org.apache.spark.sql.types.DataType)
    extends org.apache.spark.sql.connector.catalog.functions.ScalarFunction[AnyRef] {
  import org.apache.spark.sql.types.{DataType, IntegerType}
  override def inputTypes(): Array[DataType] = Array(IntegerType, colType)
  override def resultType(): DataType = colType
  override def name(): String = "truncate"
  override def canonicalName(): String = s"graft.truncate(${colType.catalogString})"
  override def produceResult(input: InternalRow): AnyRef =
    if (input.isNullAt(1)) null
    else MemTables.truncValueOf(input.getInt(0), input.get(1, colType)).get
      .asInstanceOf[AnyRef]
}

final case class BoundBucket(colType: org.apache.spark.sql.types.DataType)
    extends org.apache.spark.sql.connector.catalog.functions.ScalarFunction[Integer] {
  import org.apache.spark.sql.types.{DataType, IntegerType}
  override def inputTypes(): Array[DataType] = Array(IntegerType, colType)
  override def resultType(): DataType = IntegerType
  override def name(): String = "bucket"
  // SPJ compatibility key: two scans' bucket transforms are co-partitioned
  // iff they resolve to the same canonical function with equal arguments
  override def canonicalName(): String = s"graft.bucket(${colType.catalogString})"
  override def isResultNullable: Boolean = false
  override def produceResult(input: InternalRow): Integer = {
    val n = input.getInt(0)
    val v = if (input.isNullAt(1)) null else input.get(1, colType)
    Integer.valueOf(MemTables.bucketOf(v, n))
  }
}

/** Shared result scaffold for the catalog's CALL procedures: a LocalScan
  * over driver-built rows, with String values auto-wrapped to UTF8String —
  * the hand-packed GenericInternalRow each procedure previously repeated
  * is exactly where a silent schema/row mismatch would hide.
  */
private[sources] object ProcedureResults {
  import org.apache.spark.sql.connector.read.{LocalScan, Scan}
  private def pack(vs: Seq[Any]): InternalRow =
    new GenericInternalRow(vs.map {
      case str: String => org.apache.spark.unsafe.types.UTF8String.fromString(str)
      case other => other
    }.toArray[Any])
  /** ONE LocalScan + row-packing definition — procedures and the metadata
    * tables both serve driver-computed rows through it, so a value-packing
    * change (new type) cannot silently diverge between them.
    */
  def localScan(desc: String, schema: StructType, rowVals: Seq[Seq[Any]]): Scan =
    new LocalScan {
      override def rows(): Array[InternalRow] = rowVals.map(pack).toArray
      override def readSchema(): StructType = schema
      override def description(): String = desc
    }
  def scan(desc: String, schema: StructType, rowVals: Seq[Seq[Any]]): java.util.Iterator[Scan] =
    java.util.Collections.singletonList[Scan](localScan(desc, schema, rowVals)).iterator()
}

/** `CALL graft.create_tag('<table>', '<tag>', <version>)` /
  * `CALL graft.drop_tag('<table>', '<tag>')` — named snapshot refs
  * ([[MemTables.createTag]]): a tag binds a name to a retained version,
  * readable as `VERSION AS OF '<tag>'`, and PINS it against
  * `expire_snapshots` until dropped. Returns the bound (tag, version).
  */
object CreateTagProcedure
    extends org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure
    with org.apache.spark.sql.connector.catalog.procedures.BoundProcedure {
  import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter}
  import org.apache.spark.sql.connector.read.{LocalScan, Scan}
  import org.apache.spark.sql.types.{LongType, StringType}

  override def name(): String = "create_tag"
  override def description(): String =
    "bind a tag name to a retained snapshot version; readable as " +
      "VERSION AS OF '<tag>' and pinned against expiry until dropped"
  override def bind(inputType: StructType): BoundProcedure = this
  override def isDeterministic: Boolean = false
  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("table", StringType).build(),
    ProcedureParameter.in("tag", StringType).build(),
    ProcedureParameter.in("version", LongType).build())

  private val outSchema = new StructType()
    .add("tag", StringType, nullable = false)
    .add("version", LongType, nullable = false)

  override def call(input: org.apache.spark.sql.catalyst.InternalRow): java.util.Iterator[Scan] = {
    val key = input.getUTF8String(0).toString
    val tag = input.getUTF8String(1).toString
    val version = input.getLong(2)
    MemTables.createTag(key, tag, version)
    ProcedureResults.scan(s"GraftCreateTag $key $tag@v$version", outSchema,
      Seq(Seq(tag, version)))
  }
}

object DropTagProcedure
    extends org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure
    with org.apache.spark.sql.connector.catalog.procedures.BoundProcedure {
  import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter}
  import org.apache.spark.sql.connector.read.{LocalScan, Scan}
  import org.apache.spark.sql.types.StringType

  override def name(): String = "drop_tag"
  override def description(): String = "remove a snapshot tag (unpins it from expiry)"
  override def bind(inputType: StructType): BoundProcedure = this
  override def isDeterministic: Boolean = false
  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("table", StringType).build(),
    ProcedureParameter.in("tag", StringType).build())

  private val outSchema = new StructType().add("dropped", StringType, nullable = false)

  override def call(input: org.apache.spark.sql.catalyst.InternalRow): java.util.Iterator[Scan] = {
    val key = input.getUTF8String(0).toString
    val tag = input.getUTF8String(1).toString
    MemTables.dropTag(key, tag)
    ProcedureResults.scan(s"GraftDropTag $key $tag", outSchema, Seq(Seq(tag)))
  }
}

/** `CALL graft.table_history('<table>')` — the DESCRIBE HISTORY surface:
  * one row per RETAINED version `(version, ts, kind)`, where `kind` is
  * the operation that created the slot (create / append / overwrite /
  * alter / delete / rewrite / delta / compact / stream-append /
  * stream-overwrite — the provenance ledger every publish writes).
  * Timestamps are the same strictly-monotone stamps `TIMESTAMP AS OF`
  * resolves against, surfaced as TIMESTAMP. Expired versions are absent —
  * the history an operator sees IS the history reads can reach.
  */
object TableHistoryProcedure
    extends org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure
    with org.apache.spark.sql.connector.catalog.procedures.BoundProcedure {
  import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter}
  import org.apache.spark.sql.connector.read.{LocalScan, Scan}
  import org.apache.spark.sql.types.{LongType, StringType, TimestampType}

  override def name(): String = "table_history"
  override def description(): String =
    "one row per retained version: (version, ts, kind) — the snapshot " +
      "timeline with operation provenance"
  override def bind(inputType: StructType): BoundProcedure = this
  override def isDeterministic: Boolean = false // reads mutable catalog state
  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("table", StringType)
      .comment("mem table key within this catalog").build())

  private val outSchema = new StructType()
    .add("version", LongType, nullable = false)
    .add("ts", TimestampType, nullable = false)
    .add("kind", StringType, nullable = false)

  override def call(input: org.apache.spark.sql.catalyst.InternalRow): java.util.Iterator[Scan] = {
    val key = input.getUTF8String(0).toString
    val st = MemTables.get(key).getOrElse(
      throw new IllegalArgumentException(s"mem table $key does not exist"))
    val (times, kinds) = st.synchronized { (st.versionTimes, st.opKinds) }
    ProcedureResults.scan(s"GraftTableHistory $key", outSchema,
      times.map { case (v, tsMicros) =>
        Seq[Any](v, tsMicros, kinds.getOrElse(v, "unknown"))
      })
  }
}

/** `CALL graft.compact_table('<table>')` — fold live batches (DV overlays
  * applied, schemas projected to current) into one fresh batch at a new
  * CDC-invisible version ([[MemTables.compact]]); a logical no-op that
  * reclaims merge-on-read read cost and small-commit fragmentation.
  * Returns `(batches_compacted, rows_written, version)`.
  */
object CompactTableProcedure
    extends org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure
    with org.apache.spark.sql.connector.catalog.procedures.BoundProcedure {
  import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter}
  import org.apache.spark.sql.connector.read.{LocalScan, Scan}
  import org.apache.spark.sql.types.LongType

  override def name(): String = "compact_table"
  override def description(): String =
    "fold live batches (delete vectors applied) into one batch at a " +
      "CDC-invisible version; zero logical change"
  override def bind(inputType: StructType): BoundProcedure = this
  override def isDeterministic: Boolean = false // mutates catalog state
  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("table", org.apache.spark.sql.types.StringType)
      .comment("mem table key within this catalog").build())

  private val outSchema = new StructType()
    .add("batches_compacted", LongType, nullable = false)
    .add("rows_written", LongType, nullable = false)
    .add("version", LongType, nullable = false)

  override def call(input: org.apache.spark.sql.catalyst.InternalRow): java.util.Iterator[Scan] = {
    val key = input.getUTF8String(0).toString
    val st = MemTables.get(key).getOrElse(
      throw new IllegalArgumentException(s"mem table $key does not exist"))
    // a DISTRIBUTED rewrite job (executor read -> streaming write ->
    // manifest publish — the same shape as rewrite_data_files with the
    // scan layout kept): a driver-side fold would pull every live file
    // through the driver
    val (nBatches, nRows, version) = MemTables.compactNoop(st).getOrElse(
      RewriteJobs.run(org.apache.spark.sql.SparkSession.active, key, ""))
    ProcedureResults.scan(s"GraftCompactTable $key", outSchema,
      Seq(Seq(nBatches, nRows, version)))
  }
}

/** `CALL graft.expire_snapshots('<table>', <older_than>)` — the retention
  * procedure ([[MemTables.expireSnapshots]]): drops timeline strictly
  * before `older_than`; expired `VERSION/TIMESTAMP AS OF` reads and
  * change windows then fail loudly while current reads and retained
  * history stay byte-identical. Bound eagerly (`bind` is identity — both
  * parameters are scalars with fixed types, Spark coerces arguments);
  * `call` runs driver-side and returns a one-row `LocalScan` summary
  * `(expired_batches, earliest_version)`, the Spark-4 procedure result
  * contract.
  */
object ExpireSnapshotsProcedure
    extends org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure
    with org.apache.spark.sql.connector.catalog.procedures.BoundProcedure {
  import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter}
  import org.apache.spark.sql.connector.read.{LocalScan, Scan}
  import org.apache.spark.sql.types.LongType

  override def name(): String = "expire_snapshots"
  override def description(): String =
    "drop mem-table history strictly before a version; reads into the " +
      "expired range fail loudly, retained history is unchanged"
  override def bind(inputType: StructType): BoundProcedure = this
  override def isDeterministic: Boolean = false // mutates catalog state
  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("table", org.apache.spark.sql.types.StringType)
      .comment("mem table key within this catalog").build(),
    ProcedureParameter.in("older_than", LongType)
      .comment("expire snapshots strictly below this version").build())

  private val outSchema = new StructType()
    .add("expired_batches", LongType, nullable = false)
    .add("earliest_version", LongType, nullable = false)

  override def call(input: org.apache.spark.sql.catalyst.InternalRow): java.util.Iterator[Scan] = {
    val key = input.getUTF8String(0).toString
    val horizon = input.getLong(1)
    val (gone, earliest) = MemTables.expireSnapshots(key, horizon)
    ProcedureResults.scan(s"GraftExpireSnapshots $key < $horizon", outSchema,
      Seq(Seq(gone, earliest)))
  }
}

/** `CALL graft.rollback_table('<table>', <version>)` — restore data
  * visibility to a retained snapshot as a new versioned operation
  * ([[MemTables.rollback]]): the Iceberg `rollback_to_snapshot` / Delta
  * `RESTORE` shape — history is never unwound, the rollback owns its own
  * ledger slot (kind `rollback`), current schema is untouched, and the
  * change feed sees ordinary remove/insert events at the rollback
  * version. Returns `(removed_batches, restored_batches, version)`.
  */
object RollbackTableProcedure
    extends org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure
    with org.apache.spark.sql.connector.catalog.procedures.BoundProcedure {
  import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter}
  import org.apache.spark.sql.connector.read.Scan
  import org.apache.spark.sql.types.LongType

  override def name(): String = "rollback_table"
  override def description(): String =
    "restore a mem table's data to a retained snapshot as a new versioned " +
      "operation; history and current schema are untouched"
  override def bind(inputType: StructType): BoundProcedure = this
  override def isDeterministic: Boolean = false // mutates catalog state
  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("table", org.apache.spark.sql.types.StringType)
      .comment("mem table key within this catalog").build(),
    ProcedureParameter.in("version", LongType)
      .comment("retained snapshot version to restore").build())

  private val outSchema = new StructType()
    .add("removed_batches", LongType, nullable = false)
    .add("restored_batches", LongType, nullable = false)
    .add("version", LongType, nullable = false)

  override def call(input: org.apache.spark.sql.catalyst.InternalRow): java.util.Iterator[Scan] = {
    val key = input.getUTF8String(0).toString
    val toVersion = input.getLong(1)
    val (removed, restored, version) = MemTables.rollback(key, toVersion)
    ProcedureResults.scan(s"GraftRollbackTable $key -> v$toVersion", outSchema,
      Seq(Seq(removed, restored, version)))
  }
}

/** `CALL graft.create_branch('<table>', '<branch>', <version>)` — fork a
  * writable branch at a retained snapshot ([[MemTables.createBranch]]):
  * reads/stages go through `<table>.branch_<name>`, publish via
  * [[FastForwardProcedure]]. The base snapshot is pinned against expiry
  * while the branch lives. Returns the bound (branch, base).
  */
/** PARTITION SPEC EVOLUTION: `CALL graft.replace_partition_spec('t',
  * 'months(d), bucket(8, k)')` — appends a new spec to the table's
  * timeline ([[MemTables.replacePartitionSpec]]); '' = unpartition future
  * writes. Metadata-only: committed batches keep their written spec and
  * tuple; `rewrite_data_files` migrates them to the current spec.
  */
object ReplacePartitionSpecProcedure
    extends org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure
    with org.apache.spark.sql.connector.catalog.procedures.BoundProcedure {
  import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter}
  import org.apache.spark.sql.connector.read.Scan
  import org.apache.spark.sql.types.{IntegerType, LongType, StringType}

  override def name(): String = "replace_partition_spec"
  override def description(): String =
    "replace a table's partition spec (metadata-only; old batches keep " +
      "their written spec, rewrite_data_files migrates them)"
  override def bind(inputType: StructType): BoundProcedure = this
  override def isDeterministic: Boolean = false
  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("table", StringType).build(),
    ProcedureParameter.in("spec", StringType).build())

  private val outSchema = new StructType()
    .add("spec_id", IntegerType, nullable = false)
    .add("spec", StringType, nullable = false)
    .add("version", LongType, nullable = false)

  override def call(input: org.apache.spark.sql.catalyst.InternalRow): java.util.Iterator[Scan] = {
    val key = input.getUTF8String(0).toString
    val specStr = input.getUTF8String(1).toString
    val spec = MemTables.parseSpec(specStr)
    val version = MemTables.replacePartitionSpec(key, spec)
    val specId = MemTables.get(key).get.currentSpecId
    ProcedureResults.scan(s"GraftReplacePartitionSpec $key [$specStr]", outSchema,
      Seq(Seq(specId, MemTables.renderSpec(spec), version)))
  }
}

/** VIEW DDL (`CALL graft.create_view('v', 'SELECT ...')` / `CALL
  * graft.drop_view('v')`): the graft catalog OWNS its views
  * ([[MemViews]], read-resolved by [[graft.plans.ResolveGraftViews]]).
  * Procedures, not `CREATE VIEW` SQL, because OSS Spark 4.1 hard-rejects
  * view DDL against any non-session catalog — the same boundary Iceberg
  * papers over with parser extensions. The SQL text is analyzed at CALL
  * time (schema recorded, bad SQL fails here, not at first read);
  * resolution at read re-parses, so views track evolving tables.
  */
object CreateViewProcedure
    extends org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure
    with org.apache.spark.sql.connector.catalog.procedures.BoundProcedure {
  import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter}
  import org.apache.spark.sql.connector.read.Scan
  import org.apache.spark.sql.types.StringType

  override def name(): String = "create_view"
  override def description(): String =
    "register a view owned by this catalog (read as <catalog>.<name>)"
  override def bind(inputType: StructType): BoundProcedure = this
  override def isDeterministic: Boolean = false
  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("name", StringType).build(),
    ProcedureParameter.in("sql", StringType).build())

  private val outSchema = new StructType()
    .add("view", StringType, nullable = false)
    .add("schema", StringType, nullable = false)

  override def call(input: org.apache.spark.sql.catalyst.InternalRow): java.util.Iterator[Scan] = {
    val viewName = input.getUTF8String(0).toString
    val sql = input.getUTF8String(1).toString
    if (viewName.isEmpty || viewName.contains("."))
      throw new IllegalArgumentException(
        s"view name '$viewName' is invalid (must be non-empty, no dots)")
    if (MemTables.get(viewName).isDefined)
      throw new IllegalArgumentException(
        s"a table named '$viewName' already exists — a view must not shadow it")
    val spark = org.apache.spark.sql.SparkSession.active
    // analyze NOW: a broken view fails its creator, not its first reader
    val schema = spark.sql(sql).schema
    // CREATE-TIME resolvability guarantees for bare (1-part) references —
    // the read-side rule re-binds them to the creator's catalog context,
    // which only works for names that MEAN a catalog table:
    //  - a temp-view dependency would mint a view readable by no one
    //    (the read-time rewrite points at a catalog table that doesn't
    //    exist) — reject, exactly Spark's own permanent-view rule;
    //  - a bare name that some CTE in the SQL ALSO defines is scope-
    //    ambiguous for the rewriter (it exempts CTE-bound names by name,
    //    not by scope) — reject and ask for qualification.
    locally {
      val parsed = spark.sessionState.sqlParser.parsePlan(sql)
      val cteNames: Set[String] = parsed.collectWithSubqueries {
        case w: org.apache.spark.sql.catalyst.plans.logical.UnresolvedWith =>
          w.cteRelations.map(_._1)
      }.flatten.toSet
      val bare = parsed.collectWithSubqueries {
        case dep: org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
            if dep.multipartIdentifier.length == 1 =>
          dep.multipartIdentifier.head
      }.distinct
      bare.foreach { n =>
        val cteBound = cteNames.exists(_.equalsIgnoreCase(n))
        val isTempView =
          spark.sessionState.catalog.getTempView(n).isDefined
        if (cteBound && isTempView)
          throw new IllegalArgumentException(
            s"view '$viewName': bare reference '$n' is both a temp view " +
              "and a CTE name — qualify or rename one")
        if (!cteBound && isTempView)
          throw new IllegalArgumentException(
            s"view '$viewName' references temporary view '$n' — a stored " +
              "view must only depend on catalog tables/views (the temp " +
              "view dies with its session); register the data as a table " +
              "or inline the query")
        if (cteBound &&
            spark.sessionState.catalogManager.currentCatalog
              .isInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog] && {
          val tc = spark.sessionState.catalogManager.currentCatalog
            .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
          try tc.tableExists(org.apache.spark.sql.connector.catalog.Identifier.of(
            spark.sessionState.catalogManager.currentNamespace, n))
          catch { case _: Exception => false }
        })
          throw new IllegalArgumentException(
            s"view '$viewName': bare reference '$n' matches both a CTE " +
              "defined in the view SQL and a catalog table — qualify the " +
              "table reference to disambiguate")
      }
    }
    // record the creator's catalog AND namespace: the read-side rule
    // re-qualifies bare table names in the stored SQL with this context,
    // so the view means the same tables no matter who reads it
    val stored = MemViews.StoredView(
      sql, spark.sessionState.catalogManager.currentCatalog.name(),
      spark.sessionState.catalogManager.currentNamespace,
      schema, schema.fieldNames, Array.empty, Array.empty, Map.empty)
    if (MemViews.views.putIfAbsent(viewName, stored).isDefined)
      throw new IllegalArgumentException(s"view '$viewName' already exists")
    ProcedureResults.scan(s"GraftCreateView $viewName", outSchema,
      Seq(Seq(viewName, schema.simpleString)))
  }
}

/** `CALL graft.remove_orphan_files('t')` — see
  * [[MemTables.removeOrphanFiles]]: deletes unreferenced parquet files
  * under a file-backed table's directory (rejected publishes and crashed
  * jobs leave them; they are invisible by construction, this reclaims the
  * bytes).
  */
object RemoveOrphanFilesProcedure
    extends org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure
    with org.apache.spark.sql.connector.catalog.procedures.BoundProcedure {
  import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter}
  import org.apache.spark.sql.connector.read.Scan
  import org.apache.spark.sql.types.{LongType, StringType}

  override def name(): String = "remove_orphan_files"
  override def description(): String =
    "delete parquet files no snapshot, branch, or stage references " +
      "and older than the grace period"
  override def bind(inputType: StructType): BoundProcedure = this
  override def isDeterministic: Boolean = false
  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("table", StringType).build(),
    // age floor (Iceberg older_than, default 3 days): unreferenced files
    // younger than this survive the sweep — an in-flight write's
    // task-committed files look orphaned until the driver publish lands
    ProcedureParameter.in("older_than_ms", LongType)
      .defaultValue(MemTables.DefaultOrphanGraceMs.toString)
      .comment("only delete unreferenced files older than this many ms")
      .build())

  private val outSchema = new StructType()
    .add("orphans_deleted", LongType, nullable = false)
    .add("files_kept", LongType, nullable = false)

  override def call(input: org.apache.spark.sql.catalyst.InternalRow): java.util.Iterator[Scan] = {
    val key = input.getUTF8String(0).toString
    val grace = input.getLong(1)
    val (orphans, kept) = MemTables.removeOrphanFiles(key, grace)
    ProcedureResults.scan(s"GraftRemoveOrphanFiles $key grace=$grace", outSchema,
      Seq(Seq(orphans, kept)))
  }
}

/** `CALL graft.unload_table('t')` — drop a file-backed table's
  * IN-MEMORY state ([[MemTables.unload]]): the parquet files and the
  * durable metadata document stay on disk and the next read recovers
  * them byte-identically (time travel, CDC, refs, branch stages
  * included). The restart-survival drill of the table format, runnable
  * without killing the JVM, and the memory valve for a long-lived
  * driver hosting many tables.
  */
object UnloadTableProcedure
    extends org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure
    with org.apache.spark.sql.connector.catalog.procedures.BoundProcedure {
  import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter}
  import org.apache.spark.sql.connector.read.Scan
  import org.apache.spark.sql.types.StringType

  override def name(): String = "unload_table"
  override def description(): String =
    "drop a file-backed table's in-memory state; disk metadata + files " +
      "remain and the next read recovers them"
  override def bind(inputType: StructType): BoundProcedure = this
  override def isDeterministic: Boolean = false
  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("table", StringType).build())

  private val outSchema = new StructType()
    .add("unloaded", StringType, nullable = false)
    .add("metadata_dir", StringType, nullable = false)

  override def call(input: org.apache.spark.sql.catalyst.InternalRow): java.util.Iterator[Scan] = {
    val key = input.getUTF8String(0).toString
    val dir = MemTables.get(key)
      .getOrElse(throw new IllegalArgumentException(s"mem table $key does not exist"))
      .storageDir
    MemTables.unload(key)
    ProcedureResults.scan(s"GraftUnloadTable $key", outSchema,
      Seq(Seq(key, dir)))
  }
}

object DropViewProcedure
    extends org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure
    with org.apache.spark.sql.connector.catalog.procedures.BoundProcedure {
  import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter}
  import org.apache.spark.sql.connector.read.Scan
  import org.apache.spark.sql.types.{BooleanType, StringType}

  override def name(): String = "drop_view"
  override def description(): String = "drop a view owned by this catalog"
  override def bind(inputType: StructType): BoundProcedure = this
  override def isDeterministic: Boolean = false
  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("name", StringType).build())

  private val outSchema = new StructType()
    .add("view", StringType, nullable = false)
    .add("dropped", BooleanType, nullable = false)

  override def call(input: org.apache.spark.sql.catalyst.InternalRow): java.util.Iterator[Scan] = {
    val viewName = input.getUTF8String(0).toString
    val dropped = MemViews.views.remove(viewName).isDefined
    if (!dropped)
      throw new IllegalArgumentException(s"view '$viewName' does not exist")
    ProcedureResults.scan(s"GraftDropView $viewName", outSchema,
      Seq(Seq(viewName, java.lang.Boolean.TRUE)))
  }
}

/** `CALL graft.create_materialized_view('<name>', '<aggregate sql>')` —
  * compute the aggregate once at the source's current version, store it
  * as the file-backed table `<name>__store`, expose it as the catalog
  * view `graft.<name>`. See [[MatViews]] for the maintainable shape and
  * the refresh protocol.
  */
object CreateMaterializedViewProcedure
    extends org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure
    with org.apache.spark.sql.connector.catalog.procedures.BoundProcedure {
  import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter}
  import org.apache.spark.sql.connector.read.Scan
  import org.apache.spark.sql.types.{LongType, StringType}

  override def name(): String = "create_materialized_view"
  override def description(): String =
    "materialize an aggregate query over a graft table; refresh " +
      "incrementally from the change feed (refresh_materialized_view)"
  override def bind(inputType: StructType): BoundProcedure = this
  override def isDeterministic: Boolean = false
  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("name", StringType).build(),
    ProcedureParameter.in("sql", StringType)
      .comment("SELECT <groups>, count/sum/avg aggregates FROM <graft table> " +
        "[WHERE ...] GROUP BY <groups>").build(),
    ProcedureParameter.in("options", StringType).defaultValue("''")
      .comment("comma-separated create options; 'auto-refresh' ties the " +
        "view to its sources' streaming epoch commits").build())

  private val outSchema = new StructType()
    .add("view", StringType, nullable = false)
    .add("store", StringType, nullable = false)
    .add("source_version", LongType, nullable = false)
    .add("rows", LongType, nullable = false)

  override def call(input: org.apache.spark.sql.catalyst.InternalRow): java.util.Iterator[Scan] = {
    val mvName = input.getUTF8String(0).toString
    val sql = input.getUTF8String(1).toString
    val options =
      if (input.numFields < 3 || input.isNullAt(2)) ""
      else input.getUTF8String(2).toString
    val spark = org.apache.spark.sql.SparkSession.active
    val (srcVersion, rows) = MatViews.create(spark, mvName, sql, options)
    ProcedureResults.scan(s"GraftCreateMaterializedView $mvName", outSchema,
      Seq(Seq(mvName, mvName + MatViews.StoreSuffix, srcVersion, rows)))
  }
}

/** `CALL graft.refresh_materialized_view('<name>')` — advance the view to
  * the source's current version: fold the change window `(watermark,
  * current]` into per-group deltas and MERGE them into the store (mode
  * `incremental`), or recompute in full when the watermark expired out of
  * source retention (mode `full`); `noop` when already current. Crash-safe
  * via the write-intent journal (see [[MatViews]]).
  */
object RefreshMaterializedViewProcedure
    extends org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure
    with org.apache.spark.sql.connector.catalog.procedures.BoundProcedure {
  import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter}
  import org.apache.spark.sql.connector.read.Scan
  import org.apache.spark.sql.types.{LongType, StringType}

  override def name(): String = "refresh_materialized_view"
  override def description(): String =
    "fold the source's change feed since the last refresh into the " +
      "materialized view (cost: the change window, not the table)"
  override def bind(inputType: StructType): BoundProcedure = this
  override def isDeterministic: Boolean = false
  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("name", StringType).build())

  private val outSchema = new StructType()
    .add("view", StringType, nullable = false)
    .add("mode", StringType, nullable = false)
    .add("from_version", LongType, nullable = false)
    .add("to_version", LongType, nullable = false)

  override def call(input: org.apache.spark.sql.catalyst.InternalRow): java.util.Iterator[Scan] = {
    val mvName = input.getUTF8String(0).toString
    val spark = org.apache.spark.sql.SparkSession.active
    val (mode, from, to) = MatViews.refresh(spark, mvName)
    ProcedureResults.scan(s"GraftRefreshMaterializedView $mvName", outSchema,
      Seq(Seq(mvName, mode, from, to)))
  }
}

/** `CALL graft.materialized_views()` — the operational listing: one row
  * per registered materialized view with its source, watermark, the
  * source's current version, FRESHNESS (watermark == current AND same
  * table identity AND no pending intent — exactly the query-rewrite
  * rule's serve condition, so `fresh=true` here means reads are being
  * answered from the store), and the store's live row count (group
  * count) from manifests. Disk-resident MVs not yet faulted in are NOT
  * listed — listing is a registry view, not a warehouse scan.
  */
object MaterializedViewsProcedure
    extends org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure
    with org.apache.spark.sql.connector.catalog.procedures.BoundProcedure {
  import org.apache.spark.sql.connector.catalog.procedures.BoundProcedure
  import org.apache.spark.sql.connector.read.Scan
  import org.apache.spark.sql.types.{BooleanType, LongType, StringType}

  override def name(): String = "materialized_views"
  override def description(): String =
    "list registered materialized views with freshness and watermarks"
  override def bind(inputType: StructType): BoundProcedure = this
  override def isDeterministic: Boolean = false
  override def parameters(): Array[org.apache.spark.sql.connector.catalog.procedures.ProcedureParameter] =
    Array.empty

  private val outSchema = new StructType()
    .add("view", StringType, nullable = false)
    .add("source", StringType, nullable = false)
    .add("watermark", LongType, nullable = false)
    .add("source_version", LongType, nullable = true)
    .add("fresh", BooleanType, nullable = false)
    .add("pending_refresh", BooleanType, nullable = false)
    .add("groups", LongType, nullable = true)

  override def call(input: org.apache.spark.sql.catalyst.InternalRow): java.util.Iterator[Scan] = {
    val rows = MatViews.registry.values.toSeq.sortBy(_.name).map { st =>
      val src = MemTables.get(st.srcKey)
      val srcVersion = src.map(s => java.lang.Long.valueOf(s.version)).orNull
      // join MVs are fresh only when EVERY source sits at its recorded
      // watermark under its recorded identity — the rule's serve condition
      val joinsFresh = st.joins.forall(j => MemTables.get(j.key).exists(s =>
        j.watermark == s.version && (j.uuid.isEmpty || j.uuid == s.tableUuid)))
      val fresh = src.exists(s => st.pending.isEmpty &&
        st.watermark == s.version &&
        (st.srcTableUuid.isEmpty || st.srcTableUuid == s.tableUuid)) && joinsFresh
      val groups = MemTables.get(st.storeKey).map(s => java.lang.Long.valueOf(
        s.batches.filter(_.removedAt == Long.MaxValue).map(_.rowCount.toLong).sum)).orNull
      val sources = (st.srcKey +: st.joins.map(_.key)).mkString(",")
      Seq(st.name, sources, st.watermark, srcVersion,
        java.lang.Boolean.valueOf(fresh),
        java.lang.Boolean.valueOf(st.pending.isDefined), groups)
    }
    ProcedureResults.scan("GraftMaterializedViews", outSchema, rows)
  }
}

/** `CALL graft.drop_materialized_view('<name>')` — drop the catalog view,
  * the registry entry, and the backing store table (files included).
  */
object DropMaterializedViewProcedure
    extends org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure
    with org.apache.spark.sql.connector.catalog.procedures.BoundProcedure {
  import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter}
  import org.apache.spark.sql.connector.read.Scan
  import org.apache.spark.sql.types.{BooleanType, StringType}

  override def name(): String = "drop_materialized_view"
  override def description(): String =
    "drop a materialized view and its backing store table"
  override def bind(inputType: StructType): BoundProcedure = this
  override def isDeterministic: Boolean = false
  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("name", StringType).build())

  private val outSchema = new StructType()
    .add("view", StringType, nullable = false)
    .add("dropped", BooleanType, nullable = false)

  override def call(input: org.apache.spark.sql.catalyst.InternalRow): java.util.Iterator[Scan] = {
    val mvName = input.getUTF8String(0).toString
    val dropped = MatViews.drop(mvName)
    if (!dropped)
      throw new IllegalArgumentException(s"materialized view '$mvName' does not exist")
    ProcedureResults.scan(s"GraftDropMaterializedView $mvName", outSchema,
      Seq(Seq(mvName, java.lang.Boolean.TRUE)))
  }
}

object CreateBranchProcedure
    extends org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure
    with org.apache.spark.sql.connector.catalog.procedures.BoundProcedure {
  import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter}
  import org.apache.spark.sql.connector.read.Scan
  import org.apache.spark.sql.types.{LongType, StringType}

  override def name(): String = "create_branch"
  override def description(): String =
    "fork a writable branch at a retained snapshot; stage appends via " +
      "<table>.branch_<name>, publish with fast_forward"
  override def bind(inputType: StructType): BoundProcedure = this
  override def isDeterministic: Boolean = false
  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("table", StringType).build(),
    ProcedureParameter.in("branch", StringType).build(),
    ProcedureParameter.in("version", LongType).build())

  private val outSchema = new StructType()
    .add("branch", StringType, nullable = false)
    .add("base", LongType, nullable = false)

  override def call(input: org.apache.spark.sql.catalyst.InternalRow): java.util.Iterator[Scan] = {
    val key = input.getUTF8String(0).toString
    val branch = input.getUTF8String(1).toString
    val version = input.getLong(2)
    MemTables.createBranch(key, branch, version)
    ProcedureResults.scan(s"GraftCreateBranch $key $branch@v$version", outSchema,
      Seq(Seq(branch, version)))
  }
}

object DropBranchProcedure
    extends org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure
    with org.apache.spark.sql.connector.catalog.procedures.BoundProcedure {
  import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter}
  import org.apache.spark.sql.connector.read.Scan
  import org.apache.spark.sql.types.StringType

  override def name(): String = "drop_branch"
  override def description(): String =
    "discard a branch and its staged appends (the write-audit-publish fail path)"
  override def bind(inputType: StructType): BoundProcedure = this
  override def isDeterministic: Boolean = false
  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("table", StringType).build(),
    ProcedureParameter.in("branch", StringType).build())

  private val outSchema = new StructType().add("dropped", StringType, nullable = false)

  override def call(input: org.apache.spark.sql.catalyst.InternalRow): java.util.Iterator[Scan] = {
    val key = input.getUTF8String(0).toString
    val branch = input.getUTF8String(1).toString
    MemTables.dropBranch(key, branch)
    ProcedureResults.scan(s"GraftDropBranch $key $branch", outSchema, Seq(Seq(branch)))
  }
}

/** `CALL graft.fast_forward('<table>', '<branch>')` — publish a branch's
  * staged appends onto main, one ordinary commit version per append, then
  * drop the ref ([[MemTables.fastForward]]). Rejected when main moved past
  * the branch base (diverged). Returns (published_appends, version).
  */
object FastForwardProcedure
    extends org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure
    with org.apache.spark.sql.connector.catalog.procedures.BoundProcedure {
  import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter}
  import org.apache.spark.sql.connector.read.Scan
  import org.apache.spark.sql.types.{LongType, StringType}

  override def name(): String = "fast_forward"
  override def description(): String =
    "publish a branch's staged appends onto main (one version per append) " +
      "and drop the ref; rejected when main has diverged from the base"
  override def bind(inputType: StructType): BoundProcedure = this
  override def isDeterministic: Boolean = false
  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("table", StringType).build(),
    ProcedureParameter.in("branch", StringType).build())

  private val outSchema = new StructType()
    .add("published_appends", LongType, nullable = false)
    .add("version", LongType, nullable = false)

  override def call(input: org.apache.spark.sql.catalyst.InternalRow): java.util.Iterator[Scan] = {
    val key = input.getUTF8String(0).toString
    val branch = input.getUTF8String(1).toString
    val (published, version) = MemTables.fastForward(key, branch)
    ProcedureResults.scan(s"GraftFastForward $key $branch", outSchema,
      Seq(Seq(published, version)))
  }
}

/** `CALL graft.expire_older_than('<table>', TIMESTAMP '<instant>')` — the
  * duration form of retention ([[MemTables.expireSnapshotsOlderThan]]):
  * snapshots stamped strictly before the instant expire (the newest
  * version always survives); tag and branch pins are enforced identically
  * to the version form. Returns (expired_batches, earliest_version).
  */
object ExpireOlderThanProcedure
    extends org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure
    with org.apache.spark.sql.connector.catalog.procedures.BoundProcedure {
  import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter}
  import org.apache.spark.sql.connector.read.Scan
  import org.apache.spark.sql.types.{LongType, StringType, TimestampType}

  override def name(): String = "expire_older_than"
  override def description(): String =
    "expire snapshots stamped strictly before a wall-clock instant " +
      "(the newest version always survives); tags and branches pin"
  override def bind(inputType: StructType): BoundProcedure = this
  override def isDeterministic: Boolean = false
  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("table", StringType).build(),
    ProcedureParameter.in("older_than", TimestampType)
      .comment("instant (internal micros) before which snapshots expire").build())

  private val outSchema = new StructType()
    .add("expired_batches", LongType, nullable = false)
    .add("earliest_version", LongType, nullable = false)

  override def call(input: org.apache.spark.sql.catalyst.InternalRow): java.util.Iterator[Scan] = {
    val key = input.getUTF8String(0).toString
    val tsMicros = input.getLong(1)
    val (gone, earliest) = MemTables.expireSnapshotsOlderThan(key, tsMicros)
    ProcedureResults.scan(s"GraftExpireOlderThan $key < $tsMicros", outSchema,
      Seq(Seq(gone, earliest)))
  }
}

/** `CALL graft.rewrite_data_files('<table>', '<sort_by>')` — DISTRIBUTED
  * (and optionally SORTED/CLUSTERED) compaction, the scale form of
  * `compact_table`: the current snapshot is read through the ordinary V2
  * scan AS A SPARK JOB (delete vectors, equality deletes, renames and
  * widenings all applied by the read path itself), range-partitioned on
  * `sort_by` (comma-separated; '' = keep the scan partitioning) and sorted
  * within partitions, task-buffered, and published atomically at one
  * CDC-invisible version ([[MemTables.publishCompaction]]) with fresh
  * per-batch column bounds. Sorting + bounds compose into the
  * cluster-then-prune story: a post-rewrite selective read plans only the
  * range partitions whose bounds admit the predicate. An interleaved
  * commit rejects the publish (optimistic concurrency). Returns
  * `(batches_compacted, rows_written, version)`.
  */
object RewriteDataFilesProcedure
    extends org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure
    with org.apache.spark.sql.connector.catalog.procedures.BoundProcedure {
  import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter}
  import org.apache.spark.sql.connector.read.Scan
  import org.apache.spark.sql.types.{LongType, StringType}

  override def name(): String = "rewrite_data_files"
  override def description(): String =
    "compact the table with a distributed rewrite job, optionally " +
      "range-clustered on a sort key (composes with data skipping)"
  override def bind(inputType: StructType): BoundProcedure = this
  override def isDeterministic: Boolean = false
  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("table", StringType).build(),
    ProcedureParameter.in("sort_by", StringType)
      .comment("comma-separated sort columns, 'zorder(a, b)' for " +
        "multi-dimensional clustering, or '' to keep the scan layout").build())

  private val outSchema = new StructType()
    .add("batches_compacted", LongType, nullable = false)
    .add("rows_written", LongType, nullable = false)
    .add("version", LongType, nullable = false)

  override def call(input: org.apache.spark.sql.catalyst.InternalRow): java.util.Iterator[Scan] = {
    val key = input.getUTF8String(0).toString
    val sortBy = input.getUTF8String(1).toString
    val spark = org.apache.spark.sql.SparkSession.active
    val (nBatches, nRows, version) = RewriteJobs.run(spark, key, sortBy)
    ProcedureResults.scan(s"GraftRewriteDataFiles $key sort=[$sortBy]", outSchema,
      Seq(Seq(nBatches, nRows, version)))
  }
}

/** The DISTRIBUTED REWRITE JOB shared by `rewrite_data_files` and
  * `compact_table`-on-file-backed-tables: scan the current snapshot
  * through the ordinary read path (delete vectors, equality deletes, and
  * era projection all apply — the output IS the logical table), optionally
  * re-cluster, write per task (STREAMING into parquet files on the
  * file-backed plane), and publish atomically at one CDC-invisible
  * version with optimistic concurrency.
  *
  * `sortBy` forms:
  *  - `''` — keep the scan layout (pure compaction);
  *  - `'a, b'` — range-cluster + sort (establishes the table sort order,
  *    composes with min/max skipping and merge joins);
  *  - `'zorder(a, b)'` — MULTI-DIMENSIONAL clustering on the Morton
  *    interleave ([[graft.functions.ZOrder2]]): batches become
  *    Z-range-disjoint, so per-column min/max bounds tighten on BOTH
  *    dimensions and range predicates on either column prune — the
  *    100 TB layout for two-column scan patterns a single-column sort
  *    cannot serve. No linear sort order is claimed (rows are not sorted
  *    by either column alone).
  */
private[sources] object RewriteJobs {

  // per-table in-flight guard: a compaction triggered by one commit must
  // not stack behind another (the rewrite is optimistic-concurrency and
  // a loser would just burn a job)
  private val autoCompactInFlight =
    scala.collection.concurrent.TrieMap.empty[String, java.util.concurrent.atomic.AtomicBoolean]

  /** Threshold-triggered small-file compaction
    * ([[MemTables.AutoCompactProp]]): called by the write paths after a
    * commit, no monitor held. Metadata-only until the trigger fires;
    * then one distributed rewrite (scan layout kept — or the declared
    * sort order re-established, keeping the sorted claim alive across
    * maintenance). A failure logs and defers — compaction is only ever
    * deferred maintenance, never a correctness event.
    */
  def maybeAutoCompact(key: String): Unit = {
    val st = MemTables.get(key).getOrElse(return)
    val threshold = st.createProps.get(MemTables.AutoCompactProp)
      .flatMap(s => scala.util.Try(s.trim.toInt).toOption).getOrElse(0)
    // DV-density trigger ([[MemTables.AutoCompactDeadRatioProp]]): fold
    // when delete-vector-dead rows exceed the declared fraction of the
    // live batches' stored rows — the file-count trigger never fires on
    // a heavily-deleted but well-compacted table
    val maxDeadRatio = st.createProps.get(MemTables.AutoCompactDeadRatioProp)
      .flatMap(s => scala.util.Try(s.trim.toDouble).toOption)
      .filter(r => r > 0.0 && r <= 1.0)
    if (threshold <= 0 && maxDeadRatio.isEmpty) return
    val (live, deadRows, storedRows) = st.synchronized {
      val lv = st.batches.filter(_.removedAt == Long.MaxValue)
      (lv.size, lv.iterator.map(_.dv.size.toLong).sum,
        lv.iterator.map(_.rowCount.toLong).sum)
    }
    val fileTrigger = threshold > 0 && live >= threshold
    val dvTrigger = maxDeadRatio.exists(r =>
      storedRows > 0 && deadRows.toDouble / storedRows >= r)
    if (!fileTrigger && !dvTrigger) return
    val flag = autoCompactInFlight.getOrElseUpdate(
      key, new java.util.concurrent.atomic.AtomicBoolean(false))
    if (!flag.compareAndSet(false, true)) return
    try {
      org.apache.spark.sql.SparkSession.getActiveSession
        .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
        .foreach { spark =>
          try { run(spark, key, st.declaredSortOrder.mkString(", ")); () }
          catch {
            case e: Exception => System.err.println(
              s"graft: auto-compaction of $key failed (deferred to the " +
                s"next trigger): ${e.getMessage}")
          }
        }
    } finally flag.set(false)
  }

  /** Parse `zorder(a, b)` into its two columns; None for other forms. */
  def parseZOrder(sortBy: String): Option[(String, String)] = {
    val m = """(?i)^\s*zorder\s*\(([^,()]+),([^,()]+)\)\s*$""".r
    sortBy match {
      case m(a, b) => Some((a.trim, b.trim))
      case _ => None
    }
  }

  def run(spark: org.apache.spark.sql.SparkSession, key: String,
      sortBy: String): (Long, Long, Long) = {
    val st = MemTables.get(key).getOrElse(
      throw new IllegalArgumentException(s"mem table $key does not exist"))
    // conflict-check version + schema, one consistent snapshot
    val (expected, schema) = st.synchronized((st.version, st.schema))
    val zorder = parseZOrder(sortBy)
    val sortCols =
      if (zorder.isDefined) Array.empty[String]
      else sortBy.split(',').map(_.trim).filter(_.nonEmpty)
    (sortCols.toSeq ++ zorder.toSeq.flatMap(z => Seq(z._1, z._2))).foreach { c =>
      if (!schema.fieldNames.contains(c))
        throw new IllegalArgumentException(s"sort column $c does not exist in $key")
    }
    zorder.foreach { case (a, b) =>
      if (st.partitioning.nonEmpty)
        throw new IllegalArgumentException(
          s"zorder($a, $b): $key is partitioned — z-ordering clusters the " +
            "whole table and would split partition tuples across tasks; " +
            "use a plain sorted rewrite, which clusters within the layout")
      import org.apache.spark.sql.types._
      Seq(a, b).foreach { c =>
        schema.fields.find(_.name == c).get.dataType match {
          case ByteType | ShortType | IntegerType | LongType | DateType |
              TimestampType | TimestampNTZType => ()
          case other => throw new IllegalArgumentException(
            s"zorder($a, $b): column $c has type ${other.simpleString} — " +
              "z-ordering needs integral/date/timestamp columns")
        }
      }
    }
    // resolve this catalog's registered name so the rewrite reads through
    // the same SQL surface (and therefore the same scan) as any user query
    val catalogName = spark.conf.getAll.collectFirst {
      case (k, v) if k.startsWith("spark.sql.catalog.") &&
        v == classOf[SeqCatalog].getName =>
        k.stripPrefix("spark.sql.catalog.")
    }.getOrElse(throw new IllegalStateException(
      "rewrite_data_files requires the SeqCatalog to be registered"))
    import org.apache.spark.sql.functions.{col, expr}
    var df = spark.table(s"$catalogName.`$key`")
    // BIGINT ordinal per whitelisted type: ANSI (the session default)
    // forbids casting DATE/TIMESTAMP_NTZ to numerics, so date-ish columns
    // go through their epoch functions instead of a bare cast
    def ordinalSql(c: String): String = {
      import org.apache.spark.sql.types._
      schema.fields.find(_.name == c).get.dataType match {
        case DateType => s"unix_date(`$c`)"
        case TimestampType => s"unix_micros(`$c`)"
        case TimestampNTZType => s"unix_micros(cast(`$c` as timestamp))"
        case _ => s"cast(`$c` as bigint)"
      }
    }
    zorder.foreach { case (a, b) =>
      // scale each column into a 2^21-bin ordinal RELATIVE TO ITS OBSERVED
      // RANGE (one cheap min/max agg; integer `div`, so exact), then take
      // the Morton interleave as the cluster key: range-disjoint Z-buckets
      // per task, rows Z-sorted within — the per-batch min/max bounds
      // tighten on BOTH source columns, which is the whole point. A fixed
      // bit-slice instead of range scaling would collapse any domain much
      // narrower than 64 bits into one bucket.
      // outer cast keeps getLong valid for INT-typed ordinals (unix_date)
      val mm = df.selectExpr(
        s"cast(min(${ordinalSql(a)}) as bigint)", s"cast(max(${ordinalSql(a)}) as bigint)",
        s"cast(min(${ordinalSql(b)}) as bigint)", s"cast(max(${ordinalSql(b)}) as bigint)").head()
      if (!mm.isNullAt(0) && !mm.isNullAt(2)) {
        val Bins = 1L << 21
        def widthOf(mn: Long, mx: Long): Long =
          math.max(1L, ((BigInt(mx) - BigInt(mn)) / Bins + 1).toLong)
        val (minA, minB) = (mm.getLong(0), mm.getLong(2))
        val (wA, wB) = (widthOf(minA, mm.getLong(1)), widthOf(minB, mm.getLong(3)))
        val n = spark.conf.get("spark.sql.shuffle.partitions").toInt
        val z = graft.functions.ZOrder2.zorder2(
          expr(s"(${ordinalSql(a)} - ($minA)) div $wA"),
          expr(s"(${ordinalSql(b)} - ($minB)) div $wB"))
        df = df.withColumn("__graft_z", z)
          .repartitionByRange(n, col("__graft_z"))
          .sortWithinPartitions(col("__graft_z"))
          .drop("__graft_z")
      }
    }
    val partSpec = st.partitioning
    def partExprs = partSpec.map {
      case MemTables.IdentityPart(c) => col(c)
      case MemTables.BucketPart(nb, c) => expr(s"`$catalogName`.bucket($nb, `$c`)")
      case MemTables.TimePart(unit, c) => expr(s"`$catalogName`.$unit(`$c`)")
      case MemTables.TruncatePart(w, c) => expr(s"`$catalogName`.truncate($w, `$c`)")
    }
    if (sortCols.nonEmpty) {
      // EXPLICIT partition count: a user-specified repartition is exempt
      // from AQE's small-partition coalescing, so the clustering
      // granularity (number of output batches) is deterministic
      val n = spark.conf.get("spark.sql.shuffle.partitions").toInt
      if (partSpec.isEmpty)
        // unpartitioned: range-cluster on the sort key — batches become
        // range-DISJOINT, composing with data skipping (cluster-then-prune)
        df = df.repartitionByRange(n, sortCols.map(col): _*)
          .sortWithinPartitions(sortCols.map(col): _*)
      else {
        // partitioned: hash-shuffle by the PARTITION EXPRESSIONS so each
        // tuple lands wholly in one task (a range shuffle on the sort key
        // could straddle a tuple across tasks, splitting it into two
        // batches and voiding the one-batch-per-tuple guarantee the
        // reported ordering and the key-grouped join both ride), then
        // sort the task — every per-tuple subsequence of a sorted task
        // is itself sorted
        df = df.repartition(n, partExprs: _*)
          .sortWithinPartitions(sortCols.map(col): _*)
      }
    } else if (zorder.isEmpty) {
      // PURE COMPACTION must actually FOLD: the scan yields one split per
      // input file, and writing that back 1:1 would preserve exactly the
      // fragmentation the operation exists to remove. Partitioned tables
      // hash-cluster whole tuples per task (the task writer splits per
      // tuple, so the output is ~one file per tuple); unpartitioned
      // tables coalesce to the row-target-derived count
      // (`spark.graft.compact.target-rows`, a per-file size proxy —
      // at gate scale that is one file, at 100 TB a real fan-out).
      if (partSpec.nonEmpty) {
        val n = spark.conf.get("spark.sql.shuffle.partitions").toInt
        df = df.repartition(n, partExprs: _*)
      } else {
        val totalRows = st.synchronized(
          st.batches.filter(_.removedAt == Long.MaxValue)
            .map(_.rowCount.toLong).sum)
        val target = math.max(1L, spark.conf
          .getAll.getOrElse("spark.graft.compact.target-rows", "1048576").toLong)
        val shuffleN = spark.conf.get("spark.sql.shuffle.partitions").toInt
        val outputN = math.max(1L,
          math.min((totalRows + target - 1) / target, shuffleN.toLong)).toInt
        df = df.coalesce(outputN)
      }
    }
    // the write-task protocol, inline: each task SPLITS, WRITES its
    // parquet files, and computes stats IN THE EXECUTOR; the driver
    // collects only MANIFESTS — publish cost tracks the manifest count,
    // never the data (the 100 TB rewrite shape)
    val pw = MemParquetWrite(st.storageDir, schema, st.partitioning,
      st.currentSpecId, st.bloomCols)
    val payloads: Seq[MemTables.TaskPayload] = df.queryExecution.toRdd
      .mapPartitionsWithIndex { (pid, it) =>
        // STREAMING write: rows flow straight into per-tuple open writers
        // ([[TaskFileWriter]]) — the task never buffers its partition, so
        // the rewrite's memory ceiling is writer state regardless of
        // partition size (the 100 TB shape)
        val files = new TaskFileWriter(pw, s"rewrite-$pid")
        try {
          it.foreach(files.write)
          if (files.isEmpty) Iterator.empty
          else Iterator(MemTables.FilesPayload(files.finish()): MemTables.TaskPayload)
        } catch { case e: Throwable => files.abort(); throw e }
      }
      .collect().toSeq
    MemTables.publishCompaction(key, expected, schema, payloads, sortCols.toSeq)
  }
}

/** A staged CTAS/RTAS table ([[SeqCatalog.stageCreate]]): writes land in
  * a hidden staging mem table through the ordinary write path; the
  * target name changes only when Spark calls `commitStagedChanges` after
  * the whole query succeeded — published atomically as a registry re-key
  * ([[MemTables.publishStaged]]). Abort reclaims the staging table and
  * its files; the target is untouched on every failure path.
  */
final class StagedMemTable(
    stagingKey: String, targetKey: String, tableSchema: StructType,
    replace: Boolean, orCreate: Boolean)
    extends org.apache.spark.sql.connector.catalog.StagedTable
    with org.apache.spark.sql.connector.catalog.SupportsWrite {
  private val inner = new MemTable(stagingKey, tableSchema)
  override def name(): String = targetKey
  override def schema(): StructType = tableSchema
  override def partitioning(): Array[Transform] = inner.partitioning()
  override def properties(): util.Map[String, String] = inner.properties()
  override def capabilities(): util.Set[TableCapability] = inner.capabilities()
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    inner.newWriteBuilder(info)
  override def commitStagedChanges(): Unit =
    MemTables.publishStaged(stagingKey, targetKey, replace, orCreate)
  override def abortStagedChanges(): Unit = {
    MemTables.drop(stagingKey)
    ()
  }
}
