package graft.sources

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import scala.collection.concurrent.TrieMap

/** The WRITE half of the V2 connector surface ([[SeqSource]] is the read
  * half): a file-backed table hosting Spark's full batch commit protocol —
  * `SupportsWrite` → `WriteBuilder` (+truncate) → `BatchWrite` →
  * `DataWriterFactory` → per-task `DataWriter` → `WriterCommitMessage` →
  * driver-side atomic `commit`.
  *
  * The table state (manifests, versions, refs) is a driver map backed by
  * a durable metadata document; the rows are parquet files under the
  * table directory. The CONTRACT is implemented exactly as a real
  * external sink must:
  *
  *  - every write task writes its files and ships their MANIFESTS inside
  *    its commit message — nothing becomes visible at task end;
  *  - only the driver's `commit(messages)` publishes, atomically, the one
  *    message Spark chose per task — a speculative twin or retried attempt
  *    produces a message that is simply never committed (its files are
  *    reclaimed on abort), so at-least-once task execution still yields
  *    exactly-once table contents;
  *  - `truncate` composes with the same protocol (INSERT OVERWRITE /
  *    `writeTo.overwrite`): the old contents are replaced in the SAME
  *    atomic publish, never observable half-swapped;
  *  - reads snapshot the committed batches at planning time and ship each
  *    batch's file PATH in its `InputPartition` (executors stream the
  *    file), one partition per committed batch;
  *  - SCHEMA EVOLUTION (`ALTER TABLE ... ADD/DROP COLUMNS`) follows the
  *    table-format contract (Iceberg-style): an alter rewrites METADATA
  *    only — every committed batch stays tagged with the schema it was
  *    written under, and scans project each batch into the scan-bound
  *    schema by NAME at read time (missing column → null, dropped column →
  *    skipped). No data rewrite, which is the only viable alter at 100 TB.
  *    Rename/type-change are rejected: name-based projection cannot track
  *    them without per-field ids, and claiming them would read garbage.
  */
object MemTables {

  /** One committed write batch: the rows plus the schema they were encoded
    * under (the InternalRow decode contract for those rows, forever) and
    * two version tags with distinct roles:
    *
    *  - `version` — when the batch became VISIBLE (snapshot/CDC clock:
    *    a batch exists in `AS OF v` iff `version <= v < removedAt`);
    *  - `writeVersion` — when its rows' bytes were WRITTEN (tombstone
    *    clock: a field whose name was dropped at-or-after `writeVersion`
    *    must not satisfy a later re-added column — the name-based
    *    equivalent of Iceberg field ids).
    *
    * They coincide for ordinary commits and diverge for DELETE rewrites,
    * where a survivor batch becomes visible at the delete's version but
    * still carries bytes written under the original batch's schema era.
    *
    * `dv` is the batch's POSITIONAL DELETE VECTOR (merge-on-read tables
    * only): row position -> version the row was deleted at. A DV delete
    * never copies rows — the overlay is applied at read time against the
    * scan's bound version (`dv(pos) <= v` hides the row), so old
    * snapshots keep seeing the row and the write cost of a DELETE is the
    * vector, not the batch.
    *
    * `batchId` is the batch's UNIQUE identity (monotone per table,
    * assigned at publish): versions are shared by every task batch of one
    * commit, so the row id of the delta-based DML path —
    * `(_batch_id, _batch_pos)` — anchors on it, the mem-table analogue of
    * Iceberg's `(_file, _pos)`.
    */
  /** Where one committed batch's ROWS live: an executor- or driver-written
    * parquet file under the table directory. The driver holds only this
    * manifest entry (path + count; bounds/tuple live on [[TaggedBatch]]),
    * scans ship the PATH and executors stream the rows, so neither publish
    * nor read ever materializes data driver-side. `rows` loads the file —
    * only content-inspecting maintenance paths use it (equality-delete
    * probes, sessionless DELETE row evaluation, `compact_table`'s fold),
    * each documented gate-scale at its call site.
    */
  final case class FileStore(path: String, count: Int, schema: StructType,
      sorted: Boolean = false) {
    // `sorted` = verified sorted by the table's declared order AT WRITE
    // (task-side for executor files, publish-side for driver files): the
    // claim maintenance consults it so a sorted ingest never reads its
    // just-written files back through the driver. Transient to this
    // publish — never persisted (the table-level claim is).
    @transient private lazy val loaded: Array[InternalRow] =
      ParquetRows.read(path, schema)
    def rows: Array[InternalRow] = loaded
  }

  final case class TaggedBatch(
      schema: StructType, version: Long, writeVersion: Long,
      store: FileStore, removedAt: Long = Long.MaxValue,
      dv: Map[Int, Long] = Map.empty, batchId: Long = -1L,
      stats: Map[String, ColStats] = Map.empty,
      part: Seq[Any] = Nil, specId: Int = 0) {
    /** Row count — metadata, never loads a file-backed store. */
    def rowCount: Int = store.count
    /** Row CONTENT — loads a file-backed store (driver maintenance paths
      * only; the scan ships the path instead).
      */
    def rows: Array[InternalRow] = store.rows
    /** Positions hidden at snapshot version `v` (current = Long.MaxValue). */
    def deadAt(v: Long): Set[Int] =
      if (dv.isEmpty) Set.empty
      else dv.collect { case (pos, at) if at <= v => pos }.toSet
  }

  /** One field of a table's PARTITION SPEC (`CREATE TABLE ... PARTITIONED
    * BY (...)`) — the transforms a mem table hosts (the Iceberg transform
    * set):
    *
    *  - [[IdentityPart]] — hive-style value partitioning: every batch holds
    *    rows of ONE column value;
    *  - [[BucketPart]] — hash bucketing: rows land in `pmod(hash(col), n)`,
    *    bounding the partition count regardless of key cardinality (the
    *    high-cardinality layout every co-located 100 TB join uses);
    *  - [[TimePart]] — `years`/`months`/`days`/`hours` of a DATE or
    *    TIMESTAMP column as an epoch-relative ordinal (1970 = 0, Iceberg's
    *    convention). THE dominant 100 TB layout: data arrives by time, is
    *    queried by time range, and ages out by time — and because the
    *    transform is MONOTONE in the source value, a raw range predicate on
    *    the source column (`o_date BETWEEN x AND y`) prunes partition
    *    tuples exactly, no derived column needed (the reference
    *    materializes a `year` column for its hive layout,
    *    `jobs/io_utils.py:101,105` — this is that layout made first-class);
    *  - [[TruncatePart]] — width-truncation: integrals floor to
    *    `floorDiv(v, w) * w`, strings to their first `w` chars. Also
    *    monotone, so range predicates prune (the coarse-key layout for
    *    id-range and prefix locality).
    *
    * Partition values are stored per batch ([[TaggedBatch.part]]) — the
    * manifest-level partition tuple of a real table format — and drive
    * three planner integrations: exact partition PRUNING at scan planning
    * (stronger than min/max bounds for bucketing: `k = 5` keeps one bucket
    * even though each bucket's k-range spans the domain; equal to them for
    * the monotone transforms, which also serve when per-column bounds are
    * absent), storage-partitioned JOINS (the scan reports
    * `KeyGroupedPartitioning`, so two co-partitioned tables join with ZERO
    * shuffle), and clustered WRITE distribution (the write requests rows
    * clustered by the partition expressions, so each task produces whole
    * partitions).
    */
  sealed trait PartField { def col: String }
  final case class IdentityPart(col: String) extends PartField
  final case class BucketPart(n: Int, col: String) extends PartField
  /** `unit` ∈ years | months | days | hours (hours: TIMESTAMP only). */
  final case class TimePart(unit: String, col: String) extends PartField
  final case class TruncatePart(width: Int, col: String) extends PartField

  val TimeUnits: Seq[String] = Seq("years", "months", "days", "hours")

  private val MicrosPerHour = 3600L * 1000000L
  private val MicrosPerDay = 24L * MicrosPerHour

  /** Epoch-relative ordinal of one internal time value under `unit`,
    * dispatched on the internal representation (partition columns are
    * type-pinned at create): DATE = Int days since epoch, TIMESTAMP /
    * TIMESTAMP_NTZ = Long micros since epoch (this engine pins the UTC
    * session, so instant and local semantics coincide — the same
    * UTC-bucketing contract Iceberg's transforms use). Micros floor-divide
    * (pre-1970 values land in the correct earlier bucket, not toward
    * zero). None = not a time value (callers keep/decline conservatively).
    */
  def timeOrdinalOf(unit: String, v: Any): Option[Int] = {
    def fromDays(days: Int): Int = unit match {
      case "days" => days
      case _ =>
        val d = java.time.LocalDate.ofEpochDay(days.toLong)
        if (unit == "years") d.getYear - 1970
        else (d.getYear - 1970) * 12 + (d.getMonthValue - 1) // months
    }
    v match {
      // a DATE (Int days) has no sub-day resolution: 'hours' of one is a
      // caller contract violation (validateSpec/bind reject the spec), so
      // the guard is LOCAL — None, never a silent months ordinal
      case _: java.lang.Integer if unit == "hours" => None
      case i: java.lang.Integer => Some(fromDays(i.intValue))
      case l: java.lang.Long =>
        if (unit == "hours") Some(Math.floorDiv(l.longValue, MicrosPerHour).toInt)
        else Some(fromDays(Math.floorDiv(l.longValue, MicrosPerDay).toInt))
      case _ => None
    }
  }

  /** Truncate one internal value to its width-`w` bucket floor, keeping
    * the internal type (the transform's output type is its input type, as
    * in Iceberg): integrals `floorDiv(v, w) * w`, strings their first `w`
    * chars. None = not a truncatable value.
    */
  def truncValueOf(w: Int, v: Any): Option[Any] = v match {
    case i: java.lang.Integer =>
      Some(Integer.valueOf((Math.floorDiv(i.longValue, w.toLong) * w).toInt))
    case l: java.lang.Long =>
      Some(java.lang.Long.valueOf(Math.floorDiv(l.longValue, w.toLong) * w))
    case s: java.lang.Short =>
      Some(java.lang.Short.valueOf((Math.floorDiv(s.longValue, w.toLong) * w).toShort))
    case b: java.lang.Byte =>
      Some(java.lang.Byte.valueOf((Math.floorDiv(b.longValue, w.toLong) * w).toByte))
    case u: org.apache.spark.unsafe.types.UTF8String =>
      Some(if (u.numChars <= w) u else u.substring(0, w))
    case s: String =>
      Some(org.apache.spark.unsafe.types.UTF8String.fromString(
        if (s.length <= w) s else s.substring(0, w)))
    case _ => None
  }

  /** External filter-literal forms of date/time values (the V2 `Filter`
    * API ships external objects) converted to the internal representation
    * [[timeOrdinalOf]]/stats comparisons use; non-datetime values pass
    * through.
    */
  def datetimeInternal(v: Any): Any = v match {
    case d: java.sql.Date => Integer.valueOf(
      org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaDate(d))
    case d: java.time.LocalDate => Integer.valueOf(d.toEpochDay.toInt)
    case t: java.sql.Timestamp => java.lang.Long.valueOf(
      org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaTimestamp(t))
    case i: java.time.Instant => java.lang.Long.valueOf(
      org.apache.spark.sql.catalyst.util.DateTimeUtils.instantToMicros(i))
    case d: java.time.LocalDateTime => java.lang.Long.valueOf(
      org.apache.spark.sql.catalyst.util.DateTimeUtils.localDateTimeToMicros(d))
    case other => other
  }

  /** The bucket function: Knuth multiplicative hash of the column's
    * canonical value, folded into [0, n). Deterministic across JVMs
    * (integral math + UTF8 byte sum only), shared verbatim by the write
    * split and the planning-time pruning — the one invariant bucketing
    * needs. NULL buckets to 0 (a fixed, documented slot, as in Hive).
    */
  def bucketOf(v: Any, n: Int): Int = {
    val h = canonKey(v) match {
      case null => 0L
      case l: java.lang.Long => l.longValue
      case s: String => // deterministic string fold (UTF-8 bytes, 31-mix)
        s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          .foldLeft(0L)((acc, b) => acc * 31L + (b & 0xffL))
      case d: java.lang.Double => java.lang.Double.doubleToLongBits(d.doubleValue)
      case b: java.lang.Boolean => if (b) 1L else 0L
      case other => other.hashCode.toLong
    }
    (((h * 2654435761L) & 0x7fffffffL) % n).toInt
  }

  /** The spec as V2 transforms — what `Table.partitioning()` reports (so
    * `DESCRIBE` shows the layout) and what the scan's reported clustering
    * and the write's required distribution are both expressed in.
    */
  def toTransforms(spec: Seq[PartField]):
      Array[org.apache.spark.sql.connector.expressions.Transform] = {
    import org.apache.spark.sql.connector.expressions.Expressions
    spec.map {
      case IdentityPart(c) => Expressions.identity(c)
      case BucketPart(n, c) => Expressions.bucket(n, c)
      case TimePart("years", c) => Expressions.years(c)
      case TimePart("months", c) => Expressions.months(c)
      case TimePart("days", c) => Expressions.days(c)
      case TimePart(_, c) => Expressions.hours(c)
      case TruncatePart(w, c) => Expressions.apply("truncate",
        Expressions.literal(w), Expressions.column(c))
    }.toArray
  }

  /** The partition tuple of one row under a spec (internal values for
    * identity fields — the type is pinned at create, see the alter guard —
    * and Integer bucket ids for bucket fields).
    */
  def partTupleOf(
      spec: Seq[PartField], schema: StructType, row: InternalRow): Seq[Any] =
    spec.map { pf =>
      val i = schema.fieldNames.indexOf(pf.col)
      if (i < 0)
        throw new IllegalStateException(
          s"write schema ${schema.fieldNames.mkString(",")} lacks partition column ${pf.col}")
      val v = if (row.isNullAt(i)) null else row.get(i, schema.fields(i).dataType)
      pf match {
        // identity tuples keep the internal type but normalize floating
        // zeros: SQL says −0.0 = 0.0, so one SQL value must map to ONE
        // partition tuple (two tuples would split a key across groups in
        // storage-partitioned planning and double a "partition" in
        // dynamic overwrite)
        case IdentityPart(_) => v match {
          case d: java.lang.Double if d.doubleValue == 0.0 => java.lang.Double.valueOf(0.0)
          case f: java.lang.Float if f.floatValue == 0.0f => java.lang.Float.valueOf(0.0f)
          case other => other
        }
        case BucketPart(n, _) => Integer.valueOf(bucketOf(v, n))
        // NULL time/truncate sources keep a NULL tuple (the hive
        // __HIVE_DEFAULT_PARTITION__ shape; pruning keeps such batches
        // only for IS NULL / null-safe-equality filters)
        case TimePart(unit, _) =>
          if (v == null) null
          else timeOrdinalOf(unit, v).map(Integer.valueOf).getOrElse(
            throw new IllegalStateException(
              s"time partition ${pf.col}: unsupported internal value class " +
                v.getClass.getName))
        case TruncatePart(w, _) =>
          if (v == null) null
          else truncValueOf(w, v).getOrElse(
            throw new IllegalStateException(
              s"truncate partition ${pf.col}: unsupported internal value class " +
                v.getClass.getName))
      }
    }

  /** Split one task batch into PARTITION-PURE row groups (insertion-
    * ordered, so unpartitioned tables — spec `Nil` — pass through as one
    * group with the empty tuple). This is the ONE choke point every
    * publish path (append, overwrite, streaming epoch, DML replacement,
    * delta insert, compaction, branch stage) routes its rows through, so a
    * partitioned table can never hold a mixed batch. At 100 TB the same
    * split rides each write task (one file per partition value per task —
    * the file-sink shape) with the write's clustered distribution keeping
    * the per-task partition count small; the publish-side placement here
    * is identical because this table's rows materialize at the driver
    * anyway.
    */
  def splitByPartition(
      spec: Seq[PartField], schema: StructType,
      rows: Array[InternalRow]): Seq[(Seq[Any], Array[InternalRow])] =
    if (spec.isEmpty) Seq((Nil, rows))
    else {
      val groups = scala.collection.mutable.LinkedHashMap
        .empty[Seq[Any], scala.collection.mutable.ArrayBuffer[InternalRow]]
      rows.foreach { r =>
        groups.getOrElseUpdate(partTupleOf(spec, schema, r),
          scala.collection.mutable.ArrayBuffer.empty) += r
      }
      groups.iterator.map { case (k, v) => (k, v.toArray) }.toSeq
    }

  /** Per-batch, per-column DATA-SKIPPING bounds (the mem-table analogue of
    * Iceberg manifest column bounds / parquet row-group stats): min/max of
    * the column's non-null INTERNAL values plus the null count, computed
    * once at publish and immutable thereafter. Bounds stay sound as
    * delete vectors accumulate — deletes can only shrink the true range,
    * so stale bounds merely skip less, never wrongly. min/max are null
    * when every row is null. Keyed by the batch's OWN (write-time) schema
    * names; scans resolve current-schema filter columns through the same
    * tombstone rules as data projection.
    */
  final case class ColStats(min: Any, max: Any, nullCount: Long, rowCount: Long,
      ndv: Long = -1L,
      // union-mergeable distinct sketch ([[NdvSketch]]): present on every
      // publish since round 13; absent on legacy/synthetic stats, where
      // planning falls back to the Σ-cap bound
      sketch: Option[NdvSketch] = None,
      // per-batch membership register ([[BatchBloom]], opt-in via
      // 'graft.bloom-columns'): point-predicate skipping on unclustered
      // high-cardinality keys — no false negatives, so absence prunes
      bloom: Option[Array[Long]] = None,
      // deterministic bounded value sample ([[SampleSketch]], numeric/
      // date/timestamp columns): planning merges these row-weighted into
      // the equi-height HISTOGRAM the CBO's skew-aware join/filter
      // selectivity reads; absent on legacy stats and unhistogrammable
      // types, where planning simply reports no histogram
      sample: Option[Array[Double]] = None) {
    def allNull: Boolean = nullCount == rowCount
  }

  /** One EQUALITY-DELETE file (Iceberg's key-based delete variant — what
    * streaming CDC upsert ingest writes when row positions are unknowable
    * at write time): at `version`, every row of any OLDER batch whose key
    * tuple is in `keys` is dead. The strictly-older rule (Iceberg's
    * sequence-number rule) means the same commit's inserts are never
    * self-deleted — which is exactly what makes an upsert epoch
    * (delete-by-key + insert) one atomic version. Key values are stored
    * canonicalized ([[canonKey]]) so probes compare across type widening.
    */
  final case class EqDelete(version: Long, keyCols: Seq[String], keys: Set[Seq[Any]])

  /** Canonical form of one internal key value, so equality-delete probes
    * survive type widening (int batch, bigint delete) and internal string
    * representation: integrals → Long, floats → Double, UTF8String →
    * String. Floating zeros normalize −0.0 → 0.0: Spark SQL equality (and
    * its own UnsafeRow normalization) treats the two as EQUAL, so a key —
    * or a bucket/identity partition value — derived from the raw bits
    * would silently split one SQL value across two slots ([[bucketOf]]
    * hashes the canonical form, so `WHERE k = 0.0` and a −0.0 row must
    * agree on the bucket).
    */
  def canonKey(v: Any): Any = datetimeInternal(v) match {
    case i: java.lang.Integer => java.lang.Long.valueOf(i.longValue)
    case s: java.lang.Short => java.lang.Long.valueOf(s.longValue)
    case b: java.lang.Byte => java.lang.Long.valueOf(b.longValue)
    case f: java.lang.Float =>
      java.lang.Double.valueOf(if (f.floatValue == 0.0f) 0.0 else f.doubleValue)
    case d: java.lang.Double if d.doubleValue == 0.0 => java.lang.Double.valueOf(0.0)
    case u: org.apache.spark.unsafe.types.UTF8String => u.toString
    case other => other
  }

  /** The EFFECTIVE kill map of one batch — positional DV entries merged
    * with equality-delete matches (earliest kill version wins): position →
    * version the row died at. Equality deletes apply only to batches
    * strictly OLDER than themselves and at-or-before the batch's removal;
    * key columns resolve through the same era/tombstone rules as scans (an
    * unresolvable or NULL key never matches). Read paths filter the result
    * by their bound snapshot; the change feed emits one row-level delete
    * event per entry at its version. At 100 TB this probe is the reader-
    * side anti-join every MoR table format pays on equality deletes,
    * amortized here at planning.
    */
  def effectiveKills(
      b: TaggedBatch, eqDeletes: Vector[EqDelete],
      eras: Map[String, Vector[(Long, String)]],
      droppedAt: Map[String, Long]): Map[Int, Long] = {
    val applicable = eqDeletes
      .filter(e => e.version > b.version && e.version <= b.removedAt)
    if (applicable.isEmpty) b.dv
    else {
      val kills = scala.collection.mutable.Map.from(b.dv)
      applicable.sortBy(_.version).foreach { e =>
        val idx = e.keyCols.map(c =>
          sourceFieldName(eras, droppedAt)(c, b.writeVersion)
            .map(n => b.schema.fieldNames.indexOf(n)).filter(_ >= 0).getOrElse(-1))
        if (!idx.contains(-1)) {
          val types = idx.map(b.schema.fields(_).dataType)
          var p = 0
          while (p < b.rowCount) {
            if (!kills.contains(p) || kills(p) > e.version) {
              val r = b.rows(p)
              val tuple = idx.indices.map { j =>
                if (r.isNullAt(idx(j))) null else canonKey(r.get(idx(j), types(j)))
              }
              if (!tuple.contains(null) && e.keys.contains(tuple))
                kills(p) = math.min(kills.getOrElse(p, Long.MaxValue), e.version)
            }
            p += 1
          }
        }
      }
      kills.toMap
    }
  }

  /** Internal-value comparator per supported stats type; None = the type
    * keeps no bounds (scans treat its columns as un-skippable).
    */
  private[sources] def statsComparator(dt: org.apache.spark.sql.types.DataType): Option[(Any, Any) => Int] = {
    import org.apache.spark.sql.types._
    dt match {
      case LongType => Some((a, b) =>
        java.lang.Long.compare(a.asInstanceOf[Long], b.asInstanceOf[Long]))
      case IntegerType => Some((a, b) =>
        java.lang.Integer.compare(a.asInstanceOf[Int], b.asInstanceOf[Int]))
      case ShortType => Some((a, b) =>
        java.lang.Short.compare(a.asInstanceOf[Short], b.asInstanceOf[Short]))
      case ByteType => Some((a, b) =>
        java.lang.Byte.compare(a.asInstanceOf[Byte], b.asInstanceOf[Byte]))
      case DoubleType => Some((a, b) =>
        java.lang.Double.compare(a.asInstanceOf[Double], b.asInstanceOf[Double]))
      case FloatType => Some((a, b) =>
        java.lang.Float.compare(a.asInstanceOf[Float], b.asInstanceOf[Float]))
      case StringType => Some((a, b) =>
        a.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
          .compareTo(b.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]))
      case BooleanType => Some((a, b) =>
        java.lang.Boolean.compare(a.asInstanceOf[Boolean], b.asInstanceOf[Boolean]))
      // time columns compare on their internal encodings (DATE = Int days,
      // TIMESTAMP = Long micros) — what makes time-range data skipping and
      // time-column partitioning first-class instead of stats-blind
      case DateType => Some((a, b) =>
        java.lang.Integer.compare(a.asInstanceOf[Int], b.asInstanceOf[Int]))
      case TimestampType | TimestampNTZType => Some((a, b) =>
        java.lang.Long.compare(a.asInstanceOf[Long], b.asInstanceOf[Long]))
      case _ => None
    }
  }

  /** Is `rows` lexicographically sorted ASC NULLS FIRST by `cols` (the
    * order `sortWithinPartitions`/the requested write ordering produces)?
    * One comparator pass — the publish-side VERIFICATION behind keeping
    * the sorted-layout claim alive across ordinary appends.
    */
  private[sources] def batchSorted(
      schema: StructType, rows: Array[InternalRow], cols: Seq[String]): Boolean = {
    val idx = cols.map(c => schema.fieldNames.indexOf(c)).toArray
    if (idx.contains(-1)) return false
    val types = idx.map(schema.fields(_).dataType)
    val cmps = types.map(statsComparator)
    if (cmps.exists(_.isEmpty)) return false
    var r = 1
    while (r < rows.length) {
      var c = 0
      var rel = 0
      while (c < idx.length && rel == 0) {
        val i = idx(c)
        val a = if (rows(r - 1).isNullAt(i)) null else rows(r - 1).get(i, types(c))
        val b = if (rows(r).isNullAt(i)) null else rows(r).get(i, types(c))
        rel = (a, b) match {
          case (null, null) => 0
          case (null, _) => -1 // NULLS FIRST
          case (_, null) => 1
          case _ => cmps(c).get(a, b)
        }
        c += 1
      }
      if (rel > 0) return false
      r += 1
    }
    true
  }

  /** Claim maintenance after an ordinary publish (append / overwrite /
    * upsert epoch) on a table with a DECLARED sort order: keep the
    * sorted-layout claim alive when every freshly stored batch VERIFIES
    * sorted (split groups inherit the task order, so the check runs on
    * exactly what readers will walk); a truncate re-establishes a
    * previously retired claim (the unsorted batches are gone). Everything
    * else — no declaration, an unverifiable batch, an append onto a
    * retired claim — clears it, exactly as before. Callers hold the
    * table monitor.
    */
  private def maintainSortClaim(
      st: State, fresh: Seq[TaggedBatch], truncate: Boolean): Unit = {
    val declared = st.declaredSortOrder
    // batches carry their verdict (computed where the rows were: the
    // write task or the driver materialization) — verifying here would
    // pull every just-written file back through the driver AND pin it via
    // the store's lazy row cache, defeating the file plane
    if (declared.isEmpty || !fresh.forall(_.store.sorted))
      st.clearSortOrder()
    else if (st.sortedBy == declared) () // active claim survives the append
    else if (truncate) {
      st.sortedBy = declared
      st.sortedSince = st.version
    } else st.clearSortOrder() // a retired claim needs a truncate/rewrite
  }

  /** Compute the skipping bounds of one batch, one pass over the rows.
    * Runs at PUBLISH on the driver (where this table's rows materialize
    * anyway); in a file-backed table the same pass rides each write task
    * and ships inside its commit message — either way the cost is paid
    * once per batch at write, never at read.
    */
  /** Per-batch column stats — one pass through [[StatsAccumulator]], the
    * same incremental machinery the streaming write tasks use: min/max
    * bounds, null count, and the NDV [[NdvSketch]] (exact below its
    * threshold, HLL above; union-merged at planning so overlapping batch
    * domains estimate tightly instead of summing).
    */
  def statsOf(schema: StructType, rows: Array[InternalRow],
      bloomCols: Set[String] = Set.empty): Map[String, ColStats] = {
    val acc = new StatsAccumulator(schema, bloomCols)
    var j = 0
    while (j < rows.length) { acc.add(rows(j)); j += 1 }
    acc.result()
  }

  /** Can any row of a batch with the given column stats satisfy `f`?
    * Three-valued in spirit: `false` ONLY when the bounds definitively
    * preclude a match (the batch is skipped); anything uncertain — an
    * unknown filter shape, a type the stats don't cover, a NOT — returns
    * `true` (keep the batch). Soundness does not depend on this being
    * tight: the scan returns every pushed filter as a residual, so Spark
    * re-evaluates rows regardless — skipping is pure planning-time cost
    * elision, exactly parquet row-group pruning's contract.
    */
  /** Definitive bloom MISS for an equality literal: true only when the
    * batch carries a register for the column and the canonical hash is
    * absent (no false negatives, so "absent" is a proof). Conservative
    * everywhere else — no register, or a present/possibly-present hash,
    * precludes nothing. Hash collisions across the canonical domain are
    * the register's own false-positive direction, which only KEEPS.
    */
  private def bloomPrecludes(s: ColStats, v: Any): Boolean =
    s.bloom.exists(b => v != null &&
      !BatchBloom.mightContain(b, NdvSketch.hashOf(datetimeInternal(v))))

  def mayMatch(f: Filter, statsFor: String => Option[ColStats]): Boolean = {
    def bounds(c: String)(preclude: ColStats => Boolean): Boolean =
      statsFor(c) match {
        case Some(s) => !(s.allNull || preclude(s))
        case None => true // no stats kept: cannot rule anything out
      }
    f match {
      case EqualTo(c, v) => bounds(c)(s =>
        cmp(s.min, v).exists(_ > 0) || cmp(s.max, v).exists(_ < 0) ||
          bloomPrecludes(s, v))
      case EqualNullSafe(c, v) =>
        if (v == null) statsFor(c).forall(_.nullCount > 0)
        else statsFor(c) match {
          // unlike EqualTo, an all-null batch is PRECLUDED only by the
          // bounds (null <=> value is false, so nulls never match)
          case Some(s) => !(s.nullCount == s.rowCount ||
            cmp(s.min, v).exists(_ > 0) || cmp(s.max, v).exists(_ < 0) ||
            bloomPrecludes(s, v))
          case None => true
        }
      case GreaterThan(c, v) => bounds(c)(s => cmp(s.max, v).exists(_ <= 0))
      case GreaterThanOrEqual(c, v) => bounds(c)(s => cmp(s.max, v).exists(_ < 0))
      case LessThan(c, v) => bounds(c)(s => cmp(s.min, v).exists(_ >= 0))
      case LessThanOrEqual(c, v) => bounds(c)(s => cmp(s.min, v).exists(_ > 0))
      case In(c, vs) =>
        if (vs.isEmpty) false
        else vs.exists(v => mayMatch(EqualTo(c, v), statsFor))
      case IsNull(c) => statsFor(c).forall(_.nullCount > 0)
      case IsNotNull(c) => statsFor(c).forall(!_.allNull)
      case And(l, r) => mayMatch(l, statsFor) && mayMatch(r, statsFor)
      case Or(l, r) => mayMatch(l, statsFor) || mayMatch(r, statsFor)
      case AlwaysFalse() => false
      case _ => true // NOT / string predicates / unknown shapes: keep
    }
  }

  /** Can any row of a batch with partition tuple `part` satisfy `f`, by
    * the TRANSFORM fields of the spec? (Identity fields need no special
    * case: an identity-pure batch's column stats are the exact singleton
    * min=max=value, so [[mayMatch]] already prunes them.) Two regimes:
    *
    *  - BUCKET — equality-shaped filters only (each bucket's raw-value
    *    range spans the whole domain, but `k = 5` still keeps exactly the
    *    `bucketOf(5, n)` batches); ranges can't prune a hash layout.
    *  - TIME / TRUNCATE — MONOTONE transforms, so ranges prune too: every
    *    row `> v` has `T(row) >= T(v)`, so a batch whose tuple sits below
    *    `T(v)` provably holds no match. This is what lets a raw
    *    `o_date BETWEEN x AND y` predicate plan only the touched months of
    *    a months-partitioned table — no derived partition column in the
    *    query, exactly Iceberg's transform-pruning contract.
    *
    * Same conservative contract as [[mayMatch]]: `false` only on a
    * definitive mismatch, and every filter stays a residual. Filter
    * literals arrive in EXTERNAL form ([[datetimeInternal]] folds
    * date/timestamp objects to their internal encodings before the
    * transform applies).
    */
  def partMayMatch(f: Filter, spec: Seq[PartField], part: Seq[Any]): Boolean = {
    def bucketAt(c: String): Option[(Int, Int)] = // (numBuckets, batch's bucket id)
      spec.zipWithIndex.collectFirst {
        case (BucketPart(n, col), i) if col == c => (n, part(i).asInstanceOf[Int])
      }
    // the batch's tuple value and the transform applied to one literal,
    // for the monotone fields; None = this column isn't monotone-partitioned
    def monotoneAt(c: String): Option[(Any, Any => Option[Any])] =
      spec.zipWithIndex.collectFirst {
        case (TimePart(unit, col), i) if col == c =>
          (part(i), (v: Any) => timeOrdinalOf(unit, datetimeInternal(v))
            .map(Integer.valueOf(_): Any))
        case (TruncatePart(w, col), i) if col == c =>
          (part(i), (v: Any) => truncValueOf(w, datetimeInternal(v)))
      }
    // compare two transform outputs through the canonical key (Integer
    // ordinals → Long, UTF8String prefixes → String); None = incomparable
    def ordCmp(a: Any, b: Any): Option[Int] = (canonKey(a), canonKey(b)) match {
      case (x: java.lang.Long, y: java.lang.Long) => Some(java.lang.Long.compare(x, y))
      case (x: String, y: String) =>
        // BINARY (UTF-8) order — Spark SQL's string comparison; Java's
        // UTF-16 compareTo diverges for supplementary characters
        Some(org.apache.spark.unsafe.types.UTF8String.fromString(x)
          .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(y)))
      case _ => None
    }
    // keep unless the monotone tuple provably fails `rel` against T(v):
    // rel < 0 means "keep iff tuple <= T(v)", rel > 0 "keep iff >= T(v)"
    def monotoneKeep(c: String, v: Any, rel: Int): Boolean =
      monotoneAt(c) match {
        case Some((t, tf)) if v != null =>
          if (t == null) false // all-NULL tuple: no non-null row to match
          else tf(v) match {
            case Some(tv) => ordCmp(t, tv) match {
              case Some(x) =>
                if (rel == 0) x == 0 else if (rel < 0) x <= 0 else x >= 0
              case None => true
            }
            case None => true // unconvertible literal: keep
          }
        case _ => true
      }
    f match {
      case EqualTo(c, v) =>
        bucketAt(c).forall { case (n, id) => v != null && bucketOf(v, n) == id } &&
          monotoneKeep(c, v, 0)
      case EqualNullSafe(c, v) =>
        bucketAt(c).forall { case (n, id) => bucketOf(v, n) == id } &&
          (monotoneAt(c) match {
            // null-safe: NULL rows live in the NULL tuple
            case Some((t, _)) if v == null => t == null
            case _ => monotoneKeep(c, v, 0)
          })
      case In(c, vs) =>
        bucketAt(c).forall { case (n, id) =>
          vs.exists(v => v != null && bucketOf(v, n) == id)
        } && (monotoneAt(c).isEmpty || vs.exists(v => monotoneKeep(c, v, 0)))
      case GreaterThan(c, v) => monotoneKeep(c, v, 1)
      case GreaterThanOrEqual(c, v) => monotoneKeep(c, v, 1)
      case LessThan(c, v) => monotoneKeep(c, v, -1)
      case LessThanOrEqual(c, v) => monotoneKeep(c, v, -1)
      case IsNull(c) => monotoneAt(c).forall(_._1 == null)
      case IsNotNull(c) => monotoneAt(c).forall(_._1 != null)
      case And(l, r) =>
        partMayMatch(l, spec, part) && partMayMatch(r, spec, part)
      case Or(l, r) =>
        partMayMatch(l, spec, part) || partMayMatch(r, spec, part)
      case AlwaysFalse() => false
      case _ => true // NOT/unknown shapes: keep
    }
  }

  /** One point of the table's metadata timeline, written on create and on
    * every ALTER: the schema in force from `version` onward, the tombstone
    * map, and the field-ERA map as of that version — what a `VERSION AS
    * OF` read binds to.
    *
    * `eras` is the rename ledger: current column name → timeline of
    * `(fromVersion, nameUsedByBatchesWrittenAtOrAfter)`. It is the
    * name-based equivalent of Iceberg field ids extended through RENAME:
    * a batch written at `wv` stores a field under the name the column had
    * AT `wv`, so projection resolves the bound name back through the
    * timeline (newest entry with `fromVersion <= wv`). A batch older than
    * the column's first era predates the column entirely and reads NULL —
    * which also makes a later column that merely REUSES a past era name of
    * some other field start from a clean slate.
    */
  final case class SchemaAt(
      version: Long, schema: StructType, droppedAt: Map[String, Long],
      eras: Map[String, Vector[(Long, String)]] = Map.empty,
      // column → (addedAt version, internal EXISTS-default value): rows
      // written BEFORE addedAt read the default instead of NULL (the
      // `ALTER ADD COLUMN ... DEFAULT` contract); versioned here so time
      // travel binds the defaults the snapshot had
      defaults: Map[String, (Long, Any)] = Map.empty)

  /** The EXISTS-default one unresolvable column serves for a batch written
    * at `writeVersion`: defined iff the column carries a default that was
    * added AFTER the batch's bytes were written (a re-added column's
    * default never leaks onto same-named pre-drop fields — those resolve
    * through the era rules first and only land here unresolved).
    */
  def defaultFor(defaults: Map[String, (Long, Any)])(
      target: String, writeVersion: Long): Option[Any] =
    defaults.get(target).collect { case (addedAt, v) if addedAt > writeVersion => v }

  /** Resolve one bound (current-schema) column to its source-field name in
    * a batch written at `writeVersion`: era timeline first (rename-aware),
    * then the tombstone check on the RESOLVED name (a name dropped at or
    * after the batch's write predates the current same-named field). None
    * = the column reads NULL for this batch. The no-timeline branch keeps
    * the pre-era identity rule for timelines that predate the ledger.
    */
  def sourceFieldName(
      eras: Map[String, Vector[(Long, String)]], droppedAt: Map[String, Long])(
      target: String, writeVersion: Long): Option[String] =
    (eras.get(target) match {
      case Some(timeline) => timeline.filter(_._1 <= writeVersion).lastOption.map(_._2)
      case None => Some(target)
    }).filterNot(n => droppedAt.get(n).exists(_ >= writeVersion))

  /** Legal metadata-only type promotions (the Iceberg widening set): old
    * batches' values are converted at read, never rewritten.
    */
  def widens(from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case _ => false
    }
  }

  /** DIRECTIONAL structural compatibility of a batch's WRITTEN type
    * (`written`) with the scan's BOUND type (`bound`), ignoring field
    * metadata — what the era-projection check needs: a batch written with
    * `struct<a: string NOT NULL>` is byte-compatible with a binding of
    * `struct<a: string>` (values project unchanged). Nested nullability
    * is tolerated in THAT direction only — a batch recorded NULLABLE must
    * not bind to a NOT NULL declaration (e.g. written before an ALTER
    * tightened nullability): its nulls would flow silently through a
    * non-nullable schema instead of failing loudly. A SHAPE difference
    * (names, arity, leaf types) decodes garbage and always rejects.
    */
  def sameShape(written: org.apache.spark.sql.types.DataType,
      bound: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    (written, bound) match {
      case (x: StructType, y: StructType) =>
        x.length == y.length && x.fields.zip(y.fields).forall { case (f, g) =>
          f.name == g.name && (!f.nullable || g.nullable) &&
            sameShape(f.dataType, g.dataType)
        }
      case (x: ArrayType, y: ArrayType) =>
        (!x.containsNull || y.containsNull) &&
          sameShape(x.elementType, y.elementType)
      case (x: MapType, y: MapType) =>
        (!x.valueContainsNull || y.valueContainsNull) &&
          sameShape(x.keyType, y.keyType) && sameShape(x.valueType, y.valueType)
      case _ => written == bound
    }
  }

  /** Convert one non-null internal value across a [[widens]] promotion. */
  def widenValue(v: Any, from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Any = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (IntegerType, LongType) => java.lang.Long.valueOf(v.asInstanceOf[Int].toLong)
      case (FloatType, DoubleType) => java.lang.Double.valueOf(v.asInstanceOf[Float].toDouble)
      case _ => v
    }
  }

  /** Committed contents of one table: current (evolvable) schema +
    * committed task batches, each tagged with its write-time schema.
    *
    * VERSION CLOCK: `version` increments on every COMMIT and every ALTER,
    * giving each table state a snapshot id. Nothing is ever physically
    * deleted before DROP TABLE: truncate (INSERT OVERWRITE) marks the live
    * batches `removedAt = version` instead of discarding them, and alters
    * append to `history` — so `VERSION AS OF v` reads are exact replays
    * (batches with `version <= v < removedAt`, metadata from the newest
    * history entry `<= v`). This is the Iceberg/Delta snapshot model:
    * commits create snapshots, old snapshots stay readable until expired
    * via [[MemTables.expireSnapshots]] (retention only ever DELETES
    * timeline, never changes the read semantics of what remains).
    *
    * CONCURRENCY CONTRACT: every mutation (commit / epoch-commit / alter /
    * delete / row-level publish / expiry) runs under this object's
    * monitor, so the version log is a SERIALIZABLE history — each
    * operation owns exactly one version slot and reads bind to a
    * consistent (version, batches, history) triple. Appends never
    * conflict (append-only); truncating and row-level writes are
    * last-committer-wins EXCEPT that a row-level publish validates the
    * version its scan planned against and REJECTS if another commit
    * interleaved ([[MemTables.replaceBatches]]) — optimistic concurrency,
    * a lost update is an error, not a silent outcome.
    */
  /** DELETE execution mode of a table, the industry design fork:
    * copy-on-write (default — rewrite matched batches, read path stays a
    * plain scan) vs merge-on-read (record a positional delete vector,
    * reads apply the overlay; the write is O(matches), the read pays the
    * filter). Set at CREATE via `TBLPROPERTIES
    * ('graft.delete-mode'='merge-on-read')`.
    */
  val DeleteModeCow = "copy-on-write"
  val DeleteModeMor = "merge-on-read"

  final class State(
      initialSchema: StructType, val deleteMode: String = DeleteModeCow,
      val createProps: Map[String, String] = Map.empty,
      initialPartitioning: Seq[PartField] = Nil,
      // the table directory: data files, manifests and metadata.json
      val storageDir: String,
      // the table's catalog key, recorded in the durable metadata plane
      // so disk recovery can match a directory back to its table
      initialTableKey: String = "") {
    // a var only because RENAME TABLE re-keys the registry entry
    @volatile var tableKey: String = initialTableKey
    // STABLE TABLE IDENTITY (the Iceberg table-uuid): survives rename,
    // storage migration, expiry, and disk recovery — and, unlike the
    // version clock, does NOT survive DROP + re-CREATE under the same
    // name. Consumers that record a table reference across commits (the
    // materialized-view watermark) compare this, never the key: a
    // re-created table at a coincidentally-equal version must read as a
    // DIFFERENT table. A var only because disk recovery restores the
    // persisted identity (pre-uuid metadata falls back to the storage
    // directory's name, which embeds a create-time nonce).
    @volatile var tableUuid: String = java.util.UUID.randomUUID().toString
    // PARTITION SPEC TIMELINE (Iceberg spec evolution): specHistory(i) is
    // spec id `i`, append-only; `partitioning` is the CURRENT spec. Every
    // batch carries the spec id it was written under ([[TaggedBatch
    // .specId]]) and keeps it forever — old batches stay laid out (and are
    // pruned) under their written spec, new writes split under the current
    // one, and a `rewrite_data_files` migrates everything it rewrites to
    // the current spec. Scans report KeyGroupedPartitioning only when all
    // visible batches share ONE spec (mixed eras decline SPJ — correctness
    // before cleverness).
    @volatile var specHistory: Vector[Seq[PartField]] = Vector(initialPartitioning)
    def partitioning: Seq[PartField] = specHistory.last
    def currentSpecId: Int = specHistory.size - 1
    @volatile var schema: StructType = initialSchema
    // committed batches, append-ordered; truncate soft-deletes via removedAt
    @volatile var batches: Vector[TaggedBatch] = Vector.empty
    // monotone snapshot counter; bumped once per commit AND per alter
    @volatile var version: Long = 0L
    // the durable plane's COMMIT GENERATION this state was loaded at (or
    // last wrote): every metadata publish CASes against it, so a commit
    // from ANOTHER PROCESS over the same warehouse is detected — the
    // loser's in-memory state is evicted and the operation retried, never
    // silently overwritten ([[MetaIO.commitCas]]). Process-local; set by
    // [[TableMetadata.load]] on recovery, advanced by each write.
    @volatile private[sources] var durableGen: Long = 0L
    // true WHILE a local commit is between its durable CAS publish and
    // the durableGen advance ([[TableMetadata.write]]): the freshness
    // probe must not read that in-between window as foreign movement and
    // evict a state its own writer is still mutating
    @volatile private[sources] var committing: Boolean = false
    // last cross-process freshness probe ([[MemTables.refreshIfStale]]);
    // initialized to load time so a fresh state never probes immediately
    @volatile private[sources] var lastFreshProbe: Long = System.currentTimeMillis()
    // column name -> version at which it was (last) dropped. A batch whose
    // writeVersion <= droppedAt(name) predates that drop, so its same-name
    // field must NOT satisfy a later re-added column (it reads NULL) — the
    // re-added column is a NEW field that merely reuses the name.
    @volatile var droppedAt: Map[String, Long] = Map.empty
    // field-era (rename) ledger — see [[SchemaAt.eras]]; seeded with every
    // create-time column starting its timeline at v0
    // column → (addedAt, internal EXISTS-default) — see [[defaultFor]]
    @volatile var columnDefaults: Map[String, (Long, Any)] = Map.empty
    @volatile var eras: Map[String, Vector[(Long, String)]] =
      initialSchema.fieldNames.map(n => n -> Vector((0L, n))).toMap
    // metadata timeline, append-only, seeded with the create-time schema
    @volatile var history: Vector[SchemaAt] =
      Vector(SchemaAt(0L, initialSchema, Map.empty,
        initialSchema.fieldNames.map(n => n -> Vector((0L, n))).toMap))
    // version -> wall-clock micros, for TIMESTAMP AS OF resolution; stamps
    // are forced strictly monotone so two commits inside one clock tick
    // still resolve unambiguously (newest version at-or-before the ask)
    @volatile var versionTimes: Vector[(Long, Long)] =
      Vector((0L, System.currentTimeMillis() * 1000L))
    // per-streaming-query committed-epoch ledger: commit(epochId) must be
    // IDEMPOTENT (post-restart re-commit of the last epoch is Spark's
    // documented at-least-once behavior; the ledger makes table contents
    // exactly-once)
    @volatile var committedEpochs: Map[String, Set[Long]] = Map.empty
    // retention horizon: snapshots strictly BELOW this version are expired
    // (their exclusively-historical batches physically dropped); reads and
    // change windows into the expired range fail loudly, never silently
    // return partial history
    @volatile var earliestVersion: Long = 0L
    // versions that were COMPACTIONS (physical reorganization, zero
    // logical change): the change feed skips their remove/re-insert
    // events — the Iceberg rule that incremental reads ignore `replace`
    // snapshots
    @volatile var compactionVersions: Set[Long] = Set.empty
    // version -> operation kind, the provenance half of the timeline
    // (`CALL graft.table_history` surfaces it): every publish records what
    // created its slot — append / overwrite / alter / delete /
    // rewrite (CoW row-level) / delta (MoR row-level) / compact /
    // rollback / stream-append / stream-overwrite. v0 is the create.
    @volatile var opKinds: Map[Long, String] = Map(0L -> "create")
    // TAGS: named read-only snapshot refs (`VERSION AS OF 'name'`) — the
    // Iceberg ref model's tag half. A tag PINS its snapshot: expiry
    // refuses to age out a tagged version (drop the tag first), so a
    // release tag is a durable replay handle, not a dangling pointer.
    @volatile var tags: Map[String, Long] = Map.empty
    // EQUALITY DELETES ([[EqDelete]]), appended by streaming upsert
    // epochs; applied at read against strictly-older batches
    @volatile var eqDeletes: Vector[EqDelete] = Vector.empty
    // TABLE SORT ORDER: set by a sorted `rewrite_data_files` (each live
    // batch is then internally sorted by these columns, ascending,
    // nulls first — Spark's sortWithinPartitions default), with the
    // version the claim holds FROM (snapshot reads before it are
    // unsorted). Cleared by any mutation that adds or reorders rows;
    // kill-only mutations (DV/equality deletes) preserve relative order
    // and keep it. The scan reports it ([[MemScan.outputOrdering]]) so
    // downstream merge joins skip their sorts.
    @volatile var sortedBy: Seq[String] = Nil
    @volatile var sortedSince: Long = Long.MaxValue
    private[sources] def clearSortOrder(): Unit = {
      sortedBy = Nil; sortedSince = Long.MaxValue
    }
    // UPDATE linkage for the change feed's pre/post-image mode: per
    // version, the row ids whose DV entries are update PRE-images (not
    // plain deletes), and the delta batches holding the matching
    // POST-image rows. Only the delta (merge-on-read) DML path records
    // linkage — a copy-on-write rewrite replaces whole groups, where no
    // per-row pairing exists to report.
    @volatile var updatedAt: Map[Long, Set[(Long, Int)]] = Map.empty
    @volatile var updatePostBatches: Set[Long] = Set.empty
    /** The DECLARED write sort order ([[MemTables.SortOrderProp]]) —
      * distinct from the claim (`sortedBy`): the declaration is what
      * writes request and publishes verify; the claim is what reads may
      * rely on right now.
      */
    val declaredSortOrder: Seq[String] = createProps.get(SortOrderProp)
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
    /** Columns carrying per-batch bloom registers ([[BloomColsProp]]). */
    val bloomCols: Seq[String] = createProps.get(BloomColsProp)
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
    // BRANCHES: named WRITABLE refs (the Iceberg ref model's other half,
    // `SELECT/INSERT ... <table>.branch_<name>`): staged appends on top of
    // a pinned base snapshot, invisible to main until `fast_forward`
    // publishes them — the write-audit-publish staging surface. A branch
    // base, like a tag, pins its snapshot against expiry.
    @volatile var branches: Map[String, BranchState] = Map.empty
    // monotone batch-identity mint (see TaggedBatch.batchId); only ever
    // advanced under this object's monitor
    @volatile private[sources] var nextBatchId: Long = 0L
    private[sources] def mintBatchId(): Long = {
      val id = nextBatchId; nextBatchId += 1; id
    }
    private[sources] def stamp(kind: String): Unit = {
      val now = System.currentTimeMillis() * 1000L
      val ts = math.max(now, versionTimes.last._2 + 1L)
      versionTimes = versionTimes :+ (version, ts)
      opKinds = opKinds.updated(version, kind)
      // every version-minting mutation lands the durable metadata plane
      // before its monitor releases — the commit IS the metadata write.
      // Non-stamping mutators (refs, branch stages, expiry) call
      // persistMeta explicitly.
      persistMeta(this)
    }
  }

  /** Write the durable metadata plane ([[TableMetadata]]) of a table.
    * Callers hold the state's monitor.
    *
    * A CAS CONFLICT here means another PROCESS committed this table since
    * we loaded it: the in-memory state — including the mutation just
    * applied — was built on a superseded snapshot. Evict it (the next
    * access recovers the durable truth, which includes the winner's
    * commit) and surface a retryable error; retrying the operation
    * against the recovered state preserves BOTH writers' changes.
    */
  private[sources] def persistMeta(st: State): Unit =
    try TableMetadata.write(st)
    catch {
      case e: MetaIO.CommitConflictException =>
        tables.remove(st.tableKey, st) // never a successor's state
        metaKeyCache.remove(st.storageDir)
        throw new java.util.ConcurrentModificationException(
            s"table ${st.tableKey}: ${e.getMessage}", e)
      }

  /** Bounded RELOAD-AND-RETRY around a connector commit whose durable
    * publish can CAS-reject when another PROCESS committed this table
    * since our state loaded ([[persistMeta]] evicts the superseded state
    * and throws). The retry recovers the winner's durable truth via
    * [[get]] and REPLAYS the operation on top — both writers' changes
    * survive, with no caller intervention. Sound because every routed
    * operation re-validates against the recovered state when it replays:
    * appends re-mint batch ids, truncates/overwrites re-evaluate against
    * the current batches, epoch commits are idempotent per (query,
    * epoch), and the row-level publishes re-run their full
    * snapshot-isolation checks ([[applyDelta]]/[[replaceBatches]]) — a
    * GENUINE conflict (the winner touched our scanned rows) still fails
    * loudly from those checks, which is exactly snapshot isolation.
    * Bounded so a livelock against a pathological commit storm surfaces
    * instead of spinning.
    */
  private[sources] def withCommitRetry[A](key: String, maxRetries: Int = 3)(
      op: => A): A = {
    var attempt = 0
    while (true) {
      try return op
      catch {
        case e: java.util.ConcurrentModificationException
            if attempt < maxRetries &&
              e.getCause.isInstanceOf[MetaIO.CommitConflictException] =>
          attempt += 1
          // recovery reload: the conflicting persist already evicted the
          // stale state; get() re-reads the durable plane (the winner's
          // commit included) and the loop replays this op on top
          if (get(key).isEmpty) throw e
      }
    }
    sys.error("unreachable")
  }

  /** Name of the metadata column every mem table exposes: the version of
    * the committed batch each row belongs to (`SELECT _batch_version, *`).
    * It is the lineage handle — which commit produced this row — and the
    * anchor the group-based row-level operations (UPDATE / MERGE) require:
    * Spark's rewrite only routes replacement rows through the
    * metadata-aware write task (which strips the internal
    * `__row_operation` marker) when the operation declares a metadata
    * attribute, so this column is what makes copy-on-write DML planable
    * against the connector at all.
    */
  val BatchVersion = "_batch_version"

  /** Metadata columns forming the DELTA row id `(_batch_id, _batch_pos)`:
    * the batch's unique identity and the row's position within it — the
    * mem-table analogue of Iceberg's `(_file, _pos)`. `_batch_version` is
    * NOT part of the id because one commit's task batches share a version.
    */
  val BatchId = "_batch_id"
  val BatchPos = "_batch_pos"

  private val tables = TrieMap.empty[String, State]

  /** Bounded pool for DRIVER-SIDE content maintenance over file-backed
    * batches (DELETE evaluation, CoW survivor rewrites): the per-batch
    * work is pure and independent, and each file open carries a fixed
    * cost — serial walks turn a 32-file table into 32 sequential opens
    * under the table monitor. Parallelism here is wall-time only; the
    * monitor still serializes the MUTATION.
    */
  private lazy val contentPool: java.util.concurrent.ExecutorService =
    java.util.concurrent.Executors.newFixedThreadPool(8,
      (r: Runnable) => {
        val t = new Thread(r, "graft-content-io")
        t.setDaemon(true)
        t
      })

  /** Map `f` over `items` on [[contentPool]], preserving order. Worker
    * exceptions rethrow UNWRAPPED — callers' loud-failure contracts
    * (e.g. UnsupportedOperationException on an untranslatable DELETE
    * filter) must not change shape because the walk parallelized.
    */
  private def parMap[A, B](items: Seq[A])(f: A => B): Seq[B] = {
    if (items.size <= 1) return items.map(f)
    val futures = items.map(a =>
      contentPool.submit(new java.util.concurrent.Callable[B] {
        override def call(): B = f(a)
      }))
    futures.map { fut =>
      try fut.get()
      catch {
        case e: java.util.concurrent.ExecutionException =>
          throw Option(e.getCause).getOrElse(e)
      }
    }
  }

  /** Register a new table; false if the key is already taken (the catalog
    * maps that to Spark's TableAlreadyExistsException so that
    * `CREATE TABLE IF NOT EXISTS` is a no-op, not a crash).
    */
  /** Name of the table property selecting streaming UPSERT ingest: a
    * comma-separated key-column list (the Iceberg identifier-fields /
    * Flink upsert shape). Each streaming epoch then publishes one
    * equality-delete over its rows' keys plus the inserts, atomically.
    */
  val UpsertKeysProp = "graft.upsert-keys"

  /** DECLARED write sort order (`TBLPROPERTIES ('graft.sort-order'='a,b')`
    * — the Iceberg `write.sort-order` shape): every write REQUESTS this
    * ordering ([[MemWriteBuilder]]), and the publish VERIFIES each stored
    * batch is sorted by it (never trusts — a degraded distribution or an
    * Update-mode epoch may bypass the requested sort), so the sorted-layout
    * claim survives ordinary ingest instead of dying on the first append:
    * the table stays continuously topN-trimmable and merge-joinable,
    * 'rewrite_data_files' becomes re-clustering, not resurrection.
    */
  val SortOrderProp = "graft.sort-order"

  /** Per-column BLOOM REGISTERS (`TBLPROPERTIES
    * ('graft.bloom-columns'='k,ck')` — the parquet/Iceberg per-column
    * bloom-enable shape): every publish builds an 8 KiB [[BatchBloom]]
    * per listed column into the batch's manifest entry, and planning
    * consults it for EqualTo/EqualNullSafe/In — point-lookup skipping on
    * keys the layout is neither sorted nor partitioned by, where min/max
    * bounds prune nothing. Opt-in because the register costs manifest
    * bytes on every batch.
    */
  val BloomColsProp = "graft.bloom-columns"

  /** Small-file AUTO-COMPACTION threshold (`TBLPROPERTIES
    * ('graft.auto-compact-min-files'='N')` — the Delta auto-compact /
    * Iceberg maintenance-on-write shape): after any batch or streaming
    * commit leaves ≥ N live batches on a file-backed table, the
    * distributed rewrite job folds them (scan layout kept, declared sort
    * order re-established) at a CDC-invisible version. Opt-in per table:
    * at gate scale ~100 tiny per-statement files are a measured 3×
    * fixed-cost tax on every read; at 100 TB the same trigger bounds the
    * file count a micro-batch ingest can fragment a partition into
    * without an external maintenance scheduler.
    */
  val AutoCompactProp = "graft.auto-compact-min-files"

  /** DV-DENSITY auto-compaction trigger (`TBLPROPERTIES
    * ('graft.auto-compact-max-dead-ratio'='0.5')`): after any commit
    * leaves the live batches' delete-vector-dead rows above the given
    * fraction of their stored rows, the same distributed rewrite folds
    * them — a batch 60% dead by DVs pays its overlay (and its dead
    * bytes) on EVERY read until something rewrites it, and the file-count
    * trigger alone never fires on a heavily-deleted but well-compacted
    * table. Reads are byte-identical across the fold and the change feed
    * never sees it (compaction versions are CDC-invisible).
    */
  val AutoCompactDeadRatioProp = "graft.auto-compact-max-dead-ratio"

  /** `'graft.storage'` (create-time): absent or `'parquet'`, the table's
    * one storage plane — batches are executor-written parquet files under
    * a table directory; the driver holds only manifest entries (path,
    * count, partition tuple, column bounds), the task-commit protocol
    * commits file paths, and scans ship paths for executors to stream.
    * Any other value is rejected at create.
    */
  val StorageProp = "graft.storage"

  /** Validate one partition spec against a schema — shared by CREATE and
    * [[replacePartitionSpec]] (spec evolution must hold every rule the
    * create-time spec does).
    */
  def validateSpec(schema: StructType, partitioning: Seq[PartField]): Unit = {
    partitioning.foreach { pf =>
      val f = schema.fields.find(_.name == pf.col).getOrElse(
        throw new IllegalArgumentException(
          s"partition column ${pf.col} does not exist in the table schema"))
      // the partition tuple is part of every batch's identity and the
      // scan's reported clustering — its type must be one the canonical
      // key/bucket machinery and the V2 partition-key row both handle
      if (statsComparator(f.dataType).isEmpty)
        throw new IllegalArgumentException(
          s"partition column ${pf.col} has unsupported type ${f.dataType.simpleString}")
      import org.apache.spark.sql.types._
      pf match {
        case BucketPart(n, _) if n <= 0 =>
          throw new IllegalArgumentException(s"bucket count must be positive, got $n")
        case TimePart(unit, c) =>
          // type-pinned at create so the transform's internal dispatch
          // (Int = days, Long = micros) can never misread a value
          f.dataType match {
            case DateType if unit == "hours" =>
              throw new IllegalArgumentException(
                s"hours($c): a DATE column has no sub-day resolution — " +
                  "use days/months/years")
            case DateType | TimestampType | TimestampNTZType => ()
            case other => throw new IllegalArgumentException(
              s"$unit($c) requires a DATE or TIMESTAMP column, " +
                s"got ${other.simpleString}")
          }
        case TruncatePart(w, c) =>
          if (w <= 0)
            throw new IllegalArgumentException(
              s"truncate width must be positive, got $w")
          f.dataType match {
            case ByteType | ShortType | IntegerType | LongType | StringType => ()
            case other => throw new IllegalArgumentException(
              s"truncate($w, $c) requires an integral or STRING column, " +
                s"got ${other.simpleString}")
          }
        case _ => ()
      }
    }
    if (partitioning.map(_.col).distinct.length != partitioning.length)
      throw new IllegalArgumentException(
        s"duplicate partition column in ${partitioning.map(_.col).mkString(", ")}")
  }

  def create(key: String, schema: StructType,
      deleteMode: String = DeleteModeCow,
      props: Map[String, String] = Map.empty,
      partitioning: Seq[PartField] = Nil): Boolean = {
    if (deleteMode != DeleteModeCow && deleteMode != DeleteModeMor)
      throw new IllegalArgumentException(
        s"graft.delete-mode must be '$DeleteModeCow' or '$DeleteModeMor', got '$deleteMode'")
    validateSpec(schema, partitioning)
    props.get(StorageProp).filter(_ != "parquet").foreach { other =>
      throw new IllegalArgumentException(
        s"$StorageProp must be 'parquet', got '$other'")
    }
    props.get(UpsertKeysProp).foreach { ks =>
      // upsert ingest is inherently merge-on-read (the delete is applied
      // at read); rejecting the CoW combination here beats a silent
      // append-only table that was asked to upsert
      if (deleteMode != DeleteModeMor)
        throw new IllegalArgumentException(
          s"$UpsertKeysProp requires 'graft.delete-mode'='$DeleteModeMor'")
      val cols = ks.split(',').map(_.trim).filter(_.nonEmpty)
      if (cols.isEmpty)
        throw new IllegalArgumentException(s"$UpsertKeysProp must name at least one column")
      val missing = cols.filterNot(schema.fieldNames.contains)
      if (missing.nonEmpty)
        throw new IllegalArgumentException(
          s"$UpsertKeysProp names unknown column(s): ${missing.mkString(", ")}")
    }
    val declared = props.get(SortOrderProp)
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
    declared.foreach { c =>
      val f = schema.fields.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(
          s"sort-order column $c does not exist in the table schema"))
      if (statsComparator(f.dataType).isEmpty)
        throw new IllegalArgumentException(
          s"sort-order column $c has unsupported type ${f.dataType.simpleString}")
    }
    props.get(BloomColsProp).foreach { bs =>
      bs.split(',').map(_.trim).filter(_.nonEmpty).foreach { c =>
        val f = schema.fields.find(_.name == c).getOrElse(
          throw new IllegalArgumentException(
            s"bloom column $c does not exist in the table schema"))
        if (statsComparator(f.dataType).isEmpty)
          throw new IllegalArgumentException(
            s"bloom column $c has unsupported type ${f.dataType.simpleString}")
      }
    }
    // table location: tmp at gate scale; the Hadoop Path API the I/O goes
    // through addresses object storage identically on a cluster. Allocated
    // after validation, so a rejected create leaves no directory behind.
    val dir = new java.io.File(tablesRoot,
      sanitizeKey(key) + "-" + java.util.UUID.randomUUID().toString.take(8))
    dir.mkdirs()
    val storageDir = dir.getAbsolutePath
    val st = new State(schema, deleteMode, props, partitioning, storageDir, key)
    if (declared.nonEmpty) {
      // an empty table is trivially sorted: the claim holds from v0 and
      // every verified-sorted publish extends it
      st.sortedBy = declared
      st.sortedSince = 0L
    }
    val fresh = tables.putIfAbsent(key, st).isEmpty
    // the create itself is the first durable commit: a restart between
    // CREATE and the first INSERT must still find the (empty) table
    if (fresh) st.synchronized(persistMeta(st))
    else ParquetRows.deleteDir(storageDir) // lost the race: no orphan dir
    fresh
  }

  /** Root under which file-backed table directories live — the process's
    * WAREHOUSE. Overridable (`-Dgraft.tables.root=...`) because the root
    * carries shared-catalog semantics: every process on the same root
    * serves (and can DROP) the same durable tables, so workflows that
    * interleave independent runs (sbt test beside a bench) point their
    * test JVMs at a private root.
    */
  private[sources] def tablesRoot: java.io.File =
    sys.props.get("graft.tables.root").map(new java.io.File(_)).getOrElse(
      new java.io.File(System.getProperty("java.io.tmpdir"), "graft-tables"))

  private[sources] def sanitizeKey(key: String): String =
    key.replaceAll("[^A-Za-z0-9._-]", "_")

  def get(key: String): Option[State] =
    tables.get(key).flatMap(st => refreshIfStale(key, st))
      .orElse(recoverFromDisk(key))

  /** Cross-process FRESHNESS probe (bounded staleness — the REST-catalog
    * read behavior without the service): at most once per
    * `spark.graft.catalog.refresh-interval-ms` (default 1000; −1
    * disables), a cached file-backed table compares its loaded CAS
    * generation against the durable plane's CURRENT one — a single
    * header/pointer read ([[MetaIO.currentGen]]). A mismatch means
    * another PROCESS committed (or dropped) this table since we loaded
    * it: evict and recover the durable truth, so readers see foreign
    * commits without waiting for a local write to CAS-conflict. Local
    * commits keep the cached generation current, so the steady
    * single-writer path never probes more than the interval and never
    * evicts.
    */
  private def refreshIfStale(key: String, st: State): Option[State] = {
    val dir = st.storageDir
    val iv =
      try org.apache.spark.sql.internal.SQLConf.get.getConfString(
        "spark.graft.catalog.refresh-interval-ms", "1000").toLong
      catch { case _: Exception => 1000L }
    if (iv < 0) return Some(st)
    val now = System.currentTimeMillis()
    if (now - st.lastFreshProbe < iv) return Some(st)
    st.lastFreshProbe = now
    // READ ORDER MATTERS: durable gen first, THEN the committing flag,
    // THEN the cached gen. A local writer sets `committing` before its
    // CAS and advances `durableGen` before clearing it — so if the
    // probe's durable read saw the writer's new generation, the flag
    // read sees true (keep serving); if the flag read sees false, either
    // the probe ran entirely before the commit (gens match) or entirely
    // after (gens match again). No mid-commit eviction of a state its
    // own writer is still holding.
    val durable =
      try MetaIO.currentGen(dir, TableMetadata.FileName)
      catch { case _: Exception => st.durableGen } // unreadable plane: keep serving
    if (st.committing || durable == st.durableGen) Some(st)
    else if (durable == 0L &&
        (try MetaIO.pointerExists(dir, TableMetadata.FileName)
         catch { case _: Exception => true }))
      // a 0 read with the document still present is a torn/transient
      // read (or a legacy doc), never a foreign commit — those ADVANCE
      // the generation. Only a vanished document (foreign DROP) evicts.
      Some(st)
    else {
      // conditional: only the state we compared — never a successor
      // another thread registered since
      tables.remove(key, st)
      metaKeyCache.remove(dir)
      // recovery serves the winner's durable truth — including a foreign
      // DROP, which recovers to None
      recoverFromDisk(key).orElse(tables.get(key))
    }
  }

  /** The row-id metadata column set (`_batch_version`, `_batch_id`,
    * `_batch_pos`) — ONE definition shared by [[MemTable]] and
    * [[MemBranchTable]]: the delta row-id encoding must never diverge
    * between main and branch DML.
    */
  lazy val rowIdMetadataColumns: Array[org.apache.spark.sql.connector.catalog.MetadataColumn] = {
    def col(n: String, dt: org.apache.spark.sql.types.DataType, c: String) =
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = n
        override def dataType(): org.apache.spark.sql.types.DataType = dt
        override def isNullable: Boolean = false
        override def comment(): String = c
      }
    Array(
      col(BatchVersion, org.apache.spark.sql.types.LongType,
        "version of the committed batch this row belongs to"),
      col(BatchId, org.apache.spark.sql.types.LongType,
        "unique id of the committed batch this row belongs to"),
      col(BatchPos, org.apache.spark.sql.types.IntegerType,
        "row position within its committed batch"))
  }

  /** Every table key this catalog serves: the live registry plus
    * disk-recoverable tables not yet faulted in — `SHOW TABLES` after a
    * restart must list durable tables, not just the ones some query
    * already touched. The scan rides the mtime-cached [[metaKeyOf]], so
    * repeat listings cost a directory listing, not metadata parses.
    */
  def listKeys(): Seq[String] = {
    val onDisk = Option(tablesRoot.listFiles()).getOrElse(Array.empty)
      .filter(_.isDirectory).flatMap(metaKeyOf).toSeq
    // a configured catalog SERVICE is the discovery authority too — a
    // driver with no list permission on the warehouse still sees every
    // table the fleet committed. Unreachable service = LOUD failure,
    // like every other routed pointer op: silently listing only
    // locally-visible dirs would hide the fleet's tables
    (tables.keys.toSeq ++ onDisk ++ MetaIO.restListTables()).distinct.sorted
  }

  /** Entry-point lookup for procedures and DDL: registry, then DISK
    * RECOVERY — maintenance must work after a restart exactly like reads
    * do (a janitor's first `remove_orphan_files` of the day cannot
    * depend on some query having faulted the table in first). Mid-write
    * re-lookups deliberately stay on the raw registry (their
    * "dropped mid-op" contract).
    */
  private def required(key: String): State =
    get(key).getOrElse(
      throw new IllegalArgumentException(s"mem table $key does not exist"))

  /** Registry-only probe (no disk recovery) — lets specs observe whether
    * a table is currently memory-resident.
    */
  private[sources] def isLoaded(key: String): Boolean = tables.contains(key)

  /** DISK RECOVERY — the payoff of the durable metadata plane: a key the
    * registry has never seen (process restart, or an explicit
    * [[unload]]) is looked up under [[tablesRoot]]; a directory whose
    * `metadata.json` names the key reconstitutes the full table state —
    * version ledger, manifests, refs, DVs, branch stages — exactly as
    * the last publish left it. Newest directory wins when stale dirs
    * from dead processes share the key prefix; unreadable or
    * foreign-format metadata is skipped with a stderr note (a janitor
    * concern, never a read failure for the live table).
    */
  // directory -> (metadata.json mtime, table key) — identity probes are
  // the common path (every DROP IF EXISTS of an absent table scans), so
  // they must not re-parse; a changed mtime refreshes the entry, an
  // unreadable/foreign-format document caches as None (noted once)
  private val metaKeyCache =
    TrieMap.empty[String, (Long, Option[String])]

  private def metaKeyOf(d: java.io.File): Option[String] = {
    val mf = new java.io.File(d, TableMetadata.FileName)
    if (!mf.isFile) {
      // evict, not just skip: a dropped table's entry would otherwise
      // outlive its directory for the driver's whole lifetime
      metaKeyCache.remove(d.getPath)
      return None
    }
    val mt = mf.lastModified()
    metaKeyCache.get(d.getPath) match {
      case Some((t, k)) if t == mt => k
      case _ =>
        val k =
          try TableMetadata.peekKey(d.getPath)
          catch {
            case e: Exception =>
              System.err.println(
                s"graft: skipping unreadable table metadata at $d: ${e.getMessage}")
              None
          }
        metaKeyCache.put(d.getPath, (mt, k))
        k
    }
  }

  private def recoverFromDisk(key: String): Option[State] = {
    val root = tablesRoot
    if (!root.isDirectory) return None
    val prefix = sanitizeKey(key) + "-"
    val all = Option(root.listFiles()).getOrElse(Array.empty)
      .filter(_.isDirectory).sortBy(-_.lastModified())
    // prefix match is the fast path; a RENAMED table's directory keeps
    // its birth name, so the identity probe covers the rest — FULL
    // deserialization (manifests, sketches) happens only on the match
    val (named, rest) = all.partition(_.getName.startsWith(prefix))
    (named ++ rest).iterator
      .filter(d => metaKeyOf(d).contains(key))
      .flatMap { d =>
        try TableMetadata.load(d.getAbsolutePath)
        catch {
          case e: Exception =>
            System.err.println(
              s"graft: skipping unreadable table metadata at $d: ${e.getMessage}")
            None
        }
      }.collectFirst { case (k, st) if k == key =>
        // another thread may have recovered (or re-created) concurrently —
        // first registration wins, exactly like create
        tables.putIfAbsent(key, st).getOrElse(st)
      }
  }

  /** RENAME a table: a registry re-key — data, history, refs, and the
    * storage directory all stay put; the durable metadata re-persists
    * under the new key so disk recovery follows (the directory's name
    * prefix goes stale, which is why recovery falls back to a full
    * metadata scan). False if the source does not exist; throws if the
    * target name is taken.
    */
  def rename(oldKey: String, newKey: String): Boolean = {
    if (oldKey == newKey) return get(oldKey).isDefined
    get(oldKey) match {
      case None => false
      case Some(st) =>
        st.synchronized {
          // recovery probe first (it registers a disk-resident target),
          // then an ATOMIC reservation of the name — a contains-then-put
          // would let a concurrent CREATE TABLE land between the check
          // and the put and be silently clobbered
          if (recoverFromDisk(newKey).isDefined ||
              tables.putIfAbsent(newKey, st).isDefined)
            throw new IllegalArgumentException(
              s"cannot rename mem table $oldKey to $newKey: the target name exists")
          st.tableKey = newKey
          tables.remove(oldKey)
          persistMeta(st)
        }
        true
    }
  }

  /** Atomically publish a STAGED table (CTAS/RTAS — [[StagedMemTable]])
    * under its real name: until this call, the target name is untouched
    * (CTAS failure leaves NO table; REPLACE keeps serving the old table
    * through the whole query), and the swap itself is a registry re-key.
    * `replace` drops any existing target first; without it an existing
    * target fails the commit (the staging table is reclaimed either way).
    * `orCreate=false` additionally requires the target to exist (plain
    * REPLACE TABLE semantics).
    */
  def publishStaged(stagingKey: String, targetKey: String,
      replace: Boolean, orCreate: Boolean): Unit = {
    val st = get(stagingKey).getOrElse(throw new IllegalStateException(
      s"staged table $stagingKey vanished before commit"))
    def cleanupAnd(msg: String): Nothing = {
      drop(stagingKey)
      throw new IllegalStateException(msg)
    }
    st.synchronized {
      val existing = get(targetKey)
      if (!replace && existing.isDefined)
        cleanupAnd(s"cannot commit CTAS: table $targetKey was created " +
          "concurrently — the staged result is discarded")
      if (replace && !orCreate && existing.isEmpty)
        cleanupAnd(s"cannot commit REPLACE TABLE: $targetKey no longer exists")
      st.tableKey = targetKey
      existing match {
        case Some(old) if replace =>
          // the re-key is ONE atomic registry CAS (old → staged); the
          // destructive reclaim of the old table's storage happens only
          // AFTER the swap is won, so a racing create/drop can never
          // destroy both the old contents and the staged result
          if (!tables.replace(targetKey, old, st)) {
            st.tableKey = stagingKey
            cleanupAnd(s"cannot commit REPLACE TABLE: $targetKey changed " +
              "concurrently — the staged result is discarded")
          }
          ParquetRows.deleteDir(old.storageDir)
          metaKeyCache.remove(old.storageDir)
        case _ =>
          if (tables.putIfAbsent(targetKey, st).isDefined) {
            st.tableKey = stagingKey
            cleanupAnd(s"cannot publish staged table: $targetKey was " +
              "re-created concurrently")
          }
      }
      tables.remove(stagingKey)
      persistMeta(st)
    }
  }

  /** Drop a table's IN-MEMORY state only (`CALL graft.unload_table`):
    * data files and the metadata document stay on disk, and the next read
    * recovers them — the restart-survival drill, and the memory-pressure
    * valve a long-lived driver needs.
    */
  def unload(key: String): Unit = {
    val st = required(key)
    // the plane is already current (every mutation persists under the
    // monitor); this re-write is the cheap belt-and-braces that makes
    // unload safe even if a future mutation path forgets to persist
    st.synchronized(persistMeta(st))
    tables.remove(key)
  }

  /** One contribution to a publish:
    *
    *  - [[RowsPayload]] — rows the DRIVER holds (maintenance folds, delta
    *    post-images, direct commits); [[mkBatches]] writes them to a file;
    *  - [[FilesPayload]] — manifests of executor-written parquet files:
    *    the split, the stats pass, and the bytes all happened IN THE
    *    TASK; the driver commits paths.
    */
  sealed trait TaskPayload extends Serializable {
    def nonEmpty: Boolean
    def rowTotal: Long
  }
  final case class RowsPayload(rows: Array[InternalRow]) extends TaskPayload {
    def nonEmpty: Boolean = rows.nonEmpty
    def rowTotal: Long = rows.length.toLong
  }
  final case class FilesPayload(files: Vector[FileManifest]) extends TaskPayload {
    def nonEmpty: Boolean = files.nonEmpty
    def rowTotal: Long = files.iterator.map(_.count.toLong).sum
  }

  /** Materialize one task payload as committed [[TaggedBatch]]es at
    * `version`: rows are partition-split (one batch per partition tuple —
    * a no-op single group for unpartitioned tables) with stats computed
    * here; file manifests arrive pre-split and pre-stat'd by their write
    * task and are validated against the CURRENT spec (a spec evolution
    * racing an in-flight file write must fail the publish, not mislabel
    * tuples). Ids minted here. Callers hold the table monitor.
    */
  private def mkBatches(
      st: State, writeSchema: StructType, payload: TaskPayload,
      version: Long): Seq[TaggedBatch] = payload match {
    case RowsPayload(rs) =>
      splitByPartition(st.partitioning, writeSchema, rs).map { case (pt, rows) =>
        val stats = statsOf(writeSchema, rows, st.bloomCols.toSet)
        enforceNotNull(writeSchema, stats)
        TaggedBatch(writeSchema, version, version, storeFor(st, writeSchema, rows),
          batchId = st.mintBatchId(), stats = stats, part = pt,
          specId = st.currentSpecId)
      }
    case FilesPayload(files) =>
      files.map { f =>
        if (f.specId != st.currentSpecId)
          throw new IllegalStateException(
            s"partition spec evolved (write split under spec ${f.specId}, " +
              s"table now at spec ${st.currentSpecId}) — re-run the write")
        enforceNotNull(writeSchema, f.stats)
        TaggedBatch(writeSchema, version, version,
          FileStore(f.path, f.count, writeSchema, sorted = f.sorted),
          batchId = st.mintBatchId(), stats = f.stats, part = f.part,
          specId = f.specId)
      }
  }

  /** The store one DRIVER-materialized row group publishes under: the
    * driver writes the file — these are the maintenance paths whose rows
    * materialize driver-side anyway (compaction folds, sessionless CoW
    * delete survivors, rollback subsets, delta post-images).
    */
  private def storeFor(
      st: State, schema: StructType, rows: Array[InternalRow]): FileStore = {
    val path =
      s"${st.storageDir}/driver-${java.util.UUID.randomUUID().toString.take(12)}.parquet"
    ParquetRows.write(path, schema, rows.iterator)
    // verdict computed HERE, while the rows are in hand — the claim
    // maintenance must never re-read the file to learn it
    val declared = st.declaredSortOrder
    FileStore(path, rows.length, schema,
      sorted = declared.nonEmpty && batchSorted(schema, rows, declared))
  }

  /** Declared NOT NULL enforcement at PUBLISH (Spark's ANSI store
    * assignment already AssertNotNull-guards SQL writes; this is the
    * backstop for every path that reaches the commit protocol directly):
    * a non-nullable column receiving NULL rows rejects the publish
    * loudly — never a silently stored NULL. Stats-uncovered types carry
    * no null counts and skip the check (documented boundary).
    */
  private def enforceNotNull(
      schema: StructType, stats: Map[String, ColStats]): Unit =
    schema.fields.foreach { f =>
      if (!f.nullable) stats.get(f.name).foreach { s =>
        if (s.nullCount > 0)
          throw new IllegalArgumentException(
            s"NOT NULL constraint violated: column ${f.name} received " +
              s"${s.nullCount} NULL row(s)")
      }
    }

  /** ORPHAN-FILE removal (`CALL graft.remove_orphan_files('t')` — the
    * Iceberg maintenance op): delete every parquet file under the table's
    * storage directory that NO batch references — retained snapshots,
    * current state, and branch stages all count as references. Orphans
    * accrue from publishes rejected inside the commit call itself
    * (optimistic-concurrency and spec conflicts fire after task files are
    * written) and from crashes between task commit and driver publish; at
    * 100 TB this sweep is a scheduled janitor against object-storage
    * bills, never a correctness need (orphans are invisible by
    * construction). `graceMillis` is the age floor (Iceberg's
    * `older_than`, default 3 days): a file younger than it is NEVER
    * deleted even when unreferenced — an in-flight write's task files are
    * committed on executors BEFORE the driver publish registers them, so
    * a zero-grace sweep racing that window would delete files the
    * imminent publish commits manifests to. Returns (orphans deleted,
    * files kept — referenced OR within grace).
    */
  val DefaultOrphanGraceMs: Long = 3L * 24 * 3600 * 1000 // Iceberg's default

  def removeOrphanFiles(
      key: String, graceMillis: Long = DefaultOrphanGraceMs): (Long, Long) = {
    val st = required(key)
    if (graceMillis < 0)
      throw new IllegalArgumentException(
        s"older_than_ms must be non-negative, got $graceMillis")
    st.synchronized {
      val dir = st.storageDir
      // EVERY batch counts — including removedAt (retained history)
      // and branch stages; only expiry may shrink that set
      val allBatches = (st.batches.iterator ++
        st.branches.valuesIterator.flatMap(_.batches.iterator)).toVector
      val referenced = allBatches.iterator.map(_.store.path).toSet
      // manifests of referenced batches stay too (expiry leaves the
      // physically-dropped batches' manifests as sweepable orphans)
      val referencedManifests = allBatches.iterator
        .map(TableMetadata.manifestNameOf).toSet
      // DV sidecars referenced by the current plane: main batches +
      // branch stages — superseded vectors (new kills minted a new
      // content-derived name) age out like superseded data files
      val referencedDvs = (st.batches.iterator
        .flatMap(TableMetadata.dvFileNameOf) ++
        st.branches.valuesIterator.flatMap(_.dvs.iterator.flatMap {
          case (bid, poss) => TableMetadata.branchDvFileNameOf(bid, poss)
        })).toSet
      val cutoff = System.currentTimeMillis() - graceMillis
      val onDisk = Option(new java.io.File(dir).listFiles())
        .getOrElse(Array.empty)
        .filter(f => f.isFile && (f.getName.endsWith(".parquet") ||
          (f.getName.startsWith("manifest-") && f.getName.endsWith(".json")) ||
          (f.getName.startsWith("dv-") && f.getName.endsWith(".bin"))))
      val (kept, orphans) = onDisk.partition { f =>
        (if (f.getName.endsWith(".parquet")) referenced.contains(f.getAbsolutePath)
         else if (f.getName.endsWith(".bin")) referencedDvs.contains(f.getName)
         else referencedManifests.contains(f.getName)) ||
          f.lastModified() > cutoff
      }
      orphans.foreach(f =>
        if (f.getName.endsWith(".parquet")) ParquetRows.delete(f.getAbsolutePath)
        else f.delete())
      (orphans.length.toLong, kept.length.toLong)
    }
  }

  def drop(key: String): Boolean = get(key) match { // get: DROP of a
    // disk-resident table must work after a restart, like any entry point
    case Some(st) =>
      tables.remove(key)
      ParquetRows.deleteDir(st.storageDir)
      metaKeyCache.remove(st.storageDir) // and the recovery-scan cache entry
      true
    case None => false
  }

  /** Metadata-only schema swap (ALTER TABLE): committed batches are left
    * untouched and keep their write-time schema tags. Columns present in
    * the old schema but absent from the new one — and not renamed — are
    * tombstoned at the new version, so a later re-ADD of the same name
    * starts a fresh field (pre-drop batches read NULL for it) instead of
    * resurrecting old data. `renames` (old name → new name) extends each
    * renamed field's era timeline so old batches keep projecting its
    * bytes; type widening needs no ledger change (same name, values
    * convert at read per [[widens]]).
    */
  def alterSchema(key: String, newSchema: StructType,
      renames: Map[String, String] = Map.empty,
      addDefaults: Map[String, Any] = Map.empty): Unit = {
    val st = tables.getOrElse(key,
      throw new IllegalStateException(s"mem table $key dropped mid-alter"))
    st.synchronized {
      // upsert key columns are the table's identity: dropping or renaming
      // one would silently re-key every future epoch's equality deletes
      st.createProps.get(UpsertKeysProp).foreach { ks =>
        val keys = ks.split(',').map(_.trim).toSet
        val touched = keys.intersect(
          (st.schema.fieldNames.toSet -- newSchema.fieldNames.toSet) ++ renames.keySet)
        if (touched.nonEmpty)
          throw new IllegalArgumentException(
            s"cannot drop/rename upsert key column(s) ${touched.mkString(", ")} of $key")
      }
      // partition columns are the table's LAYOUT identity: every committed
      // batch's partition tuple, the scan's reported clustering, and the
      // bucket hash are all typed against them — dropping, renaming, or
      // retyping one would silently re-key the layout. EVERY spec in the
      // timeline is protected, not just the current one: old batches still
      // carry tuples interpreted under their written spec, and a reused
      // column name would let filters wrongly prune them (migrate old
      // batches off a spec with `rewrite_data_files` before dropping its
      // columns — mirroring Iceberg, where a spec referencing a column
      // blocks the drop).
      if (st.specHistory.exists(_.nonEmpty)) {
        val pcols = st.specHistory.flatten.map(_.col).toSet
        val dropped = pcols.intersect(
          (st.schema.fieldNames.toSet -- newSchema.fieldNames.toSet) ++ renames.keySet)
        if (dropped.nonEmpty)
          throw new IllegalArgumentException(
            s"cannot drop/rename partition column(s) ${dropped.mkString(", ")} of $key")
        val retyped = pcols.filter { c =>
          val oldT = st.schema.fields.find(_.name == c).map(_.dataType)
          val newT = newSchema.fields.find(_.name == c).map(_.dataType)
          oldT.isDefined && newT.isDefined && oldT != newT
        }
        if (retyped.nonEmpty)
          throw new IllegalArgumentException(
            s"cannot change the type of partition column(s) ${retyped.mkString(", ")} of $key")
      }
      // a DECLARED write sort order names live columns forever (every
      // write requests it): dropping or renaming one would fail all
      // future writes at analysis — reject like a partition column
      // (widening is fine: order is preserved under numeric promotion)
      if (st.declaredSortOrder.nonEmpty) {
        val gone = st.declaredSortOrder.filter(c =>
          renames.contains(c) ||
            (!newSchema.fieldNames.contains(c) && st.schema.fieldNames.contains(c)))
        if (gone.nonEmpty)
          throw new IllegalArgumentException(
            s"cannot drop/rename declared sort-order column(s) " +
              s"${gone.mkString(", ")} of $key")
      }
      st.version += 1
      val dropped =
        st.schema.fieldNames.toSet -- newSchema.fieldNames.toSet -- renames.keySet
      if (dropped.nonEmpty)
        st.droppedAt = st.droppedAt ++ dropped.map(_ -> st.version)
      var eras = st.eras -- dropped // a dropped field's timeline retires
      renames.foreach { case (from, to) =>
        val timeline = eras.getOrElse(from, Vector((0L, from)))
        eras = eras - from + (to -> (timeline :+ (st.version, to)))
      }
      val added = newSchema.fieldNames.toSet -- st.schema.fieldNames.toSet --
        renames.values.toSet
      eras = eras ++ added.map(n => n -> Vector((st.version, n)))
      st.eras = eras
      st.schema = newSchema
      // EXISTS defaults of columns added at THIS version (`ALTER ADD
      // COLUMN ... DEFAULT`): pre-alter batches read the value instead of
      // NULL. A later drop retires the default with the field; a re-add
      // starts clean (or with its own default). Defaults FOLLOW a rename —
      // the lookup key is the CURRENT column name ([[defaultFor]] binds the
      // projection target), so a default stranded under the old name would
      // silently turn pre-alter rows NULL.
      val renamedDefaults = st.columnDefaults.map { case (k, v) =>
        (renames.getOrElse(k, k), v)
      }
      st.columnDefaults = (renamedDefaults -- dropped -- added) ++
        addDefaults.view.mapValues(v => (st.version, v)).toMap
      // a sort-order claim names CURRENT columns: renaming or dropping one
      // of them retires the claim (widening preserves order and keeps it)
      if (st.sortedBy.exists(c => renames.contains(c) || dropped.contains(c)))
        st.clearSortOrder()
      st.history = st.history :+ SchemaAt(st.version, newSchema, st.droppedAt, eras,
        st.columnDefaults)
      st.stamp("alter")
    }
  }

  /** PARTITION SPEC EVOLUTION (`CALL graft.replace_partition_spec('t',
    * 'months(d), bucket(8, k)')` — Iceberg's signature layout feature):
    * append a new spec to the timeline at a fresh metadata-only version.
    * Committed batches are untouched — they keep their written spec id and
    * tuple, are still pruned under THAT spec, and stay readable at every
    * snapshot; only future writes split under the new spec. Mixed-era
    * tables decline storage-partitioned planning (scans report
    * KeyGroupedPartitioning only when every visible batch shares one spec)
    * and reject dynamic overwrite (tuple identity is per-spec); a
    * `rewrite_data_files` migrates everything live to the current spec and
    * restores both. Returns the new version.
    */
  def replacePartitionSpec(key: String, newSpec: Seq[PartField]): Long = {
    val st = required(key)
    st.synchronized {
      validateSpec(st.schema, newSpec)
      if (newSpec == st.partitioning)
        throw new IllegalArgumentException(
          s"mem table $key already has partition spec " +
            s"'${renderSpec(newSpec)}' — nothing to replace")
      st.version += 1
      st.specHistory = st.specHistory :+ newSpec
      st.stamp("replace-spec")
      st.version
    }
  }

  /** Render a spec in the `PARTITIONED BY` surface syntax (the inverse of
    * [[parseSpec]]).
    */
  def renderSpec(spec: Seq[PartField]): String = spec.map {
    case IdentityPart(c) => c
    case BucketPart(n, c) => s"bucket($n, $c)"
    case TimePart(unit, c) => s"$unit($c)"
    case TruncatePart(w, c) => s"truncate($w, $c)"
  }.mkString(", ")

  /** Parse a spec string (`"months(d), bucket(8, k), v"` — the
    * `PARTITIONED BY` surface syntax; '' = unpartitioned) into the
    * [[PartField]] algebra. Splits on top-level commas only.
    */
  def parseSpec(s: String): Seq[PartField] = {
    val fields = scala.collection.mutable.ArrayBuffer.empty[String]
    var depth = 0
    val cur = new StringBuilder
    s.foreach {
      case '(' => depth += 1; cur += '('
      case ')' => depth -= 1; cur += ')'
      case ',' if depth == 0 => fields += cur.result(); cur.clear()
      case c => cur += c
    }
    fields += cur.result()
    val Fn = """(\w+)\s*\(\s*([^)]*)\s*\)""".r
    fields.map(_.trim).filter(_.nonEmpty).map {
      case Fn(name, args0) =>
        val args = args0.split(',').map(_.trim).filter(_.nonEmpty).toSeq
        (name.toLowerCase, args) match {
          case ("bucket", Seq(n, c)) => BucketPart(n.toInt, c)
          case ("truncate", Seq(w, c)) => TruncatePart(w.toInt, c)
          case (unit, Seq(c)) if TimeUnits.contains(unit) => TimePart(unit, c)
          case (unit, Seq(c)) if TimeUnits.contains(unit + "s") =>
            TimePart(unit + "s", c)
          case ("identity", Seq(c)) => IdentityPart(c)
          case _ => throw new IllegalArgumentException(
            s"unsupported partition transform '$name(${args0.trim})' " +
              "(supported: identity, bucket(n, col), years/months/days/hours(col), " +
              "truncate(w, col))")
        }
      case bare => IdentityPart(bare)
    }.toSeq
  }

  /** SNAPSHOT EXPIRY (retention) — the aging-out half of the snapshot
    * model the timeline docs defer to: drop history strictly BEFORE
    * `olderThan`, after which `VERSION/TIMESTAMP AS OF` reads and change
    * windows into the expired range fail loudly. Physically dropped are
    * exactly the batches invisible at every version >= olderThan
    * (`removedAt <= olderThan`) — current reads, reads at any retained
    * version, and change windows from the new horizon onward are
    * byte-identical to pre-expiry (spec-asserted). Timeline metadata
    * (history / versionTimes) is compacted to the newest entry at-or-
    * before the horizon plus everything after, preserving resolution for
    * every retained version. This is the only operation that DELETES
    * timeline; it never changes the semantics of what remains — the
    * Iceberg `expireSnapshots` / Delta `VACUUM` contract. Returns
    * (expired batch count, new earliest version).
    */
  /** One staged branch: the base snapshot it forked from and its staged
    * APPENDS (each one write's task batches, kept append-granular so
    * `fast_forward` republishes them as one main version per append —
    * history and the change feed then show the same commits an unstaged
    * write sequence would have produced). Staged batches are real
    * [[TaggedBatch]]es tagged AT the base version (their bytes bind to the
    * base-era schema; stats are computed at stage time), so the branch
    * read path is the ordinary scan over base-visible + staged batches.
    */
  final case class BranchState(base: Long, appends: Vector[Vector[TaggedBatch]],
      // branch-scoped ROW KILLS (batchId → dead positions): staged DML
      // overlays — DELETE/UPDATE/MERGE against the branch record kills
      // here (over base AND staged batches alike), invisible to main
      // until fast_forward republishes them as one DV-delete commit
      dvs: Map[Long, Set[Int]] = Map.empty) {
    def batches: Vector[TaggedBatch] = appends.flatten
  }

  /** Create a writable BRANCH forked at retained snapshot `fromVersion`
    * ([[State.branches]]). Only a branch whose base IS the current version
    * can later fast-forward (anything else has diverged), but forking an
    * older retained snapshot is still legal — it gives a read/stage
    * sandbox whose publish is simply rejected.
    */
  def createBranch(key: String, branch: String, fromVersion: Long): Unit = {
    val st = required(key)
    st.synchronized {
      if (branch.isEmpty || branch.contains("."))
        throw new IllegalArgumentException(
          s"branch name '$branch' is invalid (must be non-empty, no dots)")
      if (st.branches.contains(branch))
        throw new IllegalArgumentException(
          s"branch '$branch' already exists on $key at base ${st.branches(branch).base}")
      if (fromVersion < st.earliestVersion || fromVersion > st.version)
        throw new IllegalArgumentException(
          s"cannot branch $key at version $fromVersion: retained history is " +
            s"[${st.earliestVersion}, ${st.version}]")
      st.branches = st.branches.updated(branch, BranchState(fromVersion, Vector.empty))
      persistMeta(st)
    }
  }

  def dropBranch(key: String, branch: String): Unit = {
    val st = required(key)
    st.synchronized {
      val bs = st.branches.getOrElse(branch,
        throw new IllegalArgumentException(s"branch '$branch' does not exist on $key"))
      st.branches = st.branches - branch
      // file-backed staged batches never published — reclaim their files
      // (a fast-forwarded branch keeps them: its batches moved to main)
      bs.batches.foreach(b => ParquetRows.delete(b.store.path))
      persistMeta(st)
    }
  }

  /** Stage one write's task files onto a branch — invisible to main,
    * versionless (the version slots are minted at publish).
    */
  def commitToBranch(
      key: String, branch: String,
      writeSchema: StructType, batches: Seq[FilesPayload]): Unit = {
    val st = tables.getOrElse(key,
      throw new IllegalStateException(s"mem table $key dropped mid-write"))
    st.synchronized {
      val bs = st.branches.getOrElse(branch,
        throw new IllegalStateException(s"branch '$branch' of $key dropped mid-write"))
      val staged = batches.flatMap(_.files.map { f =>
        // a branch stage must not fast-forward NULLs past a NOT NULL column
        enforceNotNull(writeSchema, f.stats)
        // ids minted at STAGING (not publish): branch DML keys its kills
        // on them, and fast_forward preserves them
        TaggedBatch(writeSchema, bs.base, bs.base,
          FileStore(f.path, f.count, writeSchema),
          batchId = st.mintBatchId(),
          stats = f.stats, part = f.part, specId = f.specId)
      }).toVector
      st.branches = st.branches.updated(branch,
        bs.copy(appends = bs.appends :+ staged))
      persistMeta(st)
    }
  }

  /** PUBLISH a branch (`CALL graft.fast_forward`): replay its staged
    * appends onto main — one ordinary commit version per append — then
    * drop the ref. Rejected when main moved past the branch base (a
    * publish would silently reorder history around the interleaved
    * commits — the caller re-stages against the new state instead), which
    * is exactly Iceberg's ancestor requirement on fast-forward. Returns
    * (appends published, new current version).
    */
  def fastForward(key: String, branch: String): (Long, Long) = {
    val st = required(key)
    st.synchronized {
      val bs = st.branches.getOrElse(branch,
        throw new IllegalArgumentException(s"branch '$branch' does not exist on $key"))
      if (st.version != bs.base)
        throw new IllegalStateException(
          s"cannot fast-forward branch '$branch' of $key: main is at version " +
            s"${st.version} but the branch forked at ${bs.base} — it has diverged; " +
            "drop the branch and re-stage against the current state")
      // ID-PRESERVING publish: staged batches land EXACTLY as staged —
      // same batchId (the branch's staged kills key on it), same store
      // (file-backed stages republish by manifest reference), same
      // partition tuple (split happened at stage time; a spec evolution
      // since then moved main past the base, which the divergence check
      // above already rejected). One main version per staged append, so
      // history and the change feed show the same commits an unstaged
      // write sequence would have produced.
      bs.appends.filter(_.nonEmpty).foreach { staged =>
        st.version += 1
        val fresh = staged.map(b => b.copy(version = st.version, writeVersion = st.version))
        st.batches = st.batches ++ fresh
        maintainSortClaim(st, fresh, truncate = false)
        st.stamp("append")
      }
      // staged DML kills publish as ONE DV-delete commit (branch-scoped
      // DELETE/UPDATE/MERGE become real row-level deletes at this version;
      // kill-only, so relative row order — and any sort claim — survives)
      if (bs.dvs.nonEmpty) {
        st.version += 1
        st.batches = st.batches.map { b =>
          bs.dvs.get(b.batchId) match {
            case Some(dead) if b.removedAt == Long.MaxValue && dead.nonEmpty =>
              b.copy(dv = b.dv ++ dead.iterator.map(_ -> st.version))
            case _ => b
          }
        }
        st.stamp("delete")
      }
      st.branches = st.branches - branch
      persistMeta(st)
      (bs.appends.count(_.nonEmpty).toLong, st.version)
    }
  }

  /** Stage one DML delta onto a BRANCH (branch-scoped DELETE / UPDATE /
    * MERGE — the mutation half of write-audit-publish): row kills land in
    * the branch's DV overlay, post-images/inserts as a staged append —
    * main is untouched until `fast_forward` republishes both atomically,
    * and a dropped branch discards them without a trace. Row ids are
    * validated against the branch's CURRENT view (base-visible + staged,
    * existing kills applied) exactly like [[applyDelta]] validates against
    * main. Merge-on-read tables only: the branch overlay IS a DV plane.
    */
  def stageDeltaToBranch(
      key: String, branch: String, writeSchema: StructType,
      deletes: Seq[(Long, Int)], inserts: Seq[Array[InternalRow]],
      updates: Seq[((Long, Int), InternalRow)] = Nil): Unit = {
    val st = tables.getOrElse(key,
      throw new IllegalStateException(s"mem table $key dropped mid-delta"))
    st.synchronized {
      val bs = st.branches.getOrElse(branch,
        throw new IllegalStateException(s"branch '$branch' of $key dropped mid-delta"))
      val allDeletes = deletes ++ updates.map(_._1)
      val byBatch = allDeletes.groupMap(_._1)(_._2)
      if (byBatch.nonEmpty) {
        val dups = allDeletes.groupBy(identity).collect { case (id, g) if g.size > 1 => id }
        if (dups.nonEmpty)
          throw new IllegalStateException(
            s"branch '$branch' of $key: delta deletes the same row id(s) twice " +
              s"in one stage: ${dups.mkString(", ")}")
        val visible = (st.batches.filter(b =>
          b.version <= bs.base && b.removedAt > bs.base) ++ bs.batches)
          .map(b => b.batchId -> b).toMap
        val missing = byBatch.keySet -- visible.keySet
        if (missing.nonEmpty)
          throw new IllegalStateException(
            s"branch '$branch' of $key: delta targets unknown batch ids $missing")
        byBatch.foreach { case (id, poss) =>
          val b = visible(id)
          val deadAlready = b.deadAt(bs.base) ++ bs.dvs.getOrElse(id, Set.empty)
          val bad = poss.filter(p => p < 0 || p >= b.rowCount || deadAlready.contains(p))
          if (bad.nonEmpty)
            throw new IllegalStateException(
              s"branch '$branch' of $key: delta deletes invalid/already-deleted " +
                s"positions $bad of batch $id")
        }
      }
      val newDvs = byBatch.foldLeft(bs.dvs) { case (m, (id, poss)) =>
        m.updated(id, m.getOrElse(id, Set.empty) ++ poss)
      }
      val postRows = updates.map(_._2).toArray
      val appendRows = (inserts.flatten ++ postRows).toArray
      val staged: Vector[TaggedBatch] =
        if (appendRows.isEmpty) Vector.empty
        else splitByPartition(st.partitioning, writeSchema, appendRows)
          .map { case (pt, rows) =>
            val stats = statsOf(writeSchema, rows, st.bloomCols.toSet)
            enforceNotNull(writeSchema, stats)
            TaggedBatch(writeSchema, bs.base, bs.base, storeFor(st, writeSchema, rows),
              batchId = st.mintBatchId(), stats = stats, part = pt,
              specId = st.currentSpecId)
          }.toVector
      st.branches = st.branches.updated(branch,
        bs.copy(
          appends = if (staged.isEmpty) bs.appends else bs.appends :+ staged,
          dvs = newDvs))
      persistMeta(st)
    }
  }

  /** Create / drop a named snapshot TAG ([[State.tags]]): `create` binds
    * `tag` to a retained version (fails on duplicates, unretained or
    * future versions); `drop` removes it. Resolution happens in the
    * catalog's `VERSION AS OF` path (non-numeric version strings).
    */
  def createTag(key: String, tag: String, version: Long): Unit = {
    val st = required(key)
    st.synchronized {
      // the resolver treats any Long-parsable string as a version id, so
      // the SAME predicate must gate names here — isDigit alone would
      // accept '+3', which Long.parseLong also accepts, leaving a tag
      // that silently resolves to version 3 instead of its snapshot
      if (tag.isEmpty || scala.util.Try(tag.toLong).isSuccess)
        throw new IllegalArgumentException(
          s"tag name '$tag' is invalid (must be non-empty and not parse as a version id)")
      if (st.tags.contains(tag))
        throw new IllegalArgumentException(
          s"tag '$tag' already exists on $key at version ${st.tags(tag)} — drop it first")
      if (version < st.earliestVersion || version > st.version)
        throw new IllegalArgumentException(
          s"cannot tag version $version of $key: retained history is " +
            s"[${st.earliestVersion}, ${st.version}]")
      st.tags = st.tags.updated(tag, version)
      persistMeta(st)
    }
  }

  def dropTag(key: String, tag: String): Unit = {
    val st = required(key)
    st.synchronized {
      if (!st.tags.contains(tag))
        throw new IllegalArgumentException(s"tag '$tag' does not exist on $key")
      st.tags = st.tags - tag
      persistMeta(st)
    }
  }

  def expireSnapshots(key: String, olderThan: Long): (Long, Long) = {
    val st = required(key)
    st.synchronized {
      if (olderThan < 0 || olderThan > st.version)
        throw new IllegalArgumentException(
          s"expire horizon $olderThan outside table history [0, ${st.version}]")
      // a TAG pins its snapshot: refuse to expire a tagged version out of
      // readability — the operator drops the tag first, explicitly
      val pinned = st.tags.filter(_._2 < olderThan)
      if (pinned.nonEmpty)
        throw new IllegalArgumentException(
          s"expire horizon $olderThan would expire tagged snapshot(s) of $key: " +
            pinned.map { case (t, v) => s"'$t'@v$v" }.mkString(", ") +
            " — drop the tag(s) first")
      // a branch's BASE is equally pinned: its staged reads replay that
      // snapshot, so expiring it would orphan the branch
      val pinnedBranches = st.branches.filter(_._2.base < olderThan)
      if (pinnedBranches.nonEmpty)
        throw new IllegalArgumentException(
          s"expire horizon $olderThan would expire branch base snapshot(s) of $key: " +
            pinnedBranches.map { case (b, s) => s"'$b'@v${s.base}" }.mkString(", ") +
            " — drop or publish the branch(es) first")
      val (gone, kept) = st.batches.partition(_.removedAt <= olderThan)
      st.batches = kept
      // batches physically dropped by expiry reclaim their files (the
      // VACUUM half of retention) — EXCEPT files a surviving batch still
      // references: a whole-batch rollback restore shares its original's
      // store by reference, and deleting the file under the live copy
      // would corrupt it
      val keptFiles = kept.iterator.map(_.store.path).toSet ++
        st.branches.valuesIterator.flatMap(_.batches).map(_.store.path)
      gone.iterator.map(_.store.path).filterNot(keptFiles.contains)
        .foreach(ParquetRows.delete)
      st.earliestVersion = math.max(st.earliestVersion, olderThan)
      // keep the newest metadata entry at-or-before the horizon (it binds
      // reads AT the horizon) and every later one
      val hKeep = st.history.lastIndexWhere(_.version <= olderThan)
      if (hKeep > 0) st.history = st.history.drop(hKeep)
      val tKeep = st.versionTimes.lastIndexWhere(_._1 <= olderThan)
      if (tKeep > 0) st.versionTimes = st.versionTimes.drop(tKeep)
      st.opKinds = st.opKinds.filter(_._1 >= st.versionTimes.head._1)
      // compaction markers for expired versions are unreachable (no
      // retained change window can straddle them) — prune alongside the
      // opKinds ledger or the set grows for the table's whole lifetime
      st.compactionVersions =
        st.compactionVersions.filter(_ >= st.versionTimes.head._1)
      // update-image linkage for expired versions is equally unreachable;
      // post-batch markers survive only while their batch does
      st.updatedAt = st.updatedAt.filter(_._1 >= st.versionTimes.head._1)
      val liveIds = st.batches.iterator.map(_.batchId).toSet
      st.updatePostBatches = st.updatePostBatches.filter(liveIds.contains)
      // equality deletes whose window covers NO retained batch (main or
      // branch stage) can never kill a row again — prune them, or a
      // long-running upsert stream's ledger (one key set per epoch) grows
      // for its whole lifetime, re-serialized into metadata.json on every
      // commit and re-filtered per batch at every scan planning
      val branchBatches = st.branches.valuesIterator.flatMap(_.batches).toVector
      st.eqDeletes = st.eqDeletes.filter(e =>
        (kept.iterator ++ branchBatches.iterator).exists(b =>
          e.version > b.version && e.version <= b.removedAt))
      persistMeta(st)
      (gone.size.toLong, st.earliestVersion)
    }
  }

  /** Retention by DURATION (`CALL graft.expire_older_than('t', TIMESTAMP
    * '...')`) — the operational form of [[expireSnapshots]]: resolve the
    * wall-clock horizon against the same strictly-monotone stamps
    * `TIMESTAMP AS OF` uses (expired = every snapshot stamped strictly
    * before the instant; the newest version is always retained), then
    * delegate — so tag and branch pins apply identically. Returns
    * (expired batch count, new earliest version).
    */
  def expireSnapshotsOlderThan(key: String, tsMicros: Long): (Long, Long) = {
    val st = required(key)
    st.synchronized { // reentrant: horizon resolution + expiry are atomic
      val horizon = st.versionTimes.find(_._2 >= tsMicros).map(_._1)
        .getOrElse(st.version)
      expireSnapshots(key, horizon)
    }
  }

  /** ROLLBACK (`CALL graft.rollback_table('t', v)`) — restore the table's
    * DATA visibility to retained snapshot `toVersion` as a NEW versioned
    * operation (Iceberg `rollback_to_snapshot` / Delta `RESTORE`): history
    * is never unwound — every snapshot between the target and the rollback
    * stays an exact replay, and the rollback owns its own version slot
    * (kind `rollback`) so the ledger records that it happened. Current
    * SCHEMA is deliberately untouched (the Iceberg contract: rollback
    * moves the snapshot pointer, not the metadata evolution) — restored
    * rows project by name into the current schema like any old batch.
    *
    * Mechanics, all metadata-cost except where a DV forces a row copy:
    *  - live batch not visible at the target → soft-remove at the new
    *    version (it arrived after the target);
    *  - batch visible at the target but since removed (or since DV-pruned)
    *    → re-add a COPY visible from the new version holding exactly the
    *    rows live at the target. Without a DV the copy SHARES the row
    *    array (pointer cost); with one it materializes the target's live
    *    rows and carries NO vector — re-publishing the old DV would make
    *    the change feed's insert event at the rollback version resurrect
    *    rows that were already dead at the target;
    *  - batch visible and identical at both → untouched (no CDC churn).
    * The change feed therefore shows the rollback as ordinary events at
    * its own version — removes of the undone commits' rows, inserts of
    * the restored ones — never a rewound window. A rollback to the
    * current state is a no-op and burns no version. Returns
    * (batches removed, batches restored, version).
    */
  def rollback(key: String, toVersion: Long): (Long, Long, Long) = {
    val st = required(key)
    st.synchronized {
      if (toVersion < st.earliestVersion || toVersion > st.version)
        throw new IllegalArgumentException(
          s"cannot roll back $key to version $toVersion: retained history is " +
            s"[${st.earliestVersion}, ${st.version}]")
      val v = st.version + 1
      def visibleAtTarget(b: TaggedBatch): Boolean =
        b.version <= toVersion && toVersion < b.removedAt
      def liveNow(b: TaggedBatch): Boolean = b.removedAt == Long.MaxValue
      def killsOf(b: TaggedBatch): Map[Int, Long] =
        effectiveKills(b, st.eqDeletes, st.eras, st.droppedAt)
      // row kills (DV entries OR equality-delete matches) recorded after
      // the target are deletes the rollback undoes
      def dvDrifted(b: TaggedBatch): Boolean = killsOf(b).exists(_._2 > toVersion)
      val toRemove = st.batches.filter(b => liveNow(b) &&
        (!visibleAtTarget(b) || dvDrifted(b)))
      val toRestore = st.batches.filter(b => visibleAtTarget(b) &&
        (!liveNow(b) || dvDrifted(b)))
      if (toRemove.isEmpty && toRestore.isEmpty) (0L, 0L, st.version)
      else {
        st.version = v
        val removeIds = toRemove.map(_.batchId).toSet
        val restored = toRestore.flatMap { b =>
          val deadAtTarget =
            killsOf(b).collect { case (p, at) if at <= toVersion => p }.toSet
          val subset = deadAtTarget.nonEmpty
          val rows = if (!subset) b.rows
            else b.rows.indices.filterNot(deadAtTarget).map(b.rows).toArray
          if (rows.isEmpty) None
          // fresh stats when the copy materialized a row subset: inherited
          // bounds stay sound for SKIPPING but the aggregate pushdown
          // treats stats as exact, and a dropped row may be the extreme.
          // A whole-batch restore keeps the original store (file-backed
          // batches are restored by manifest, never re-materialized).
          else Some(TaggedBatch(b.schema, v, b.writeVersion,
            if (subset) storeFor(st, b.schema, rows) else b.store,
            batchId = st.mintBatchId(),
            stats = if (subset) statsOf(b.schema, rows, st.bloomCols.toSet) else b.stats,
            part = b.part, specId = b.specId))
        }
        st.batches = st.batches.map { b =>
          if (removeIds.contains(b.batchId)) b.copy(removedAt = v) else b
        } ++ restored
        st.clearSortOrder() // restored snapshots predate the sort claim
        st.stamp("rollback")
        (toRemove.size.toLong, restored.size.toLong, v)
      }
    }
  }

  /** Atomic publish of a row-level (UPDATE / MERGE / rewrite-DELETE)
    * operation's replacement rows: soft-remove the REPLACED live batches —
    * exactly the ones the operation's scan read (`versions`; None = the
    * scan was not runtime-group-filtered and read every live batch) — and
    * commit the replacements, all under one new version. This is what
    * makes copy-on-write DML cost proportional to the batches CONTAINING
    * matches instead of the table: at 100 TB an UPDATE touching one
    * partition's files must not rewrite the other 99.999%.
    *
    * OPTIMISTIC CONCURRENCY, snapshot-isolation granularity (the
    * Iceberg serializable/snapshot-isolation split): `expectedVersion` is
    * the table version the operation's scan planned against. An
    * interleaved commit is a CONFLICT only when it touched what this
    * rewrite actually SCANNED — a scanned batch soft-removed, a scanned
    * batch that gained delete-vector kills, or an equality delete landing
    * after the scan (its key kills could overlap scanned rows). A
    * disjoint append — the overwhelmingly common race on a busy 100 TB
    * table — commits concurrently: the rewrite replaces exactly the
    * batches it read, and the appended batches survive untouched (the
    * replacement set is bounded to batches visible AT the scanned
    * version, so a whole-table rewrite can never erase rows it never
    * read).
    */
  def replaceBatches(
      key: String,
      versions: Option[Set[Long]],
      expectedVersion: Option[Long],
      writeSchema: StructType,
      batches: Seq[TaskPayload]): Unit = {
    val st = tables.getOrElse(key,
      throw new IllegalStateException(s"mem table $key dropped mid-rewrite"))
    st.synchronized {
      val bound = expectedVersion.getOrElse(st.version)
      def scannedBy(b: TaggedBatch): Boolean =
        b.version <= bound && versions.forall(_.contains(b.version))
      expectedVersion.foreach { v =>
        if (st.version != v) {
          def conflict(what: String): Nothing = throw new IllegalStateException(
            s"mem table $key: concurrent commit detected — the row-level rewrite " +
              s"scanned version $v but an interleaved commit $what; " +
              "publishing would lose its effect. Re-run the DML.")
          // scanned = live at v within the operation's group set
          val touched = st.batches.filter(b => scannedBy(b) && b.removedAt > v &&
            (b.removedAt != Long.MaxValue || b.dv.exists(_._2 > v)))
          if (touched.nonEmpty)
            conflict(s"modified scanned batch(es) ${touched.map(_.batchId).mkString(", ")}")
          if (st.eqDeletes.exists(_.version > v))
            conflict("published equality deletes")
        }
      }
      st.version += 1
      st.batches = st.batches.map { b =>
        if (b.removedAt == Long.MaxValue && scannedBy(b))
          b.copy(removedAt = st.version)
        else b
      } ++ batches.filter(_.nonEmpty)
        .flatMap(p => mkBatches(st, writeSchema, p, st.version))
      st.clearSortOrder()
      st.stamp("rewrite")
    }
  }

  /** The compaction no-op rule of `CALL graft.compact_table` (the
    * distributed rewrite in [[CompactTableProcedure]]): nothing to compact
    * when at most one live batch exists and no delete vector overlays it,
    * so a no-op call burns no version. Some(result) = skip, None = run.
    */
  def compactNoop(st: State): Option[(Long, Long, Long)] = st.synchronized {
    val live = st.batches.filter(_.removedAt == Long.MaxValue)
    if (live.size <= 1 && !live.exists(_.dv.nonEmpty)) Some((0L, 0L, st.version))
    else None
  }

  /** Atomic publish of a DISTRIBUTED compaction (`compact_table` and
    * `rewrite_data_files` run the rewrite as a SPARK JOB — scan the
    * current snapshot through the ordinary read path, optionally
    * range-partition + sort, write task-side, publish here): soft-remove
    * every live batch and commit the job's task batches at one new
    * CDC-invisible version (the change feed skips its remove/re-insert
    * events — the Iceberg rule that incremental reads ignore `replace`
    * snapshots), so every pre-compaction snapshot stays an exact replay. Optimistic
    * concurrency like [[replaceBatches]]: a commit interleaving the
    * rewrite job rejects the publish (the rewrite re-runs), never loses
    * an update. Returns (batches compacted, rows written, version).
    */
  def publishCompaction(
      key: String,
      expectedVersion: Long,
      writeSchema: StructType,
      batches: Seq[TaskPayload],
      sortedBy: Seq[String] = Nil): (Long, Long, Long) = {
    val st = tables.getOrElse(key,
      throw new IllegalStateException(s"mem table $key dropped mid-compaction"))
    st.synchronized {
      if (st.version != expectedVersion)
        throw new IllegalStateException(
          s"mem table $key: concurrent commit detected — the rewrite job read " +
            s"version $expectedVersion but the table is now at ${st.version}; " +
            "publishing would erase the interleaved commit. Re-run the rewrite.")
      val live = st.batches.filter(_.removedAt == Long.MaxValue)
      st.version += 1
      st.batches = st.batches.map(b =>
        if (b.removedAt == Long.MaxValue) b.copy(removedAt = st.version) else b) ++
        batches.filter(_.nonEmpty)
          .flatMap(p => mkBatches(st, writeSchema, p, st.version))
      // a SORTED rewrite establishes the table sort order from this
      // version (each new batch is internally sorted); an unsorted one
      // leaves whatever layout claim existed void
      if (sortedBy.nonEmpty) {
        st.sortedBy = sortedBy; st.sortedSince = st.version
      } else st.clearSortOrder()
      st.compactionVersions += st.version
      st.stamp("compact")
      (live.size.toLong, batches.iterator.map(_.rowTotal).sum, st.version)
    }
  }

  /** Atomic publish of a DELTA-BASED row-level operation (`SupportsDelta`
    * — the true merge-on-read DML path): per-row deletes/updates arrive as
    * `(_batch_id, _batch_pos)` row ids and become DV entries at the new
    * version; update replacements and inserts append as new delta batches.
    * Cost is O(changed rows) — no batch is read back or rewritten, which
    * is the shape that makes sparse 100 TB UPDATEs affordable (the
    * copy-on-write path still rewrites whole matched batches and pays
    * read-time nothing; this path writes the delta and pays the DV filter
    * at read). Same optimistic-concurrency rule as [[replaceBatches]].
    * Fails loudly on a row id that resolves to no live batch or to an
    * already-deleted position — either would mean the scan and publish
    * disagree about the table state.
    */
  def applyDelta(
      key: String,
      expectedVersion: Option[Long],
      writeSchema: StructType,
      deletes: Seq[(Long, Int)],
      inserts: Seq[Array[InternalRow]],
      updates: Seq[((Long, Int), InternalRow)] = Nil): Unit = {
    val st = tables.getOrElse(key,
      throw new IllegalStateException(s"mem table $key dropped mid-delta"))
    st.synchronized {
      // SNAPSHOT-ISOLATION validation (see [[replaceBatches]]): a version
      // advance alone is NOT a conflict — a disjoint append commits
      // concurrently. The delta's own row ids are validated structurally
      // below (referenced batches must still be live with every targeted
      // position alive — a CoW rewrite or compaction that replaced them
      // fails the unknown-batch check, an overlapping DV fails the
      // already-deleted check). Only an equality delete landing after the
      // scan conflicts blindly: its key kills could overlap the rows this
      // delta re-inserts as post-images.
      expectedVersion.foreach { v =>
        if (st.version != v && st.eqDeletes.exists(_.version > v))
          throw new IllegalStateException(
            s"mem table $key: concurrent commit detected — the delta rewrite " +
              s"scanned version $v but an interleaved commit published equality " +
              "deletes; publishing would lose their effect. Re-run the DML.")
      }
      // updates contribute a DV delete (the PRE-image) and a replacement
      // row (the POST-image); the linkage is recorded so the change feed
      // can surface update_preimage/update_postimage instead of the
      // default delete+insert pairs
      val allDeletes = deletes ++ updates.map(_._1)
      // VALIDATE BEFORE the version bump: a rejected publish must not burn
      // a version slot (every slot owns a versionTimes entry — the
      // serializable-history invariant the concurrency spec pins)
      val byBatch = allDeletes.groupMap(_._1)(_._2)
      if (byBatch.nonEmpty) {
        // duplicate row ids within ONE publish would collapse to a single
        // DV entry while every replacement row still appends — a silent
        // row duplication; the scan and publish disagree, so fail loudly
        val dups = allDeletes.groupBy(identity).collect { case (id, g) if g.size > 1 => id }
        if (dups.nonEmpty)
          throw new IllegalStateException(
            s"mem table $key: delta deletes the same row id(s) twice in one " +
              s"publish: ${dups.mkString(", ")}")
        val liveById = st.batches.iterator
          .filter(_.removedAt == Long.MaxValue).map(b => b.batchId -> b).toMap
        val missing = byBatch.keySet -- liveById.keySet
        if (missing.nonEmpty)
          throw new IllegalStateException(
            s"mem table $key: delta targets unknown/removed batch ids $missing")
        byBatch.foreach { case (id, poss) =>
          val b = liveById(id)
          val bad = poss.filter(p => p < 0 || p >= b.rowCount || b.dv.contains(p))
          if (bad.nonEmpty)
            throw new IllegalStateException(
              s"mem table $key: delta deletes invalid/already-deleted positions " +
                s"$bad of batch $id")
        }
      }
      st.version += 1
      // post-image rows land in their OWN batches so the feed can label
      // them; plain inserts append as before
      val postBatches =
        if (updates.isEmpty) Nil
        else mkBatches(st, writeSchema, RowsPayload(updates.map(_._2).toArray), st.version)
      st.batches = st.batches.map { b =>
        byBatch.get(b.batchId) match {
          case Some(poss) if b.removedAt == Long.MaxValue =>
            b.copy(dv = b.dv ++ poss.map(_ -> st.version))
          case _ => b
        }
      } ++ postBatches ++ inserts.filter(_.nonEmpty)
        .flatMap(rs => mkBatches(st, writeSchema, RowsPayload(rs), st.version))
      if (updates.nonEmpty) {
        st.updatedAt = st.updatedAt.updated(st.version, updates.map(_._1).toSet)
        st.updatePostBatches = st.updatePostBatches ++ postBatches.map(_.batchId)
      }
      // kill-only deltas keep relative row order; inserted rows break the
      // sorted-layout claim
      if (updates.nonEmpty || inserts.exists(_.nonEmpty)) st.clearSortOrder()
      st.stamp("delta")
    }
  }

  /** Atomic publish of one write's committed task batches, tagged with the
    * schema the write was bound to (NOT the table's current schema — a
    * concurrent alter must not retag in-flight rows it never migrated).
    */
  def commit(
      key: String,
      truncate: Boolean,
      writeSchema: StructType,
      batches: Seq[TaskPayload]): Unit = {
    val st = tables.getOrElse(key,
      throw new IllegalStateException(s"mem table $key dropped mid-write"))
    st.synchronized {
      // VALIDATE BEFORE BUMP: mkBatches throws on NOT NULL violations and
      // spec conflicts — a failed publish must not advance the version
      // clock (every slot owns a versionTimes entry, the serializable-
      // history invariant the DML paths also preserve)
      val v = st.version + 1
      val fresh = batches.flatMap(rs => mkBatches(st, writeSchema, rs, v))
      st.version = v
      // truncate is a SOFT delete: the replaced batches stay readable
      // through VERSION AS OF reads older than this commit
      val prior =
        if (truncate)
          st.batches.map(b =>
            if (b.removedAt == Long.MaxValue) b.copy(removedAt = st.version) else b)
        else st.batches
      st.batches = prior ++ fresh
      // new rows retire the sorted-layout claim — unless the table
      // DECLARES a write sort order and every fresh batch verifies sorted
      maintainSortClaim(st, fresh, truncate)
      st.stamp(if (truncate) "overwrite" else "append")
    }
  }

  /** Streaming-epoch publish: identical to [[commit]], except idempotent
    * per (queryId, epochId) — a re-commit of an already-committed epoch
    * (Spark's post-restart at-least-once re-delivery) is a no-op, so the
    * table's contents stay exactly-once.
    */
  def commitEpoch(
      key: String,
      queryId: String,
      epochId: Long,
      truncate: Boolean,
      writeSchema: StructType,
      batches: Seq[TaskPayload]): Unit = {
    val st = tables.getOrElse(key,
      throw new IllegalStateException(s"mem table $key dropped mid-write"))
    st.synchronized {
      val done = st.committedEpochs.getOrElse(queryId, Set.empty)
      if (!done.contains(epochId)) {
        // VALIDATE before recording the epoch or bumping the clock: a
        // throwing publish remembered as committed would make Spark's
        // post-restart re-commit a no-op — the epoch's rows silently lost
        val v = st.version + 1
        val fresh = batches.flatMap(rs => mkBatches(st, writeSchema, rs, v))
        st.committedEpochs = st.committedEpochs.updated(queryId, done + epochId)
        st.version = v
        val prior =
          if (truncate)
            st.batches.map(b =>
              if (b.removedAt == Long.MaxValue) b.copy(removedAt = st.version) else b)
          else st.batches
        st.batches = prior ++ fresh
        maintainSortClaim(st, fresh, truncate)
        st.stamp(if (truncate) "stream-overwrite" else "stream-append")
      }
    }
  }

  /** Streaming UPSERT epoch publish (tables created with
    * [[UpsertKeysProp]]): one atomic version carrying an EQUALITY DELETE
    * over the epoch's key set plus the epoch's inserts — the Flink→Iceberg
    * upsert-ingest shape, where positions of the replaced rows are
    * unknowable at write time so the delete is key-based and applied at
    * read ([[effectiveKills]]). The strictly-older rule means the epoch
    * never deletes its own inserts; duplicate keys WITHIN one epoch are
    * therefore kept (the industry contract: upsert dedup is per
    * checkpoint/epoch boundary, in-epoch ordering is the producer's job).
    * Key tuples containing NULL never match (SQL equality), so null-keyed
    * rows are plain appends. Idempotent per (queryId, epochId) like
    * [[commitEpoch]]. Write cost is O(epoch rows) — no old batch is read
    * or touched at write time.
    */
  def commitEpochUpsert(
      key: String,
      queryId: String,
      epochId: Long,
      writeSchema: StructType,
      keyCols: Seq[String],
      batches: Seq[FilesPayload]): Unit = {
    val st = tables.getOrElse(key,
      throw new IllegalStateException(s"mem table $key dropped mid-write"))
    st.synchronized {
      val done = st.committedEpochs.getOrElse(queryId, Set.empty)
      if (!done.contains(epochId)) {
        // validation (key columns, NOT NULL via mkBatches below) runs
        // BEFORE the epoch is recorded or the clock bumped — same
        // failed-publish-forgotten contract as commitEpoch
        val idx = keyCols.map(c => writeSchema.fieldNames.indexOf(c))
        if (idx.contains(-1))
          throw new IllegalStateException(
            s"mem table $key: upsert write schema ${writeSchema.fieldNames.mkString(",")} " +
              s"lacks key column(s) ${keyCols.mkString(",")}")
        val types = idx.map(writeSchema.fields(_).dataType)
        def tupleOf(r: InternalRow): Seq[Any] = idx.indices.map { j =>
          if (r.isNullAt(idx(j))) null else canonKey(r.get(idx(j), types(j)))
        }
        // epoch key extraction: the epoch's files yield their distinct
        // key tuples in a one-task-per-file job when a session exists —
        // together with the probe conversion below, an upsert epoch
        // commit moves ZERO table or epoch content through the driver
        // (sessionless callers stream driver-side, change-bounded)
        val keySession = org.apache.spark.sql.SparkSession.getActiveSession
          .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
        val epochPaths = batches.flatMap(_.files.map(_.path))
        // OVERSIZED epochs (a backfill re-ingesting 10⁸ keys) must not
        // collect their key set driver-ward nor broadcast it to every
        // executor: above the threshold the conversion joins epoch keys
        // against candidate-file rows ON THE CLUSTER instead
        // ([[DistributedDml.probeMatchesShuffled]]) — driver/broadcast
        // bytes stay flat in epoch size
        val epochRowEstimate: Long = batches.iterator.map(_.rowTotal).sum
        val broadcastMaxRows =
          try org.apache.spark.sql.internal.SQLConf.get.getConfString(
            "spark.graft.upsert.broadcast-max-rows", "4000000").toLong
          catch { case _: Exception => 4000000L }
        val shuffledConvert = keySession.isDefined && epochPaths.nonEmpty &&
          epochRowEstimate > broadcastMaxRows
        val keys: Set[Seq[Any]] =
          if (epochPaths.isEmpty || shuffledConvert) Set.empty
          else keySession match {
            case Some(s) =>
              val schemaB = writeSchema
              val idxB = idx
              val typesB = types
              s.sparkContext.parallelize(epochPaths, epochPaths.size).map { p =>
                val it = ParquetRows.iterator(p, schemaB)
                val out = Set.newBuilder[Seq[Any]]
                try it.foreach { r =>
                  val t: Seq[Any] = idxB.indices.map { j =>
                    if (r.isNullAt(idxB(j))) null
                    else canonKey(r.get(idxB(j), typesB(j)))
                  }
                  if (!t.contains(null)) out += t
                } finally it.close()
                out.result()
              }.collect().iterator.flatten.toSet
            case None =>
              epochPaths.iterator
                .flatMap(p => ParquetRows.iterator(p, writeSchema))
                .map(tupleOf).filterNot(_.contains(null)).toSet
          }
        val v = st.version + 1
        val fresh = batches.flatMap(rs => mkBatches(st, writeSchema, rs, v))
        // CONVERT-ON-WRITE (the Iceberg equality→position-delete shape):
        // the epoch's equality delete becomes POSITIONAL delete-vector
        // entries at this commit — a
        // one-task-per-candidate-file probe job (strictly-older alive
        // batches, bounds/bloom-pruned per key column) finds the doomed
        // positions where the rows live, and NO probe record persists:
        // scan planning and the change feed then read the DV plane
        // instead of re-probing file CONTENTS driver-side on every read
        // (previously the last table-sized driver content path — every
        // scan of an eq-delete table paid O(older rows) in the driver).
        // Semantics are identical: kills land at this version, CDC
        // surfaces the same row-level deletes, time travel sees the rows
        // before it. Sessionless callers keep the read-time
        // equality-delete record.
        val session = org.apache.spark.sql.SparkSession.getActiveSession
          .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
        val converted: Map[Long, Array[Int]] =
          if (keys.isEmpty && !shuffledConvert) Map.empty
          else if (session.isEmpty) {
            st.eqDeletes = st.eqDeletes :+ EqDelete(v, keyCols, keys)
            Map.empty
          } else {
            import org.apache.spark.sql.sources.{Filter => SFilter, In => SIn}
            def res(b: TaggedBatch)(c: String): Option[String] =
              sourceFieldName(st.eras, st.droppedAt)(c, b.writeVersion)
                .filter(b.schema.fieldNames.contains)
            // per-column In pruning (a conservative projection of the key
            // tuple set) over integral/string columns — canonKey's widened
            // forms are those columns' natural external filter values
            val pruneFilters: Array[SFilter] =
              if (shuffledConvert || keys.size > 1024) Array.empty
              else keyCols.zipWithIndex.flatMap { case (c, j) =>
                writeSchema.fields(idx(j)).dataType match {
                  case org.apache.spark.sql.types.LongType |
                       org.apache.spark.sql.types.IntegerType |
                       org.apache.spark.sql.types.ShortType |
                       org.apache.spark.sql.types.ByteType |
                       org.apache.spark.sql.types.StringType =>
                    Some(SIn(c, keys.iterator.map(_(j)).toArray.distinct): SFilter)
                  case _ => None
                }
              }.toArray
            val older = candidateBatches(pruneFilters, st.specHistory, st.eras,
              st.droppedAt,
              st.batches.filter(b => b.removedAt == Long.MaxValue && b.version < v),
              st.columnDefaults)
              .flatMap { b =>
                val names = keyCols.map(res(b))
                // an unresolvable key column means no row of this batch
                // can match (effectiveKills' rule)
                if (names.exists(_.isEmpty)) None
                else Some(b -> names.map(_.get))
              }
            val tasks = older.map { case (b, names) =>
              val fields = b.schema.fields.filter(f => names.contains(f.name))
              val matchSchema = StructType(fields)
              val ki = names.map(n => matchSchema.fieldNames.indexOf(n)).toArray
              DistributedDml.ProbeTask(b.batchId, b.store.path, matchSchema,
                ki, ki.map(matchSchema.fields(_).dataType),
                if (b.dv.isEmpty) null else PosBitmap.toBytes(b.dv.keysIterator))
            }
            if (shuffledConvert)
              DistributedDml.probeMatchesShuffled(session.get.sparkContext,
                tasks, epochPaths, writeSchema, idx.toArray, types.toArray)
            else DistributedDml.probeMatches(session.get.sparkContext, tasks, keys)
          }
        st.committedEpochs = st.committedEpochs.updated(queryId, done + epochId)
        st.version = v
        if (converted.nonEmpty)
          st.batches = st.batches.map { b =>
            converted.get(b.batchId) match {
              case Some(pos) if b.removedAt == Long.MaxValue =>
                val doomed = pos.filterNot(b.dv.contains)
                if (doomed.isEmpty) b else b.copy(dv = b.dv ++ doomed.map(_ -> v))
              case _ => b
            }
          }
        st.batches = st.batches ++ fresh
        // the epoch's equality delete is kill-only (keeps order); claim
        // survival rides the same verified-sorted-inserts rule as appends
        maintainSortClaim(st, fresh, truncate = false)
        st.stamp("stream-upsert")
      }
    }
  }

  import org.apache.spark.sql.sources._

  /** Which `DELETE FROM ... WHERE` conditions this table can serve: the
    * standard comparison/membership/null/boolean filters over top-level
    * columns of the current schema whose type [[cmp]] can actually
    * compare. Declining here is not a failure: the table also implements
    * `SupportsRowLevelOperations`, so Spark falls back to the group-based
    * rewrite (arbitrary Catalyst predicates, any type) — the contract is
    * merely that the metadata-only fast path never ACCEPTS a condition it
    * would then evaluate wrongly (a date/decimal comparison [[cmp]] maps
    * to unknown would otherwise be a silent no-op delete).
    */
  def supportedDeleteFilter(f: Filter, schema: StructType): Boolean = {
    import org.apache.spark.sql.types._
    // a column is comparable iff cmp handles its internal representation
    def comparable(c: String): Boolean =
      schema.fields.find(_.name == c).exists(_.dataType match {
        case LongType | IntegerType | ShortType | ByteType => true
        case DoubleType | FloatType => true
        case StringType | BooleanType => true
        case _ => false // dates, timestamps, decimals, binary, nested: rewrite path
      })
    // null-ness tests never compare values — any top-level column works
    def present(c: String): Boolean = schema.fieldNames.contains(c)
    f match {
      case EqualTo(c, _) => comparable(c)
      case GreaterThan(c, _) => comparable(c)
      case GreaterThanOrEqual(c, _) => comparable(c)
      case LessThan(c, _) => comparable(c)
      case LessThanOrEqual(c, _) => comparable(c)
      case In(c, _) => comparable(c)
      case IsNull(c) => present(c)
      case IsNotNull(c) => present(c)
      case And(l, r) => supportedDeleteFilter(l, schema) && supportedDeleteFilter(r, schema)
      case Or(l, r) => supportedDeleteFilter(l, schema) && supportedDeleteFilter(r, schema)
      case Not(c) => supportedDeleteFilter(c, schema)
      case AlwaysTrue() | AlwaysFalse() => true
      case _ => false
    }
  }

  /** Three-way SQL comparison between a row's internal value and a filter
    * literal; None = incomparable (a NULL operand), which makes the
    * enclosing predicate UNKNOWN — propagated by Kleene logic in `eval`
    * below, never collapsed to false before negation. Type pairings cmp
    * does not handle never reach it: [[supportedDeleteFilter]] rejects
    * them at planning and Spark falls back to the row-level rewrite.
    */
  private[sources] def cmp(rowVal: Any, lit: Any): Option[Int] = (rowVal, datetimeInternal(lit)) match {
    case (null, _) | (_, null) => None
    case (a: java.lang.Long, b: Number) => Some(java.lang.Long.compare(a, b.longValue))
    case (a: java.lang.Integer, b: Number) => Some(java.lang.Long.compare(a.longValue, b.longValue))
    case (a: java.lang.Short, b: Number) => Some(java.lang.Long.compare(a.longValue, b.longValue))
    case (a: java.lang.Byte, b: Number) => Some(java.lang.Long.compare(a.longValue, b.longValue))
    // primitive == first so −0.0 and 0.0 compare EQUAL (SQL semantics;
    // Double.compare alone orders −0.0 < 0.0, which would let an
    // identity-partition batch whose singleton stats hold −0.0 be wrongly
    // skipped for `= 0.0`); NaN still orders greatest via Double.compare
    case (a: java.lang.Double, b: Number) =>
      Some(if (a.doubleValue == b.doubleValue) 0
      else java.lang.Double.compare(a, b.doubleValue))
    case (a: java.lang.Float, b: Number) =>
      Some(if (a.doubleValue == b.doubleValue) 0
      else java.lang.Double.compare(a.doubleValue, b.doubleValue))
    // BINARY (UTF-8) order — the order statsComparator computed the
    // bounds in and the order Spark SQL compares strings in; Java's
    // UTF-16 compareTo diverges for supplementary characters, and a
    // divergent order here wrongly PRUNES batches (unrecoverable — a
    // skipped batch's rows never reach residual filters)
    case (a: org.apache.spark.unsafe.types.UTF8String, b: String) =>
      Some(a.compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b)))
    case (a: java.lang.Boolean, b: java.lang.Boolean) => Some(a.compareTo(b))
    case _ => None
  }

  /** Row-level DELETE as a versioned GROUP REWRITE — the copy-on-write
    * shape every table format without deletion vectors uses: each batch
    * containing matches is soft-removed at the delete's version and its
    * SURVIVORS re-committed as a new batch visible from that version
    * (`writeVersion` preserved — the bytes' schema era doesn't change).
    * Untouched batches are left alone, so delete cost is proportional to
    * the batches containing matches, not the table. Time travel before the
    * delete still sees every row; the change feed reports the rewrite as
    * remove-batch + re-insert-survivors (the honest file-level log a
    * group-based rewrite produces — row-level delete events would require
    * diffing, which is the CDC consumer's fold).
    */
  /** Batches a filter set could possibly touch, by the SAME bounds +
    * bucket evaluation the scan's data skipping uses (era/tombstone
    * resolution included): a batch failing any filter's `mayMatch`
    * provably contains no matching row. Shared by [[deleteWhere]] so a
    * partition-shaped DELETE (`WHERE nk = 5`) row-evaluates only the
    * partition's batches — at 100 TB, the difference between a
    * metadata-speed partition delete and a table scan.
    */
  private[sources] def candidateBatches(
      filters: Array[Filter], specs: Vector[Seq[PartField]],
      eras: Map[String, Vector[(Long, String)]], droppedAt: Map[String, Long],
      batches: Vector[TaggedBatch],
      defaults: Map[String, (Long, Any)] = Map.empty): Vector[TaggedBatch] =
    if (filters.isEmpty) batches
    else batches.filter { b =>
      val n = b.rowCount.toLong
      val lookup: String => Option[ColStats] = name =>
        sourceFieldName(eras, droppedAt)(name, b.writeVersion)
          .filter(b.schema.fieldNames.contains) match {
          case None => defaultFor(defaults)(name, b.writeVersion) match {
            case Some(d) => Some(ColStats(d, d, 0L, n, 1L)) // rows serve D
            case None => Some(ColStats(null, null, n, n)) // all-null here
          }
          case Some(src) => b.stats.get(src)
        }
      val bSpec = specs(b.specId)
      filters.forall(f => mayMatch(f, lookup)) &&
        (bSpec.isEmpty || filters.forall(f => partMayMatch(f, bSpec, b.part)))
    }

  /** Build one batch's serializable [[RowPredicate]]: filter columns
    * resolved through the SAME era/tombstone/default rules scans project
    * (driver-side, metadata only). Construction VALIDATES the filter
    * shapes, so an unsupported condition throws loudly on the driver
    * before any job launches or state mutates.
    */
  private def predicateFor(
      st: State, b: TaggedBatch, filters: Array[Filter]): RowPredicate = {
    val cols = filters.flatMap(_.references).distinct
    val idx = cols.map { c =>
      c -> sourceFieldName(st.eras, st.droppedAt)(c, b.writeVersion)
        .map(n => b.schema.fieldNames.indexOf(n)).filter(_ >= 0).getOrElse(-1)
    }.toMap
    val dflt = cols.filter(idx(_) < 0).map { c =>
      c -> defaultFor(st.columnDefaults)(c, b.writeVersion).orNull
    }.toMap
    new RowPredicate(filters, idx, dflt, b.schema)
  }

  /** One file-backed batch's PRUNED match-pass plan: the read schema
    * restricted to the predicate footprint + applicable equality-delete
    * key columns (file field order preserved), with the predicate and
    * probes RE-BOUND to field indexes within it — at 100 TB the match
    * pass's parquet IO is the predicate footprint, not the table width
    * (the CoW survivor pass still reads every column; it materializes
    * them anyway). Probe applicability is [[effectiveKills]]'s window:
    * strictly newer than the batch, at-or-before its removal; an
    * unresolvable key column never matches.
    */
  private def matchPlanFor(st: State, b: TaggedBatch, filters: Array[Filter])
      : (StructType, RowPredicate, Seq[EqProbe], Array[Filter]) = {
    def res(c: String): Option[String] =
      sourceFieldName(st.eras, st.droppedAt)(c, b.writeVersion)
        .filter(n => b.schema.fieldNames.contains(n))
    val predCols = filters.flatMap(_.references).distinct
    val probeDefs = st.eqDeletes
      .filter(e => e.version > b.version && e.version <= b.removedAt)
      .flatMap { e =>
        val names = e.keyCols.map(res)
        if (names.exists(_.isEmpty)) None
        else Some((e.keys, names.map(_.get)))
      }
    val needed = (predCols.flatMap(res) ++ probeDefs.flatMap(_._2)).toSet
    val fields = b.schema.fields.filter(f => needed.contains(f.name))
    // parquet cannot project an empty group — a reference-free filter
    // (AlwaysTrue overwrite) keeps one column just to drive positions
    val matchSchema =
      if (fields.isEmpty) StructType(b.schema.fields.take(1))
      else StructType(fields)
    val idx: Map[String, Int] = predCols.map { c =>
      c -> res(c).map(n => matchSchema.fieldNames.indexOf(n))
        .filter(_ >= 0).getOrElse(-1)
    }.toMap
    val dflt = predCols.filter(idx(_) < 0).map { c =>
      c -> defaultFor(st.columnDefaults)(c, b.writeVersion).orNull
    }.toMap
    val probes = probeDefs.map { case (keys, names) =>
      val ki = names.map(n => matchSchema.fieldNames.indexOf(n)).toArray
      EqProbe(ki, ki.map(matchSchema.fields(_).dataType), keys)
    }
    // parquet-pushable form of the predicate: references renamed to the
    // FILE's field names; filters touching unresolvable (default-read)
    // columns drop whole (Spark's translator then validates every value
    // against the file's own types, overflow-guarded)
    val rnMap = predCols.iterator.flatMap(c => res(c).map(c -> _)).toMap
    val pushable = filters.flatMap(MemScan.renameFilter(_, rnMap))
    (matchSchema, new RowPredicate(filters, idx, dflt, matchSchema), probes,
      pushable)
  }

  /** Row-level filter matches over the LIVE batches (SQL three-valued
    * evaluation, era/tombstone-resolved, bounds/bucket-pruned) — the
    * matching half shared by DELETE and filtered OVERWRITE. Throws on
    * unsupported filter shapes BEFORE any state mutates. Caller holds the
    * table monitor.
    *
    * Candidates evaluate in a one-task-per-file Spark job
    * ([[DistributedDml]]) that also writes copy-on-write survivor files
    * executor-side — table content never transits the driver (the 100 TB
    * DELETE shape; at gate scale the job doubles as the protocol drill).
    * A caller without an active session evaluates in-process. Returns the
    * matched positions per batch plus the pre-built survivor stores for
    * job-evaluated batches (consumed by [[applyRowKillsLocked]] so the
    * CoW rewrite skips its driver materialization for exactly those
    * batches).
    */
  private def matchedRowsLocked(
      st: State, filters: Array[Filter])
      : (Map[Long, Array[Int]],
         Map[Long, Option[(FileStore, Map[String, ColStats])]]) = {
    val live = st.batches.filter(_.removedAt == Long.MaxValue)
    val candidates = candidateBatches(filters, st.specHistory, st.eras,
      st.droppedAt, live, st.columnDefaults)
    // predicate construction validates filter shapes driver-side for
    // EVERY candidate before any evaluation starts
    val preds = candidates.map(b => b.batchId -> predicateFor(st, b, filters)).toMap
    val session = org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
    val jobResults: Map[Long, DistributedDml.EvalResult] =
      if (candidates.isEmpty || session.isEmpty) Map.empty
      else {
        // CoW tasks write survivors next to the table's data files; MoR
        // needs positions only (the kill lands in the delete vector)
        val survivorDir =
          if (st.deleteMode == DeleteModeMor) None else Some(st.storageDir)
        val plans = candidates.map(b => b -> matchPlanFor(st, b, filters))
        val tasks = plans.map { case (b, (matchSchema, pred, _, pushable)) =>
          DistributedDml.EvalTask(b.batchId, b.store.path, b.schema,
            matchSchema = matchSchema, pred = pred,
            survivorDir = survivorDir,
            declaredSort = st.declaredSortOrder, bloomCols = st.bloomCols.toSet,
            pushFilters = pushable)
        }
        // kill state (DV positions + eq-delete key sets) rides ONE
        // broadcast keyed by batch — never the per-task closure
        val kills = plans.collect {
          case (b, (_, _, probes, _)) if b.dv.nonEmpty || probes.nonEmpty =>
            // dead positions ride as a COMPRESSED bitmap: a run-shaped
            // million-row DV is kilobytes in the broadcast, not a 30 MB
            // boxed Set[Int]
            b.batchId -> DistributedDml.KillState(
              PosBitmap.toBytes(b.dv.keysIterator), probes)
        }.toMap
        DistributedDml.run(session.get.sparkContext, tasks, kills)
      }
    // driver-side evaluation when no session exists to host the job
    // (non-Spark callers)
    val local = if (session.isEmpty) candidates else Vector.empty
    val localDead = parMap(local) { b =>
      val dead = effectiveKills(b, st.eqDeletes, st.eras, st.droppedAt)
      val pred = preds(b.batchId)
      b.batchId -> b.rows.zipWithIndex.collect {
        case (r, i) if !dead.contains(i) && pred.matches(r) => i
      }
    }.filter(_._2.nonEmpty).toMap
    val jobDead = jobResults.collect {
      case (id, r) if r.anyMatched => id -> r.matchedPositions
    }
    val schemas = candidates.iterator.map(b => b.batchId -> b.schema).toMap
    val preRewritten = jobResults.collect {
      case (id, r) if r.anyMatched =>
        id -> r.survivor.map(s =>
          (FileStore(s.path, s.count, schemas(id), s.sorted), s.stats))
    }
    (localDead ++ jobDead, preRewritten)
  }

  /** Apply computed row kills at the CURRENT (already bumped) version —
    * the mutation half shared by DELETE and filtered OVERWRITE: delete
    * vectors on merge-on-read tables (no row copied), soft-remove +
    * survivor re-commit on copy-on-write. Caller holds the table monitor
    * and has bumped `st.version`.
    */
  private def applyRowKillsLocked(
      st: State, deadByBatch: Map[Long, Array[Int]],
      preRewritten: Map[Long, Option[(FileStore, Map[String, ColStats])]] =
        Map.empty): Unit = {
    if (deadByBatch.isEmpty) return
    if (st.deleteMode == DeleteModeMor) {
      // MERGE-ON-READ: record matched positions in the batch's delete
      // vector at this version — no row is copied (the file is shared by
      // reference), old snapshots keep reading the rows, and
      // the change feed reports row-level deletes at this version. The
      // read path pays the overlay filter instead.
      st.batches = st.batches.map { b =>
        deadByBatch.get(b.batchId) match {
          case Some(dead) if b.removedAt == Long.MaxValue =>
            b.copy(dv = b.dv ++ dead.map(_ -> st.version))
          case _ => b
        }
      }
    } else {
      // job-evaluated batches arrive with their survivor files already
      // executor-written (preRewritten); only the remainder — batches a
      // sessionless caller evaluated in-process — materializes here.
      // Survivor reads/writes parallelize (file-open fixed costs); the
      // batch-id mint and the batches swap stay serial under the monitor
      val rewritten: Map[Long, Option[(FileStore, Map[String, ColStats])]] =
        preRewritten ++ parMap(st.batches.filter(b =>
          deadByBatch.contains(b.batchId) && b.removedAt == Long.MaxValue &&
            !preRewritten.contains(b.batchId))) { b =>
          val deadSet = deadByBatch(b.batchId).toSet
          val keep = b.rows.indices.filterNot(deadSet).map(b.rows).toArray
          b.batchId -> (if (keep.isEmpty) None
          // survivors carry EXACT stats (the rewrite materializes them
          // anyway): a deleted row may have been the recorded extreme,
          // and the aggregate pushdown answers MIN/MAX from these
          else Some((storeFor(st, b.schema, keep),
            statsOf(b.schema, keep, st.bloomCols.toSet))))
        }.toMap
      st.batches = st.batches.flatMap { b =>
        rewritten.get(b.batchId) match {
          case Some(surv) if b.removedAt == Long.MaxValue =>
            val removed = b.copy(removedAt = st.version)
            surv match {
              case None => Vector(removed)
              case Some((store, stats)) =>
                Vector(removed, TaggedBatch(b.schema, st.version, b.writeVersion,
                  store, batchId = st.mintBatchId(), stats = stats,
                  part = b.part, specId = b.specId))
            }
          case _ => Vector(b)
        }
      }
    }
  }

  def deleteWhere(key: String, filters: Array[Filter]): Unit = {
    val st = tables.getOrElse(key,
      throw new IllegalStateException(s"mem table $key dropped mid-delete"))
    st.synchronized {
      // compute matches BEFORE the version bump: a condition matching zero
      // rows is a no-op and must not burn a version slot — a phantom
      // 'delete' ledger entry with no change-feed events would misreport
      // provenance (mirrors compact()'s no-op path)
      val (deadByBatch, preRewritten) = matchedRowsLocked(st, filters)
      if (deadByBatch.isEmpty) return
      st.version += 1
      applyRowKillsLocked(st, deadByBatch, preRewritten)
      st.stamp("delete")
    }
  }

  /** Filtered OVERWRITE (`OVERWRITE_BY_FILTER` — Delta `replaceWhere` /
    * SQL static-partition `INSERT OVERWRITE t PARTITION (p = v)`): one
    * atomic version that kills the condition's matches (DV or
    * copy-on-write per the table's delete mode, bounds/bucket-pruned like
    * DELETE) and appends the replacement rows. At 100 TB this is the
    * incremental-refresh primitive: one period's recomputation replaces
    * exactly its own slice, never the table.
    */
  def commitOverwrite(
      key: String, filters: Array[Filter],
      writeSchema: StructType, batches: Seq[TaskPayload]): Unit = {
    val st = tables.getOrElse(key,
      throw new IllegalStateException(s"mem table $key dropped mid-overwrite"))
    st.synchronized {
      // matching throws on unsupported shapes BEFORE any mutation
      val (deadByBatch, preRewritten) = matchedRowsLocked(st, filters)
      st.version += 1
      applyRowKillsLocked(st, deadByBatch, preRewritten)
      val fresh = batches.flatMap(rs => mkBatches(st, writeSchema, rs, st.version))
      st.batches = st.batches ++ fresh
      // survivors keep their order (DV kills / order-preserving rewrite),
      // so an active sorted claim survives exactly like an append
      maintainSortClaim(st, fresh, truncate = false)
      st.stamp("overwrite")
    }
  }

  /** DYNAMIC partition overwrite (`OVERWRITE_DYNAMIC` — hive
    * `spark.sql.sources.partitionOverwriteMode=dynamic` semantics at the
    * connector: replace exactly the partition TUPLES present in the
    * incoming data, whole batches at a time — partition purity makes the
    * kill batch-granular, no row evaluation). An unpartitioned table
    * degenerates to a full replace, the hive rule.
    */
  def commitOverwriteDynamic(
      key: String, writeSchema: StructType,
      batches: Seq[TaskPayload]): Unit = {
    val st = tables.getOrElse(key,
      throw new IllegalStateException(s"mem table $key dropped mid-overwrite"))
    st.synchronized {
      // tuple identity is PER-SPEC: a live batch written under an older
      // spec cannot be matched by tuples computed under the current one,
      // so replacing "the partitions present in the data" would silently
      // leave its rows behind — reject loudly BEFORE the version bump
      // (rewrite_data_files migrates old batches to the current spec)
      if (st.partitioning.nonEmpty &&
          st.batches.exists(b =>
            b.removedAt == Long.MaxValue && b.specId != st.currentSpecId))
        throw new UnsupportedOperationException(
          s"dynamic overwrite of $key: live batches written under an older " +
            "partition spec exist — run CALL graft.rewrite_data_files to " +
            "migrate them to the current spec first")
      st.version += 1
      val fresh = batches.flatMap(rs => mkBatches(st, writeSchema, rs, st.version))
      if (st.partitioning.isEmpty) {
        st.batches = st.batches.map(b =>
          if (b.removedAt == Long.MaxValue) b.copy(removedAt = st.version) else b) ++
          fresh
        maintainSortClaim(st, fresh, truncate = true)
      } else {
        val tuples = fresh.map(_.part).toSet
        st.batches = st.batches.map(b =>
          if (b.removedAt == Long.MaxValue && tuples.contains(b.part))
            b.copy(removedAt = st.version)
          else b) ++ fresh
        maintainSortClaim(st, fresh, truncate = false)
      }
      st.stamp("overwrite")
    }
  }
}

/** `asOf`: a pinned snapshot version for `VERSION AS OF` reads (None =
  * current). A pinned table is read-only — writing "into the past" has no
  * defined snapshot semantics in any table format.
  */
final class MemTable(key: String, tableSchema: StructType, asOf: Option[Long] = None)
    extends Table with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations
    with org.apache.spark.sql.connector.catalog.TruncatableTable {

  /** `TRUNCATE TABLE` SQL: one atomic empty-overwrite version — old
    * batches stay readable through VERSION AS OF (the soft-delete rule
    * every other truncate path follows).
    */
  override def truncateTable(): Boolean = {
    if (asOf.isDefined)
      throw new UnsupportedOperationException(
        s"mem table $key VERSION AS OF ${asOf.get} is a read-only snapshot")
    MatViews.assertStoreWritable(key, "TRUNCATE")
    MemTables.commit(key, truncate = true, tableSchema, Nil)
    true
  }

  /** Row lineage metadata: `_batch_version` (the commit each row belongs
    * to — the group id of the copy-on-write rewrite), and the delta row id
    * `(_batch_id, _batch_pos)` (see [[MemTables.BatchId]]).
    */
  override def metadataColumns(): Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    MemTables.rowIdMetadataColumns

  /** UPDATE / MERGE INTO support — the GROUP-BASED (copy-on-write) row-level
    * operation: Spark's rewrite rules read the affected data through the
    * operation's scan, compute the replacement rows (carried-over +
    * updated + inserted), and write them back through the operation's
    * write, which REPLACES what the scan read.
    *
    * The group granularity is the COMMITTED BATCH (`_batch_version`), and
    * the scan advertises that column as runtime-filterable
    * (`SupportsRuntimeV2Filtering`), so Spark's
    * `RowLevelOperationRuntimeGroupFiltering` rule plans a dynamic-pruning
    * subquery — `SELECT _batch_version FROM t WHERE <condition>` — and the
    * rewrite scans ONLY the batches containing matches. The write then
    * replaces exactly the scanned batches ([[MemTables.replaceBatches]]):
    * untouched batches survive by reference, so DML cost tracks the
    * matched groups, not the table — Iceberg's copy-on-write MERGE with
    * file-group granularity, expressed over commit batches. One atomic
    * version per DML keeps time travel and the change feed honest; a
    * concurrent commit between scan and publish is rejected (optimistic
    * concurrency), never silently erased. The delta-based (merge-on-read)
    * variant trades write cost for read cost and is deliberately not
    * modeled.
    */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo):
      org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    if (asOf.isDefined)
      throw new UnsupportedOperationException(
        s"mem table $key VERSION AS OF ${asOf.get} is a read-only snapshot")
    MatViews.assertStoreWritable(key, "UPDATE/MERGE/DELETE")
    val mor = MemTables.get(key).exists(_.deleteMode == MemTables.DeleteModeMor)
    if (mor) { () => new MemDeltaOperation(key, tableSchema, info) }
    else () => new org.apache.spark.sql.connector.write.RowLevelOperation {
      // scan ↔ write coordination for THIS operation instance: which batch
      // versions the runtime group filter narrowed the scan to, and the
      // table version the scan planned against (conflict detection),
      // seeded at creation so a never-planned scan still validates
      private val state = new MemRowLevelState
      state.scannedVersion = MemTables.get(key).map(_.version)
      override def command(): org.apache.spark.sql.connector.write.RowLevelOperation.Command =
        info.command()
      override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
        new MemScanBuilder(key, tableSchema, None, Some(state))
      override def newWriteBuilder(lw: LogicalWriteInfo): WriteBuilder =
        new MemRowLevelWriteBuilder(key, lw.schema(), state)
      // Declaring the metadata attribute routes the rewrite through
      // Spark's metadata-aware write task, which is the ONLY task that
      // strips the internal __row_operation marker before handing rows to
      // the writer (the plain task writes raw query rows) — without it the
      // replacement rows would arrive one column wide of the write schema.
      override def requiredMetadataAttributes():
          Array[org.apache.spark.sql.connector.expressions.NamedReference] =
        Array(org.apache.spark.sql.connector.expressions.Expressions
          .column(MemTables.BatchVersion))
    }
  }

  override def canDeleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    asOf.isEmpty && filters.forall(MemTables.supportedDeleteFilter(_, tableSchema))

  override def deleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    if (asOf.isDefined)
      throw new UnsupportedOperationException(
        s"mem table $key VERSION AS OF ${asOf.get} is a read-only snapshot")
    MatViews.assertStoreWritable(key, "DELETE")
    MemTables.deleteWhere(key, filters)
    // MoR DELETE is the main DV producer — the DV-density trigger fires
    // post-commit, no monitor held ([[RewriteJobs.maybeAutoCompact]])
    RewriteJobs.maybeAutoCompact(key)
  }

  override def name(): String = asOf.fold(key)(v => s"$key@v$v")
  override def schema(): StructType = tableSchema
  /** Catalog key and snapshot pin, read by the MV query-rewrite rule
    * ([[graft.plans.RewriteAggToMatView]]) — which must only fire on
    * CURRENT-version reads, never time-travel pins.
    */
  private[graft] def catalogKey: String = key
  private[graft] def snapshotPin: Option[Long] = asOf
  /** The partition transforms declared at CREATE (identity / bucket) —
    * surfaced so `DESCRIBE TABLE` reports the layout and Spark's write
    * analysis sees a partitioned target.
    */
  override def partitioning():
      Array[org.apache.spark.sql.connector.expressions.Transform] =
    MemTables.get(key).map(st => MemTables.toTransforms(st.partitioning))
      .getOrElse(Array.empty)
  /** Surfaces the create-time TBLPROPERTIES (`SHOW TBLPROPERTIES`) — the
    * full map the user supplied, with the delete-mode fork always present
    * (resolved to its default when unspecified): accepted properties must
    * echo back, never silently vanish.
    */
  override def properties(): util.Map[String, String] = {
    val m = new util.HashMap[String, String]()
    MemTables.get(key).foreach { st =>
      st.createProps.foreach { case (k, v) => m.put(k, v) }
      m.put("graft.delete-mode", st.deleteMode)
    }
    m
  }
  override def capabilities(): util.Set[TableCapability] =
    if (asOf.isDefined) util.EnumSet.of(TableCapability.BATCH_READ)
    else util.EnumSet.of(
      TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE,
      TableCapability.STREAMING_WRITE,
      TableCapability.TRUNCATE,
      TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.OVERWRITE_DYNAMIC,
      // MERGE ... WITH SCHEMA EVOLUTION: Spark's analyzer ALTERs the
      // target (AddColumn per extra source field — the evolution surface
      // alterTable already carries) and replans against the new schema
      TableCapability.AUTOMATIC_SCHEMA_EVOLUTION)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new MemScanBuilder(key, tableSchema, asOf,
      streamOpts = MemStreamOptions(
        skipChangeCommits = options.getBoolean("skipChangeCommits", false),
        startingVersion = Option(options.get("startingVersion")).map(_.toLong),
        maxVersionsPerTrigger =
          Option(options.get("maxVersionsPerTrigger")).map(_.toLong)))

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    if (asOf.isDefined)
      throw new UnsupportedOperationException(
        s"mem table $key VERSION AS OF ${asOf.get} is a read-only snapshot")
    MatViews.assertStoreWritable(key, "write")
    new MemWriteBuilder(key, info.schema(), info.queryId())
  }
}

/** A writable BRANCH ref (`<catalog>.<table>.branch_<name>` — the Iceberg
  * identifier convention): reads see the base snapshot plus the staged
  * appends; writes STAGE (append-only — overwrite/DML against a proposal
  * have no publish semantics) and become real table versions only when
  * `CALL graft.fast_forward` publishes the branch. The write-audit-publish
  * surface: stage, run the DQ gate against the branch read, publish on
  * pass / drop on fail — main is byte-identical until the publish.
  */
final class MemBranchTable(
    key: String, branch: String, tableSchema: StructType, base: Long)
    extends Table with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations {
  override def name(): String = s"$key.branch_$branch"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new MemScanBuilder(key, tableSchema, Some(base), None, Some(branch))

  /** Same row-identity metadata as the main table — the delta row id
    * `(_batch_id, _batch_pos)` branch-scoped DML anchors on (staged
    * batches mint real ids at staging).
    */
  override def metadataColumns(): Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    MemTables.rowIdMetadataColumns

  /** BRANCH-SCOPED DML (`DELETE/UPDATE/MERGE` against
    * `<table>.branch_<name>`) — the mutation half of write-audit-publish:
    * the delta rewrite reads the BRANCH view and stages row kills +
    * post-images onto the branch ([[MemTables.stageDeltaToBranch]]); main
    * stays byte-identical until `fast_forward` republishes, and a failed
    * audit drops the branch without a trace. Merge-on-read tables only:
    * the branch overlay is a DV plane, and a copy-on-write rewrite of
    * base batches has no branch-scoped replacement semantics to stage.
    */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo):
      org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    val st = MemTables.get(key).getOrElse(
      throw new IllegalStateException(s"mem table $key dropped"))
    if (st.deleteMode != MemTables.DeleteModeMor)
      throw new UnsupportedOperationException(
        s"branch-scoped DML on $key requires " +
          s"'graft.delete-mode'='${MemTables.DeleteModeMor}' (the branch " +
          "stages row-level kills; a copy-on-write rewrite cannot stage)")
    () => new MemBranchDeltaOperation(key, branch, base, tableSchema, info)
  }
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toBatch: BatchWrite = new BatchWrite {
          override def createBatchWriterFactory(p: PhysicalWriteInfo): DataWriterFactory =
            MemWriterFactory.forTable(key, info.schema())
          override def commit(messages: Array[WriterCommitMessage]): Unit =
            MemTables.commitToBranch(key, branch, info.schema(),
              MemWriterFactory.payloadsOf(messages))
          override def abort(messages: Array[WriterCommitMessage]): Unit =
            MemWriterFactory.reclaim(messages)
        }
      }
    }
}

/** METADATA tables (the Iceberg `db.table.files` / `db.table.partitions`
  * convention, resolved by the catalog when an identifier's last segment
  * names one and its namespace is an existing mem table):
  *
  *  - `<table>.files` — one row per LIVE batch: id, commit version,
  *    rendered partition tuple, stored/live/deleted row counts. The
  *    operator's view of layout fragmentation (what `rewrite_data_files`
  *    exists to fix).
  *  - `<table>.partitions` — one row per partition TUPLE with batch and
  *    live-row counts (identity columns surface typed, bucket fields as
  *    `<col>_bucket INT`); an unpartitioned table reports its single
  *    implicit partition. This is the summary a 100 TB operator reads
  *    instead of listing files.
  *  - `<table>.history` — one row per retained version `(version, ts,
  *    kind)`: the snapshot timeline with operation provenance, as a
  *    JOINABLE relation (the `table_history` procedure's data, composable
  *    in SQL).
  *  - `<table>.refs` — one row per named ref `(name, type, version)`:
  *    tags at their pinned version, branches at their base.
  *
  * All are driver-built `LocalScan`s over planning-time metadata — the
  * row count is the batch/tuple/version/ref count, never the data size —
  * and bind one consistent state snapshot under the table monitor.
  */
final class MemMetaTable(key: String, kind: String) extends Table with SupportsRead {
  import org.apache.spark.sql.types.{IntegerType, LongType, StringType, TimestampType}

  private def state: MemTables.State = MemTables.get(key).getOrElse(
    throw new IllegalStateException(s"mem table $key dropped"))

  override def name(): String = s"$key.$kind"
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def schema(): StructType = kind match {
    case "files" => new StructType()
      .add("batch_id", LongType, nullable = false)
      .add("version", LongType, nullable = false)
      .add("partition", StringType, nullable = false)
      .add("spec_id", IntegerType, nullable = false)
      .add("row_count", LongType, nullable = false)
      .add("live_rows", LongType, nullable = false)
      .add("deleted_rows", LongType, nullable = false)
    case "history" => new StructType()
      .add("version", LongType, nullable = false)
      .add("ts", TimestampType, nullable = false)
      .add("kind", StringType, nullable = false)
    case "refs" => new StructType()
      .add("name", StringType, nullable = false)
      .add("type", StringType, nullable = false)
      .add("version", LongType, nullable = false)
    case _ => // partitions
      val st = state
      val base = st.partitioning.foldLeft(new StructType()) {
        case (s, MemTables.IdentityPart(c)) =>
          s.add(st.schema.fields.find(_.name == c).get.copy(nullable = true))
        case (s, MemTables.BucketPart(_, c)) =>
          // nullable: rows of an OLDER spec group show NULL transform cols
          s.add(s"${c}_bucket", IntegerType, nullable = true)
        case (s, MemTables.TimePart(unit, c)) =>
          s.add(s"${c}_$unit", IntegerType, nullable = true)
        case (s, MemTables.TruncatePart(_, c)) =>
          s.add(s"${c}_trunc",
            st.schema.fields.find(_.name == c).get.dataType, nullable = true)
      }
      base
        .add("spec_id", IntegerType, nullable = false)
        .add("batch_count", LongType, nullable = false)
        .add("row_count", LongType, nullable = false)
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val st = state
    val (specs, batches, eras, droppedAt, eqDeletes, times, kinds, tags, brs) =
      st.synchronized {
        (st.specHistory, st.batches.filter(_.removedAt == Long.MaxValue),
          st.eras, st.droppedAt, st.eqDeletes, st.versionTimes, st.opKinds,
          st.tags, st.branches)
      }
    val curSpecId = specs.size - 1
    def kills(b: MemTables.TaggedBatch): Long =
      MemTables.effectiveKills(b, eqDeletes, eras, droppedAt).size.toLong
    // each batch renders under its OWN written spec (spec evolution)
    def renderPart(b: MemTables.TaggedBatch): String =
      specs(b.specId).zip(b.part).map {
        case (MemTables.IdentityPart(c), v) => s"$c=${String.valueOf(v)}"
        case (MemTables.BucketPart(_, c), v) => s"${c}_bucket=$v"
        case (MemTables.TimePart(unit, c), v) => s"${c}_$unit=${String.valueOf(v)}"
        case (MemTables.TruncatePart(_, c), v) => s"${c}_trunc=${String.valueOf(v)}"
      }.mkString("/")
    val outSchema = schema()
    val dataRows: Seq[Seq[Any]] = kind match {
      case "files" => batches.map { b =>
        val dead = kills(b)
        Seq[Any](b.batchId, b.version, renderPart(b), Integer.valueOf(b.specId),
          b.rowCount.toLong, b.rowCount.toLong - dead, dead)
      }
      case "history" => times.map { case (v, tsMicros) =>
        Seq[Any](v, tsMicros, kinds.getOrElse(v, "unknown"))
      }
      case "refs" =>
        tags.toSeq.map { case (n, v) => Seq[Any](n, "tag", v) } ++
          brs.toSeq.map { case (n, bs) => Seq[Any](n, "branch", bs.base) }
      case _ =>
        // the typed transform columns describe the CURRENT spec; batches
        // written under an older spec group by (spec_id, tuple) with the
        // typed columns NULL — their real tuple is readable in `.files`
        batches.groupBy(b => (b.specId, b.part)).toSeq.map { case ((sid, part), bs) =>
          val typed: Seq[Any] =
            if (sid == curSpecId) part
            else specs(curSpecId).map(_ => null)
          typed ++ Seq[Any](
            Integer.valueOf(sid),
            bs.size.toLong,
            bs.map(b => b.rowCount.toLong - kills(b)).sum)
        }
    }
    val desc = s"GraftMemMeta $key.$kind"
    new ScanBuilder {
      override def build(): Scan =
        ProcedureResults.localScan(desc, outSchema, dataRows)
    }
  }
}

/** Scan ↔ write coordination of one row-level operation (UPDATE / MERGE /
  * rewrite-DELETE): the batch versions the runtime group filter narrowed
  * the scan to (None = unfiltered, the whole-table group), and the table
  * version the scan last planned against (the optimistic-concurrency
  * check [[MemTables.replaceBatches]] validates at publish). Both sides
  * live on the driver — `filter` / `planInputPartitions` / `commit` are
  * all driver calls — so a plain shared holder is the correct channel.
  */
final class MemRowLevelState(val groupFilterable: Boolean = true) {
  @volatile var groupVersions: Option[Set[Long]] = None
  // seeded with the table version at OPERATION CREATION, then overwritten
  // by scan planning: a rewrite whose scan never plans partitions (an
  // empty-relation / fully-pruned plan) must still carry a conflict-check
  // version into the publish — a None here would silently skip the
  // optimistic-concurrency validation entirely
  @volatile var scannedVersion: Option[Long] = None
}

/** Column-pruning + filter-pushdown scan builder: the required schema
  * Spark pushes down may drop data columns and may include the
  * [[MemTables.BatchVersion]] metadata column — both served by
  * [[MemScan]]'s by-name projection. Pushed filters drive DATA SKIPPING
  * (batches whose column bounds preclude any match are never planned —
  * the Iceberg-manifest / parquet-row-group pruning shape); every filter
  * is also returned as a residual, so Spark re-evaluates rows and the
  * skipping can only elide work, never change results. Row-level
  * operation scans ignore filter pushdown: their proportionality rides
  * the runtime GROUP filter, and their scan must surface whole groups.
  */
final class MemScanBuilder(
    key: String, tableSchema: StructType, asOf: Option[Long],
    rowLevel: Option[MemRowLevelState] = None,
    branch: Option[String] = None,
    streamOpts: MemStreamOptions = MemStreamOptions())
    extends ScanBuilder
    with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownFilters
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates
    with org.apache.spark.sql.connector.read.SupportsPushDownLimit
    with org.apache.spark.sql.connector.read.SupportsPushDownTopN
    with org.apache.spark.sql.connector.read.SupportsPushDownOffset
    with org.apache.spark.sql.connector.read.SupportsPushDownTableSample {
  private var required: Option[StructType] = None
  private var skipFilters: Array[Filter] = Array.empty
  private var limitRows: Option[Int] = None
  private var offsetRows: Option[Int] = None
  private var topNCols: Option[Seq[String]] = None
  private var sample: Option[(Double, Double, Long)] = None
  private var aggResult: Option[(StructType, Array[Array[Any]], String)] = None
  // the Aggregation instance aggResult was computed for (Spark may probe
  // supportCompletePushDown/pushAggregation repeatedly; recompute only on
  // a different aggregation, keep one consistent value set otherwise)
  private var aggFor: Option[AnyRef] = None
  /** TOP-LEVEL column pruning only: Spark's nested-schema pruning may
    * request a struct column cut down to the referenced fields
    * (`s: struct<country>` of a written `struct<country,city>`). This
    * source stores whole rows per batch file, so a nested prune saves no
    * I/O here — expand the column back to its FULL declared type and let
    * Spark project above the scan (readSchema() is the contract; column
    * pruning is best-effort by design). Without the expansion the
    * era-projection type check would reject the subset struct as an
    * unsupported type change.
    */
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = Some(StructType(requiredSchema.fields.map { f =>
      tableSchema.fields.find(_.name == f.name) match {
        case Some(tf) if tf.dataType != f.dataType => f.copy(dataType = tf.dataType)
        case _ => f
      }
    }))
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    if (rowLevel.isEmpty) skipFilters = filters
    filters // ALL residual: the source only skips, it never filters rows
  }
  override def pushedFilters(): Array[Filter] = skipFilters

  /** LIMIT pushdown, PARTIAL (Spark keeps the global limit operator; the
    * scan's contract is only "return at least the limit's worth of rows
    * if they exist"): partition planning selects a PREFIX of batches
    * whose cumulative live-row count reaches the cap and trims each
    * planned batch to its first `limit` live positions. At 100 TB this
    * is `SELECT * FROM t LIMIT 10` planning one batch instead of a
    * million — the second query every user runs. Spark only pushes a
    * limit when no filter sits between it and the scan, and this source
    * keeps every filter residual, so the surface is exactly the
    * unfiltered head. Row-level operation scans decline: a rewrite must
    * read EVERY row of the affected groups.
    */
  override def pushLimit(limit: Int): Boolean =
    if (rowLevel.nonEmpty || aggResult.isDefined) false
    else { limitRows = Some(limit); true }

  /** TOP-N pushdown, PARTIAL, served only under an active sorted-rewrite
    * claim ([[MemTables.State.sortedBy]]) that the requested order
    * prefixes with plain ASC/NULLS-FIRST columns: every live batch under
    * a claim is internally sorted by the claim columns, so a batch's
    * rows past its first N live ones are dominated by N rows of the same
    * batch and can never reach the global top N — trimming per batch is
    * sound whatever the partition grouping. Spark still merges
    * per-partition heads (TakeOrderedAndProject), so this is cost
    * elision, not semantics. Declines bind-before-claim time travel and
    * row-level scans.
    */
  override def pushTopN(
      orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
      limit: Int): Boolean = {
    import org.apache.spark.sql.connector.expressions.{NamedReference, NullOrdering, SortDirection}
    if (rowLevel.nonEmpty || branch.nonEmpty || aggResult.isDefined) return false
    val st = MemTables.get(key).getOrElse(return false)
    val (sortedBy, since) = st.synchronized((st.sortedBy, st.sortedSince))
    if (sortedBy.isEmpty || asOf.exists(_ < since)) return false
    val cols = orders.map { o =>
      if (o.direction != SortDirection.ASCENDING ||
          o.nullOrdering != NullOrdering.NULLS_FIRST) return false
      o.expression match {
        case nr: NamedReference if nr.fieldNames.length == 1 => nr.fieldNames.head
        case _ => return false
      }
    }
    if (cols.isEmpty || !cols.sameElements(sortedBy.take(cols.length))) return false
    limitRows = Some(limit)
    topNCols = Some(cols.toSeq)
    true
  }

  // partial for both shapes: Spark re-applies the global (ordered) limit;
  // the scan only plans fewer batches and trims each to the cap
  override def isPartiallyPushed: Boolean = true

  /** OFFSET pushdown — COMPLETE (the interface has no partial form: Spark
    * deletes the Offset operator, so the scan must drop EXACTLY `offset`
    * rows). Sound for the unordered pagination shape because any `offset`
    * rows are a valid skip of an unordered relation and the planning-time
    * drop (leading live positions in batch order, one snapshot) is exact.
    * Declines when a TOP-N was pushed: an ordered offset must drop the
    * first rows IN ORDER, which a per-batch view cannot do. (Spark never
    * pushes an offset through a Sort, so the ordered case can't arrive
    * without the TOP-N path anyway.) Also declines — like LIMIT/TOP-N —
    * when a complete aggregate pushdown was already decided: build() would
    * return [[MemAggScan]], which has no head/offset accounting, and an
    * OFFSET's COMPLETE contract means a silently-dropped push emits the
    * skipped row.
    */
  override def pushOffset(offset: Int): Boolean =
    if (rowLevel.nonEmpty || topNCols.isDefined || aggResult.isDefined) false
    else { offsetRows = Some(offset); true }

  /** TABLESAMPLE / `df.sample` pushdown — COMPLETE (Spark deletes the
    * Sample operator): membership is a deterministic per-row Bernoulli
    * over `hash(seed, batchId, position)`, decided at planning and
    * shipped as dead positions, so a 1% sample of a million-batch table
    * costs its keep-set, not the table. Like every sample-pushing source
    * (JDBC TABLESAMPLE), the KEPT SET differs from Spark's own
    * XORShift stream — same distribution, different draws — which the
    * sample contract permits. Declines with-replacement (positions can't
    * repeat) and row-level scans (a rewrite must see every row).
    */
  override def pushTableSample(
      lowerBound: Double, upperBound: Double,
      withReplacement: Boolean, seed: Long): Boolean =
    if (rowLevel.nonEmpty || withReplacement) false
    else { sample = Some((lowerBound, upperBound, seed)); true }

  /** METADATA-ANSWERED aggregates — the Iceberg "count(*) from manifests"
    * surface: global COUNT(*) / COUNT(col) / MIN(col) / MAX(col) are
    * computed from the per-batch statistics published at write time,
    * scanning ZERO rows (complete pushdown: Spark plans no aggregate exec
    * at all). Honesty rules, enforced per aggregation:
    *
    *  - COUNT(*) is always exact: kill maps (delete vectors + equality
    *    deletes) are planning-time metadata, so live rows = rows − kills.
    *  - MIN/MAX/COUNT(col) push ONLY when no visible batch carries a kill
    *    at the bound snapshot — a killed row may BE the recorded extreme
    *    (bounds go stale-conservative under deletes), so the scan declines
    *    and Spark falls back to the ordinary row scan.
    *  - every referenced column must be stats-covered in every batch it
    *    resolves into (era/tombstone resolution as scans project; an
    *    unresolvable field is all-null there: contributes nothing), with
    *    any type difference a legal widening.
    *
    * GROUP BY pushes when every grouping column is an IDENTITY partition
    * column (batches are value-pure in them, so a group is a union of
    * whole batches and its aggregate the same stats fold — the
    * "aggregate from manifests" rollup, one row per partition tuple;
    * all-dead groups are dropped to stay SQL-exact). Spark only attempts
    * aggregate pushdown when zero filters remain after filter pushdown;
    * this source keeps every filter residual, so the surface is exactly
    * the unfiltered aggregate — the query shape a 100 TB
    * `SELECT count(*) FROM t` must never pay a scan for.
    * Values are computed here, at pushdown (one consistent snapshot) —
    * the same planning-time binding every snapshot read uses.
    */
  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    // a COMPLETELY-pushed TABLESAMPLE deletes the Sample operator from the
    // plan, so by the time aggregation is probed (pushdown order: sample →
    // filter → aggregate) the Aggregate looks bare — answering it from
    // full-table batch stats would silently return unsampled aggregates
    // for `t TABLESAMPLE (...) |> count(*)`. The source owns composing the
    // two pushdowns; it declines, and Spark runs the sampled row scan +
    // ordinary aggregate.
    if (sample.isDefined) return false
    if (!aggFor.exists(_ eq agg)) {
      aggResult = MemScanBuilder.computeAgg(key, tableSchema, asOf, branch, rowLevel, agg)
      aggFor = Some(agg)
    }
    aggResult.isDefined
  }
  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    supportCompletePushDown(agg)

  override def build(): Scan = aggResult match {
    case Some((schema, values, desc)) => new MemAggScan(key, schema, values, desc)
    case None =>
      new MemScan(key, tableSchema, asOf, required, rowLevel, skipFilters, branch,
        limitRows, topNCols, streamOpts, offsetRows, sample)
  }
}

object MemScanBuilder {
  import org.apache.spark.sql.connector.expressions.NamedReference
  import org.apache.spark.sql.connector.expressions.aggregate.{AggregateFunc, Aggregation, Count, CountStar, Max, Min}
  import org.apache.spark.sql.types.LongType

  /** Evaluate one pushed aggregation from batch statistics, or None when
    * any part of it cannot be answered exactly (the scan then declines
    * and Spark runs the ordinary plan). See [[MemScanBuilder
    * .supportCompletePushDown]] for the honesty rules.
    */
  private[sources] def computeAgg(
      key: String, tableSchema: StructType, asOf: Option[Long],
      branch: Option[String], rowLevel: Option[MemRowLevelState],
      agg: Aggregation): Option[(StructType, Array[Array[Any]], String)] = {
    if (rowLevel.nonEmpty) return None
    def colOf(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
      e match {
        case r: NamedReference if r.fieldNames.length == 1 => Some(r.fieldNames.head)
        case _ => None
      }
    // GROUP BY is answerable only over IDENTITY partition columns: every
    // batch is value-pure in them, so groups are unions of whole batches
    // and the per-group aggregate is the same stats fold as the global
    // one. (A bucket id is not the column's value; anything else is not
    // batch-pure. Both decline.)
    val groupColOpts = agg.groupByExpressions.toSeq.map(colOf)
    if (groupColOpts.exists(_.isEmpty)) return None
    val gCols = groupColOpts.flatten
    // quick shape check before touching state
    val shapes = agg.aggregateExpressions.map {
      case _: CountStar => true
      case c: Count => !c.isDistinct && colOf(c.column).isDefined
      case m: Min => colOf(m.column).isDefined
      case m: Max => colOf(m.column).isDefined
      case _ => false
    }
    if (!shapes.forall(identity)) return None
    val (_, meta, visible, spec) =
      new MemScan(key, tableSchema, asOf, None, None, Array.empty, branch).selectBatches()
    val gIdx = gCols.map(c => spec.indexWhere {
      case MemTables.IdentityPart(col) => col == c
      case _ => false
    })
    if (gIdx.contains(-1)) return None
    val bound = asOf.getOrElse(Long.MaxValue)

    // the stats fold over one batch set (the whole table, or one group);
    // returns (live row count, values) — the group path reuses the live
    // count instead of recomputing effectiveKills (which re-probes rows,
    // a parquet read per file-backed batch) a second time per group
    def aggOver(batches: Vector[MemTables.TaggedBatch]): Option[(Long, Seq[Any])] = {
      val killCounts = batches.map(b =>
        MemTables.effectiveKills(b, meta.eqDeletes, meta.eras, meta.droppedAt)
          .count(_._2 <= bound).toLong)
      val anyKills = killCounts.exists(_ > 0)
      val liveRows = batches.map(_.rowCount.toLong).sum - killCounts.sum

      // per-batch resolved stats of a bound column: Left(()) = not
      // answerable from stats; Right(None) = all-null in this batch;
      // Right(Some(...)) = (stats, srcType)
      def resolved(n: String): Either[Unit,
          Vector[Option[(MemTables.ColStats, org.apache.spark.sql.types.DataType)]]] = {
        val boundField = tableSchema.fields.find(_.name == n)
          .getOrElse(return Left(()))
        if (MemTables.BatchVersion == n || MemTables.BatchId == n || MemTables.BatchPos == n)
          return Left(()) // metadata columns: no aggregate contract
        val perBatch = batches.map { b =>
          MemScan.srcNameIn(b, meta)(n) match {
            // an applicable ADD COLUMN default means the batch is NOT
            // all-null for this column (every live row serves D) — the
            // stats fold cannot account for kills there, so decline
            case None if MemTables.defaultFor(meta.defaults)(n, b.writeVersion)
              .isDefined => None
            case None => Some(None) // unresolvable: all-null for this batch
            case Some(src) =>
              val i = b.schema.fieldNames.indexOf(src)
              val dt = b.schema.fields(i).dataType
              if (dt != boundField.dataType && !MemTables.widens(dt, boundField.dataType)) None
              else b.stats.get(src).map(s => Some((s, dt)))
          }
        }
        if (perBatch.exists(_.isEmpty)) Left(())
        else Right(perBatch.map(_.get))
      }

      def minMax(n: String, wantMin: Boolean): Option[Any] = {
        if (anyKills) return None // a killed row may be the extreme
        val boundType = tableSchema.fields.find(_.name == n).get.dataType
        val cmp = MemTables.statsComparator(boundType).getOrElse(return None)
        resolved(n) match {
          case Left(_) => None
          case Right(perBatch) =>
            val vals = perBatch.flatten.flatMap { case (s, dt) =>
              Option(if (wantMin) s.min else s.max)
                .map(v => MemTables.widenValue(v, dt, boundType))
            }
            // Some(null) = a real NULL aggregate over an empty/all-null set
            Some(if (vals.isEmpty) null
            else vals.reduce((a, b) =>
              if ((cmp(a, b) < 0) == wantMin) a else b))
        }
      }

      def countCol(n: String): Option[Any] = {
        if (anyKills) return None // killed rows' null-ness is not in the stats
        resolved(n) match {
          case Left(_) => None
          case Right(perBatch) => Some(java.lang.Long.valueOf(
            perBatch.flatten.map { case (s, _) => s.rowCount - s.nullCount }.sum))
        }
      }

      val values = agg.aggregateExpressions.map {
        case _: CountStar => Some(java.lang.Long.valueOf(liveRows): Any)
        case c: Count => countCol(colOf(c.column).get)
        case m: Min => minMax(colOf(m.column).get, wantMin = true)
        case m: Max => minMax(colOf(m.column).get, wantMin = false)
        case _ => None
      }
      if (values.exists(_.isEmpty)) None
      else Some((liveRows, values.toSeq.map(_.get)))
    }

    val rows: Option[Seq[Array[Any]]] =
      if (gCols.isEmpty) aggOver(visible).map { case (_, vs) => Seq(vs.toArray) }
      else {
        // rows dead at the bound snapshot still pin their batch's group
        // membership (the tuple is batch metadata); a group whose every
        // row is dead still shows with COUNT(*) = 0 — same answer the
        // ordinary scan-side aggregate would NOT produce... so drop
        // all-dead groups to stay SQL-exact (no surviving row, no group)
        val groups = visible.groupBy(b => gIdx.map(b.part(_)))
        val perGroup = groups.toSeq.map { case (gv, bs) =>
          aggOver(bs).map { case (live, a) =>
            if (live == 0L) None else Some((gv ++ a).toArray)
          }
        }
        if (perGroup.exists(_.isEmpty)) None
        else Some(perGroup.flatMap(_.get))
      }
    if (rows.isEmpty) return None

    val groupFields = gCols.map(c => tableSchema.fields.find(_.name == c).get)
    val schema0 = groupFields.foldLeft(new StructType())((s, f) => s.add(f))
    val schema = agg.aggregateExpressions.zipWithIndex.foldLeft(schema0) {
      case (s, (_: CountStar, i)) => s.add(s"agg_$i", LongType, nullable = false)
      case (s, (_: Count, i)) => s.add(s"agg_$i", LongType, nullable = false)
      case (s, (m: Min, i)) => s.add(s"agg_$i",
        tableSchema.fields.find(_.name == colOf(m.column).get).get.dataType, nullable = true)
      case (s, (m: Max, i)) => s.add(s"agg_$i",
        tableSchema.fields.find(_.name == colOf(m.column).get).get.dataType, nullable = true)
      case (s, _) => s
    }
    val desc = (gCols.map(c => s"GROUP:$c") ++
      agg.aggregateExpressions.map(_.describe)).mkString(", ")
    Some((schema, rows.get.toArray, desc))
  }
}

/** Completely-pushed aggregate over a mem table: one partition carrying
  * the already-computed result rows (ONE row for a global aggregate, one
  * per partition tuple for a pushed GROUP BY) — the executed plan
  * contains NO aggregate exec and the scan ships zero data rows.
  */
final class MemAggScan(
    key: String, schema: StructType, rows: Array[Array[Any]], aggDesc: String)
    extends Scan with Batch {
  override def readSchema(): StructType = schema
  override def toBatch: Batch = this
  override def description(): String =
    s"GraftMemScan $key AGG-PUSHED [$aggDesc]"
  override def planInputPartitions(): Array[InputPartition] =
    Array(MemAggPartition(rows))
  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
        val rs = partition.asInstanceOf[MemAggPartition].rows
        new PartitionReader[InternalRow] {
          private var i = -1
          override def next(): Boolean = { i += 1; i < rs.length }
          override def get(): InternalRow =
            new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(rs(i))
          override def close(): Unit = ()
        }
      }
    }
}

final case class MemAggPartition(rows: Array[Array[Any]]) extends InputPartition

/** `readSchema` may be a PRUNED projection of the table schema and may
  * include the [[MemTables.BatchVersion]] metadata column (served per
  * partition from the batch's visibility version — the lineage handle the
  * row-level operations anchor their group rewrite on).
  */
final class MemScan(
    key: String, tableSchema: StructType, asOf: Option[Long] = None,
    readSchemaOpt: Option[StructType] = None,
    rowLevel: Option[MemRowLevelState] = None,
    skipFilters: Array[Filter] = Array.empty,
    branch: Option[String] = None,
    limitRows: Option[Int] = None,
    topNCols: Option[Seq[String]] = None,
    streamOpts: MemStreamOptions = MemStreamOptions(),
    offsetRows: Option[Int] = None,
    sample: Option[(Double, Double, Long)] = None)
    extends Scan with Batch
    with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering
    with org.apache.spark.sql.connector.read.SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning
    with org.apache.spark.sql.connector.read.SupportsReportOrdering {
  private val boundSchema = readSchemaOpt.getOrElse(tableSchema)

  /** PER-PARTITION sort order, reported only when provably true of every
    * planned partition: the table carries a sorted-rewrite claim
    * ([[MemTables.State.sortedBy]] — established by `CALL
    * graft.rewrite_data_files('t', 'cols')`, retired by any mutation that
    * adds or reorders rows), the read binds at-or-after the claim's
    * version, every sort column survives into the bound schema, and no
    * partition GROUPING concatenates two batches (grouped splits of a
    * partitioned table must hold one batch per partition tuple — true by
    * construction after a sorted rewrite, where the range shuffle sends
    * each tuple to one task). Composed with the reported
    * KeyGroupedPartitioning this is the full clustered-table contract: a
    * join of two co-partitioned, co-sorted tables plans a merge join with
    * ZERO exchanges and ZERO sorts — at 100 TB, the scan-to-join fast
    * path every warehouse layout exists to hit.
    */
  override def outputOrdering():
      Array[org.apache.spark.sql.connector.expressions.SortOrder] = {
    if (rowLevel.nonEmpty || branch.nonEmpty) return Array.empty
    val st = MemTables.get(key).getOrElse(return Array.empty)
    val (sortedBy, since) = st.synchronized((st.sortedBy, st.sortedSince))
    if (sortedBy.isEmpty || asOf.exists(_ < since)) return Array.empty
    if (!sortedBy.forall(boundSchema.fieldNames.contains)) return Array.empty
    val (_, _, visible, spec) = selectBatches()
    // grouped partitions concatenate same-tuple batches; the order claim
    // survives only when every group is a single batch
    if (spec.nonEmpty && visible.groupBy(_.part).exists(_._2.size > 1))
      return Array.empty
    sortedBy.map(c => org.apache.spark.sql.connector.expressions.Expressions.sort(
      org.apache.spark.sql.connector.expressions.Expressions.column(c),
      org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING)).toArray
  }
  override def readSchema(): StructType = boundSchema
  override def toBatch: Batch = this
  override def description(): String =
    s"GraftMemScan $key${asOf.fold("")(v => s" VERSION AS OF $v")}" +
      branch.fold("")(b => s" BRANCH $b") +
      (if (skipFilters.nonEmpty) s" skip=[${skipFilters.mkString(", ")}]" else "") +
      limitRows.fold("")(n => topNCols.fold(s" limit=$n")(cs =>
        s" topN=$n(${cs.mkString(",")})")) +
      offsetRows.fold("")(o => s" offset=$o") +
      sample.fold("") { case (lo, hi, seed) => s" sample=[$lo,$hi)@$seed" }

  /** Runtime filtering, two regimes:
    *
    *  - ROW-LEVEL operation scans advertise `_batch_version` (the group
    *    id): Spark's group-filter rule feeds back the versions of batches
    *    containing condition matches, so the rewrite reads (and therefore
    *    replaces) only the affected batches.
    *  - PLAIN scans on unpartitioned tables advertise their stats-covered
    *    columns: after a join's build side materializes, Spark pushes the
    *    key set here at EXECUTION time (the V2 analogue of dynamic
    *    partition pruning) and the `IN`/`=` shapes become extra skip
    *    filters — batches whose bounds preclude every build-side key are
    *    never planned. Over-retention is safe (the join re-applies its
    *    condition); partitioned tables sit this out because their pruning
    *    and key-grouped planning already ride the static partition tuple.
    */
  override def filterAttributes():
      Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    if (rowLevel.exists(_.groupFilterable))
      Array(org.apache.spark.sql.connector.expressions.Expressions
        .column(MemTables.BatchVersion))
    // a pushed LIMIT head sits BELOW any join this scan feeds: runtime
    // filtering would re-pick which rows reach the head (filter-then-limit
    // vs the query's limit-then-filter), so the scan declines the offer
    else if (rowLevel.isEmpty && limitRows.isEmpty && offsetRows.isEmpty &&
        MemTables.get(key).exists(_.partitioning.isEmpty))
      // ONLY columns of the BOUND (column-pruned) schema: Spark resolves
      // these against the relation's pruned output and throws on a miss —
      // e.g. the runtime-group-filter subquery scan reads [cond-cols,
      // _batch_version] and must not be offered the table's other columns
      boundSchema.fields
        .filterNot(f => Set(MemTables.BatchVersion, MemTables.BatchId,
          MemTables.BatchPos).contains(f.name))
        .filter(f => MemTables.statsComparator(f.dataType).isDefined)
        .map(f => org.apache.spark.sql.connector.expressions.Expressions.column(f.name))
    else Array.empty

  // runtime-pushed skip filters (plain scans; see filterAttributes)
  @volatile private var runtimeSkip: Array[Filter] = Array.empty

  override def filter(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit = {
    rowLevel match {
      case Some(state) =>
        val sets = predicates.flatMap(MemScan.versionSetOf)
        // record ONLY a fully-parsed restriction: the scan narrows by it
        // below and the write replaces exactly the same set — an unparsed
        // predicate shape leaves both sides at whole-table, never skewed
        if (sets.nonEmpty) state.groupVersions = Some(sets.reduce(_ intersect _))
      case None =>
        runtimeSkip = predicates.flatMap(MemScan.skipFilterOf)
    }
    // runtime filtering legitimately NARROWS the plan after statistics
    // were reported, so the memoized snapshot is recomputed — narrowing
    // can only shrink the planned output, never grow it past the bound
    // AQE read back (and limit trims re-apply on the fresh snapshot)
    this.synchronized { selectMemo = None; plannedMemo = None }
  }

  /** Shared by partition planning and statistics estimation: ONE
    * consistent state snapshot under the table's monitor (unsynchronized
    * field-by-field reads could straddle a concurrent expire_snapshots —
    * pass the earliest-version check against the pre-expiry clock, then
    * read batches after expiry dropped them, silently returning a partial
    * snapshot), with snapshot visibility, the runtime group filter, and
    * DATA SKIPPING applied. Returns (table version at selection, tombstone
    * map bound to the snapshot, selected batches).
    */
  // ONE state snapshot and ONE set of planned slices per Scan instance
  // (invalidated only by runtime filtering, above): estimateStatistics,
  // outputPartitioning/outputOrdering, and planInputPartitions each walk
  // live mutable table state, and computing them at different times could
  // straddle a concurrent commit — for a pushed TOP-N, stats computed
  // while the sorted-layout claim held but partitions planned after a
  // mutation retired it would emit MORE rows than the reported rowCount,
  // which AQE reads back as a hard maxRows (EliminateLimits deletes the
  // global limit against it): wrong results, not a plan nit. Memoizing
  // binds every planning-time view of this scan to the same snapshot.
  private var selectMemo: Option[(Long, MemScan.BoundMeta,
      Vector[MemTables.TaggedBatch], Seq[MemTables.PartField])] = None
  private var plannedMemo: Option[(Long, Seq[MemTables.PartField],
      Vector[(MemTables.TaggedBatch, Map[String, String], Set[Int], Int)])] = None

  private[sources] def selectBatches():
      (Long, MemScan.BoundMeta, Vector[MemTables.TaggedBatch], Seq[MemTables.PartField]) =
    this.synchronized {
      selectMemo match {
        case Some(r) => r
        case None =>
          val r = computeSelectBatches()
          selectMemo = Some(r)
          r
      }
    }

  private def computeSelectBatches():
      (Long, MemScan.BoundMeta, Vector[MemTables.TaggedBatch], Seq[MemTables.PartField]) = {
    val st = MemTables.get(key)
      .getOrElse(throw new IllegalStateException(s"mem table $key dropped"))
    val (curVersion, earliestVersion, history, droppedAtCur, erasCur, allBatches,
        branchesNow, eqDeletesNow, specs, defaultsCur) =
      st.synchronized {
        (st.version, st.earliestVersion, st.history, st.droppedAt, st.eras,
          st.batches, st.branches, st.eqDeletes, st.specHistory, st.columnDefaults)
      }
    // a snapshot expired between loadTable and scan planning must fail
    // loudly, not read the partial remains of its batches — validated
    // against the SAME snapshot the batches below come from
    asOf.foreach { v =>
      if (v < earliestVersion)
        throw new IllegalStateException(
          s"mem table $key version $v expired before the scan planned " +
            s"(earliest retained snapshot: $earliestVersion)")
    }
    // metadata as of the pinned snapshot (tombstones and renames must not
    // "see the future": a drop or rename AFTER version v is invisible to
    // an AS OF v read)
    val meta = asOf match {
      case Some(v) =>
        val h = history.filter(_.version <= v).last
        MemScan.BoundMeta(h.droppedAt, h.eras, eqDeletesNow, h.defaults)
      case None => MemScan.BoundMeta(droppedAtCur, erasCur, eqDeletesNow, defaultsCur)
    }
    val droppedAt = meta.droppedAt
    // snapshot visibility: a batch exists in AS OF v iff committed at or
    // before v and not truncated at or before v; a current read sees the
    // never-removed batches
    val liveMain = asOf match {
      case Some(v) => allBatches.filter(b => b.version <= v && b.removedAt > v)
      case None => allBatches.filter(_.removedAt == Long.MaxValue)
    }
    // a BRANCH read is the base snapshot (this scan is bound AS OF the
    // base) plus the branch's staged batches, with the branch's staged
    // ROW KILLS overlaid (kill version 0 — visible at any branch bound;
    // the copy touches metadata only, rows stay by reference)
    val live = branch match {
      case Some(br) =>
        val bs = branchesNow.getOrElse(br,
          throw new IllegalStateException(
            s"branch '$br' of $key was dropped or published before the scan planned"))
        (liveMain ++ bs.batches).map { b =>
          bs.dvs.get(b.batchId) match {
            case Some(dead) if dead.nonEmpty =>
              b.copy(dv = b.dv ++ dead.iterator.map(_ -> 0L))
            case _ => b
          }
        }
      case None => liveMain
    }
    // row-level rewrite narrowed by the runtime group filter: scan only
    // the batches whose versions contain condition matches
    val grouped = rowLevel.flatMap(_.groupVersions) match {
      case Some(vs) => live.filter(b => vs.contains(b.version))
      case None => live
    }
    // DATA SKIPPING: drop batches whose published column bounds preclude
    // every pushed filter — at 100 TB this is the difference between a
    // selective read costing its matches and costing the table. Filter
    // columns resolve through the SAME era/tombstone rules as data
    // projection (unresolvable field = all-null for this batch); the two
    // versioning metadata columns are per-batch constants. Widened columns
    // compare fine: the evaluator's cmp is numeric-promoting.
    val allSkip = skipFilters ++ runtimeSkip
    val visible =
      if (allSkip.isEmpty) grouped
      else grouped.filter { b =>
        val n = b.rowCount.toLong
        val lookup: String => Option[MemTables.ColStats] = name =>
          if (name == MemTables.BatchVersion)
            Some(MemTables.ColStats(b.version, b.version, 0L, n))
          else if (name == MemTables.BatchId)
            Some(MemTables.ColStats(b.batchId, b.batchId, 0L, n))
          else MemScan.srcNameIn(b, meta)(name) match {
            case None =>
              // unresolvable: all-null here — unless an ADD COLUMN default
              // applies, in which case every row serves the singleton D
              // (treating it all-null would wrongly prune `name = D`)
              MemTables.defaultFor(meta.defaults)(name, b.writeVersion) match {
                case Some(d) => Some(MemTables.ColStats(d, d, 0L, n, 1L))
                case None => Some(MemTables.ColStats(null, null, n, n))
              }
            case Some(src) => b.stats.get(src) // None for uncovered types
          }
        allSkip.forall(f => MemTables.mayMatch(f, lookup)) && {
          // transform-layout pruning under the batch's OWN written spec
          // (spec evolution: old batches keep their tuple's meaning;
          // identity fields already prune via their exact singleton stats
          // above)
          val bSpec = specs(b.specId)
          bSpec.isEmpty ||
            allSkip.forall(f => MemTables.partMayMatch(f, bSpec, b.part))
        }
      }
    // the spec handed to planning consumers (partition keys, key-grouped
    // reporting, identity-group aggregate pushdown) is the UNIFORM spec of
    // the planned batches: all one spec → that spec (an empty table plans
    // under the current spec); mixed eras → Nil, which declines SPJ and
    // group pushdown — correctness before cleverness until a rewrite
    // migrates the table
    val uniformSpec =
      if (visible.isEmpty) specs.last
      else {
        val ids = visible.iterator.map(_.specId).toSet
        if (ids.size == 1) specs(ids.head) else Nil
      }
    (curVersion, meta, visible, uniformSpec)
  }

  /** Post-pushdown size/row-count estimate from the batches this scan
    * would plan (snapshot visibility, group filter, and data skipping all
    * applied; DV-dead rows excluded) — what lets Spark size-plan joins
    * against connector tables: a small mem dimension auto-broadcasts on
    * real numbers instead of falling back to default sizing.
    */
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics = {
    // EXACTLY the planned output (same slices partition planning builds —
    // DVs, sample membership, offset, head trims all applied): AQE reads
    // this rowCount back as the relation's maxRows and EliminateLimits
    // deletes limit operators against it, so an under-estimate here is a
    // wrong-results bug, not a plan-quality nit
    val (_, _, planned) = plannedSlices()
    val statsMeta = selectBatches()._2 // memoized: same snapshot as planned
    val rows = planned.iterator.map { case (_, _, dead, cut) =>
      (cut - dead.count(_ < cut)).toLong
    }.sum
    val bytes = rows * math.max(1, boundSchema.defaultSize).toLong
    // per-column CBO statistics from the planned batches' manifest
    // entries: distinct-count as a BOUND (Σ of exact per-batch NDVs,
    // capped at the row count — overlapping batch domains only shrink the
    // truth) and the summed null count. Estimates, not contracts — the
    // aggregate-pushdown path keeps its own exactness rules — but they
    // are what lets the cost-based optimizer size and REORDER joins over
    // connector tables instead of guessing.
    val colStats: java.util.Map[
        org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics] =
      new java.util.HashMap()
    val histogramsOn = org.apache.spark.sql.internal.SQLConf.get
      .getConfString("spark.graft.stats.histograms", "true") == "true"
    boundSchema.fieldNames
      .filterNot(n => Set(MemTables.BatchVersion, MemTables.BatchId,
        MemTables.BatchPos).contains(n))
      .foreach { n =>
        var ndv = 0L
        var nulls = 0L
        var known = planned.nonEmpty
        // UNION-MERGED sketch estimate ([[NdvSketch]]): tight where batch
        // domains overlap (the Σ bound over-counts shared values by up to
        // the batch count). Falls back to the Σ-cap bound the moment ANY
        // contributing batch lacks a sketch — the estimate must never be
        // an accidental under-count from a half-merged union.
        var union: NdvSketch = null
        var sketchable = planned.nonEmpty
        // HISTOGRAM raw material: per-batch deterministic value samples
        // ([[SampleSketch]]), each sample value weighted by its batch's
        // non-null rows / sample size — batches of different sizes merge
        // fairly. One contributing batch without a sample (legacy stats,
        // unhistogrammable type) and the column reports no histogram:
        // a partial histogram would misestimate, not just under-inform.
        var histogrammable = histogramsOn && planned.nonEmpty
        val samplePairs = Vector.newBuilder[(Array[Double], Double)]
        val boundType = boundSchema(n).dataType
        // STRING columns sample too (full-value hash image), but their
        // samples feed ONLY the skew-aware effective NDV below — never a
        // catalyst histogram: catalyst's join estimator crashes on a
        // string-typed histogram (computeByHistogram unconditionally does
        // newMin.get.toString.toDouble, and ValueInterval.intersect on
        // StringType returns (None, None) — verified against the 4.1.2
        // bytecode), and the V2→catalyst stats conversion copies
        // histograms with no type guard, so the only safe place to stop
        // one is here
        val catalystHistogramType = SampleSketch.statsDouble(boundType).isDefined
        val defaultToDouble = SampleSketch.statsDouble(boundType)
          .orElse(SampleSketch.stringDouble(boundType))
        // global MIN/MAX folded from the batch bounds (numeric-promoting
        // compare, so pre-widening batches fold correctly) — the
        // histogram's own consumers (catalyst's join/filter estimation)
        // read the overlap range off ColumnStat.min/max, so a histogram
        // without bounds is ignored. Numeric/date/timestamp columns only
        // (the same set that samples).
        var gmin: Any = null
        var gmax: Any = null
        var boundsKnown = defaultToDouble.isDefined && planned.nonEmpty
        def foldBounds(mn: Any, mx: Any): Unit = if (boundsKnown) {
          if (mn == null || mx == null) () // all-null batch: nothing to fold
          else {
            if (gmin == null || MemTables.cmp(mn, gmin).exists(_ < 0)) gmin = mn
            if (gmax == null || MemTables.cmp(mx, gmax).exists(_ > 0)) gmax = mx
          }
        }
        planned.foreach { case (b, srcNames, _, _) =>
          srcNames.get(n).flatMap(b.stats.get) match {
            case Some(s) if s.ndv >= 0 =>
              ndv += s.ndv; nulls += s.nullCount
              s.sketch match {
                case Some(sk) if sketchable =>
                  if (union == null) union = sk.copySketch() else union.merge(sk)
                case _ => sketchable = false
              }
              foldBounds(s.min, s.max)
              if (histogrammable) {
                val nonNull = s.rowCount - s.nullCount
                s.sample match {
                  case Some(sm) if sm.nonEmpty && nonNull > 0 =>
                    samplePairs += ((sm, nonNull.toDouble / sm.length))
                  case _ if nonNull == 0 => () // all-null: nothing to bin
                  case _ => histogrammable = false
                }
              }
            case Some(_) => known = false
            case None if srcNames.contains(n) => known = false // uncovered type
            case None =>
              // unresolved era: all-null here — unless an ADD COLUMN
              // default applies, in which case every row serves D
              MemTables.defaultFor(statsMeta.defaults)(n, b.writeVersion) match {
                case Some(dv) =>
                  ndv += 1L
                  if (sketchable) {
                    if (union == null) union = NdvSketch.empty()
                    union.addValue(dv)
                  }
                  if (b.rowCount > 0) foldBounds(dv, dv)
                  if (histogrammable) defaultToDouble.map(f => f(dv)) match {
                    case Some(d0) if b.rowCount > 0 =>
                      samplePairs += ((Array(d0), b.rowCount.toDouble))
                    case _ if b.rowCount == 0 => ()
                    case _ => histogrammable = false
                  }
                case None => nulls += b.rowCount
              }
          }
        }
        if (sketchable && union != null) ndv = union.estimate
        if (known) {
          val trueNdv = math.min(ndv, math.max(rows - nulls, 0L))
          val nl = math.min(nulls, rows)
          val pairs = if (histogrammable) samplePairs.result() else Nil
          val hist: Option[org.apache.spark.sql.connector.read.colstats.Histogram] =
            if (histogrammable && catalystHistogramType)
              MemScan.equiHeightHistogram(pairs, trueNdv)
            else None
          // SKEW-AWARE effective NDV for STRING columns (catalyst cannot
          // take a string histogram, so skew must travel through the one
          // channel it does read): the inverse Simpson index 1/Σp² from
          // the weighted samples — the distinct count at which the
          // UNIFORM model reproduces the skewed truth for equi-join size
          // (L·R·Σp² = L·R/n_eff) and row-averaged equality selectivity.
          // SEVERITY-GATED: a sample's inverse Simpson saturates at the
          // sample's own distinct-value count, so it is only trusted when
          // heavy hitters dominate — n_eff under a quarter of BOTH the
          // sampled-distinct count and the true NDV; near-uniform columns
          // keep their exact NDV (group-count estimates stay faithful).
          val d =
            if (catalystHistogramType || !histogrammable || pairs.isEmpty ||
                org.apache.spark.sql.internal.SQLConf.get.getConfString(
                  "spark.graft.stats.string-skew-ndv", "true") != "true")
              trueNdv
            else MemScan.effectiveNdv(pairs) match {
              case Some((nEff, sampleDistinct))
                  if nEff * 4 <= sampleDistinct && nEff * 4 <= trueNdv =>
                math.max(1L, nEff)
              case _ => trueNdv
            }
          // report bounds in the BOUND type's boxing (a pre-widening
          // batch's Integer min under a BIGINT binding must surface as
          // Long — catalyst's estimation casts by the attribute's type)
          val (minV, maxV) =
            if (boundsKnown && gmin != null)
              (MemScan.asBoundValue(gmin, boundType),
                MemScan.asBoundValue(gmax, boundType))
            else (None, None)
          colStats.put(
            org.apache.spark.sql.connector.expressions.Expressions.column(n),
            new org.apache.spark.sql.connector.read.colstats.ColumnStatistics {
              override def distinctCount(): java.util.OptionalLong =
                java.util.OptionalLong.of(d)
              override def nullCount(): java.util.OptionalLong =
                java.util.OptionalLong.of(nl)
              override def min(): java.util.Optional[Object] =
                minV.map(v => java.util.Optional.of(v.asInstanceOf[Object]))
                  .getOrElse(java.util.Optional.empty())
              override def max(): java.util.Optional[Object] =
                maxV.map(v => java.util.Optional.of(v.asInstanceOf[Object]))
                  .getOrElse(java.util.Optional.empty())
              override def histogram(): java.util.Optional[
                  org.apache.spark.sql.connector.read.colstats.Histogram] =
                hist.map(java.util.Optional.of[
                  org.apache.spark.sql.connector.read.colstats.Histogram](_))
                  .getOrElse(java.util.Optional.empty())
            })
        }
      }
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong = java.util.OptionalLong.of(bytes)
      override def numRows(): java.util.OptionalLong = java.util.OptionalLong.of(rows)
      override def columnStats(): java.util.Map[
          org.apache.spark.sql.connector.expressions.NamedReference,
          org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = colStats
    }
  }

  /** KEY-GROUPED output partitioning (storage-partitioned joins): a
    * partitioned table's plain scan reports its partition transforms as
    * the clustering, and every planned partition carries its partition
    * tuple ([[MemPartition.partitionKey]]), so Spark groups splits by key
    * and two co-partitioned tables JOIN WITH ZERO SHUFFLE (under
    * `spark.sql.sources.v2.bucketing.enabled`) — at 100 TB the single
    * biggest cost a table layout can remove from a fact-fact join.
    * Row-level operation scans stay unreported: their granularity contract
    * is the batch-version group. `numPartitions` is advisory (Spark
    * derives the real key list from the planned partitions).
    */
  override def outputPartitioning():
      org.apache.spark.sql.connector.read.partitioning.Partitioning = {
    val (_, _, visible, spec) = selectBatches()
    if (spec.nonEmpty && rowLevel.isEmpty)
      new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
        MemTables.toTransforms(spec).map(t =>
          t: org.apache.spark.sql.connector.expressions.Expression),
        visible.map(_.part).distinct.size)
    else
      new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(
        visible.size)
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val (curVersion, spec, planned) = plannedSlices()
    // row-level ops: remember the version the rewrite planned against so
    // the publish can reject an interleaved commit (lost-update guard)
    rowLevel.foreach(_.scannedVersion = Some(curVersion))
    val (_, meta, _, _) = selectBatches()
    val parts = planned.map { case (b, srcNames, dead, cut) =>
      val key = if (spec.nonEmpty && rowLevel.isEmpty) Some(b.part) else None
      val defaults = boundSchema.fieldNames.iterator
        .filterNot(srcNames.contains)
        .flatMap(n => MemTables.defaultFor(meta.defaults)(n, b.writeVersion)
          .map(n -> _)).toMap
      // ship the PATH (+ positions to skip and the head cut); the
      // executor streams the parquet rows itself — the driver never
      // materializes data for a scan. A cut at the full row count is no
      // cut (lets the columnar reader skip position tracking entirely on
      // the plain-scan fast path).
      MemPartition(b.schema, b.version, srcNames, b.store.path,
        dead.filter(_ < cut), b.batchId, key,
        cut = if (cut >= b.rowCount) -1 else cut,
        defaults = defaults,
        pushFilters = MemScan.batchPushFilters(
          boundSchema, skipFilters, srcNames, b.schema))
    }.toArray
    // uniform columnar verdict: vectorized reads only when EVERY planned
    // partition is projectable column-for-column (Spark rejects mixed
    // columnar/row partitions in one scan). Row-level operation scans
    // keep the row path — their rewrite plumbing consumes rows anyway and
    // correctness outweighs the decode win there.
    val columnarOk = rowLevel.isEmpty && parts.nonEmpty &&
      parts.forall(MemScan.columnarSupported(boundSchema, _))
    if (columnarOk) parts.map(mp => mp.copy(columnar = true): InputPartition)
    else parts.map(mp => mp: InputPartition)
  }

  /** The slices this scan will emit — `(batch, src-name map, dead
    * positions, cut)`: a reader walks positions `[0, cut)` skipping
    * `dead`. Shared by partition planning and statistics, so the reported
    * row count is EXACTLY the planned output. That exactness is
    * load-bearing, not cosmetic: AQE surfaces a V2 relation's rowCount as
    * `maxRows`, and `EliminateLimits` DELETES a GlobalLimit the moment
    * `maxRows <= limit` — an estimate smaller than what the scan can
    * actually emit would let a partial-pushed LIMIT return extra rows
    * with no operator left to cut them (caught by `dsv2_limit_topn`'s
    * head probe hashing 51 ≠ 50).
    */
  private def plannedSlices(): (Long, Seq[MemTables.PartField],
      Vector[(MemTables.TaggedBatch, Map[String, String], Set[Int], Int)]) =
    this.synchronized {
      plannedMemo match {
        case Some(r) => r
        case None =>
          val r = computePlannedSlices()
          plannedMemo = Some(r)
          r
      }
    }

  private def computePlannedSlices(): (Long, Seq[MemTables.PartField],
      Vector[(MemTables.TaggedBatch, Map[String, String], Set[Int], Int)]) = {
    val (curVersion, meta, visible, spec) = selectBatches()
    // Every batch is read through an ERA-RESOLVED by-name projection into
    // the scan-bound schema (schema evolution: columns added after a batch
    // was written read as null; dropped columns are skipped; renamed
    // columns resolve to the name the batch stored them under — see
    // [[MemTables.sourceFieldName]]). A resolved field whose dataType
    // differs from the bound type is readable ONLY through a [[MemTables
    // .widens]] promotion (values convert at read); anything else would
    // decode garbage, so fail loudly at PLANNING time, before any executor
    // touches a row.
    val srcMaps = visible.map { b =>
      val m = MemScan.srcMapOf(boundSchema, b, meta)
      boundSchema.fields.foreach { f =>
        m.get(f.name).foreach { src =>
          val dt = b.schema.fields(b.schema.fieldNames.indexOf(src)).dataType
          if (!MemTables.sameShape(dt, f.dataType) && !MemTables.widens(dt, f.dataType))
            throw new IllegalStateException(
              s"mem table $key: column ${f.name} was written as " +
                s"${dt.simpleString} but the scan is bound to " +
                s"${f.dataType.simpleString} — not a supported widening, recreate the table")
        }
      }
      m
    }
    // merge-on-read overlay: positions DV-deleted at-or-before the bound
    // snapshot are computed at planning (driver-side, against the pinned
    // version) and shipped in the partition for the reader to skip
    val bound = asOf.getOrElse(Long.MaxValue)
    val withDead = visible.zip(srcMaps).map { case (b, srcNames) =>
      val dead = MemTables.effectiveKills(b, meta.eqDeletes, meta.eras, meta.droppedAt)
        .collect { case (p, at) if at <= bound => p }.toSet
      (b, srcNames, dead)
    }
    // pushed TABLESAMPLE (COMPLETE — Spark deleted the Sample operator):
    // deterministic per-row Bernoulli over hash(seed, batchId, position);
    // non-members join the dead set before offset/limit accounting
    val afterSample = sample match {
      case None => withDead
      case Some((lo, hi, seed)) =>
        withDead.map { case (b, s, dead) =>
          var extra = dead
          var i = 0
          while (i < b.rowCount) {
            if (!dead.contains(i)) {
              val u = MemScan.sampleUniform(seed, b.batchId, i)
              if (u < lo || u >= hi) extra += i
            }
            i += 1
          }
          (b, s, extra)
        }
    }
    // pushed OFFSET (COMPLETE — Spark deleted the Offset operator, the
    // scan owes an exact drop): the first `offset` live positions in
    // batch order join the dead set, skipped by the reader like DV kills;
    // the limit logic below then counts live rows AFTER the offset
    val afterOffset = offsetRows match {
      case None => afterSample
      case Some(off) =>
        var remaining = off
        afterSample.map { case (b, s, dead) =>
          if (remaining <= 0) (b, s, dead)
          else {
            var extra = dead
            var i = 0
            while (i < b.rowCount && remaining > 0) {
              if (!dead.contains(i)) { extra += i; remaining -= 1 }
              i += 1
            }
            (b, s, extra)
          }
        }
    }
    // pushed LIMIT / TOP-N head (both PARTIAL — Spark re-applies the
    // global (ordered) limit, so trimming can only elide cost, never
    // change results):
    //  - plain LIMIT: a PREFIX of batches cut so the CUMULATIVE live
    //    count is exactly min(n, total) — any n rows are a valid head of
    //    an unordered relation, and the global exactness means the scan
    //    can never emit more than n even if AQE eliminates the limit
    //    operator on the strength of the reported row count.
    //  - TOP-N: EVERY batch trimmed to its first n live positions (a
    //    later batch may hold the global minimum, so none may be
    //    dropped); rows past a batch's first n live are dominated by n
    //    rows of the same batch — sound only while the sorted-rewrite
    //    claim holds, so it is RE-VALIDATED here against the planned
    //    snapshot (a mutation racing pushdown→planning retires the trim,
    //    and the scan degrades to unfiltered partitions).
    def cutAt(b: MemTables.TaggedBatch, dead: Set[Int], n: Long): (Int, Long) = {
      var live = 0L
      var i = 0
      while (i < b.rowCount && live < n) {
        if (!dead.contains(i)) live += 1
        i += 1
      }
      (i, live)
    }
    val planned = limitRows match {
      case None => afterOffset.map { case (b, s, d) => (b, s, d, b.rowCount) }
      case Some(n) =>
        topNCols match {
          case Some(cols) =>
            val claimHolds = MemTables.get(key).exists { s =>
              val (sb, since) = s.synchronized((s.sortedBy, s.sortedSince))
              sb.take(cols.length) == cols && !asOf.exists(_ < since)
            }
            if (claimHolds)
              afterOffset.map { case (b, s, d) => (b, s, d, cutAt(b, d, n)._1) }
            else afterOffset.map { case (b, s, d) => (b, s, d, b.rowCount) }
          case None =>
            var acc = 0L
            afterOffset.flatMap { case (b, s, d) =>
              if (acc >= n) None
              else {
                val (cut, live) = cutAt(b, d, n - acc)
                acc += live
                Some((b, s, d, cut))
              }
            }
        }
    }
    (curVersion, spec, planned)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    MemScan.readerFactoryFor(boundSchema)

  /** STREAMING consumption of the TABLE (the Delta `readStream.table`
    * shape, distinct from the change feed's event stream): the version
    * clock is the offset; the FIRST micro-batch is the full snapshot at
    * stream start (sentinel offset −1) and every later one the batches
    * APPENDED in its `(start, end]` window — each trigger costs its
    * window's new data, never the table. Non-append commits in a window
    * (overwrite, DELETE, UPDATE/MERGE, rollback, upsert) fail the stream
    * loudly unless `skipChangeCommits=true` skips them whole — the
    * standard append-only streaming contract (deletes/updates are the
    * CDC feed's job, [[MemChangesSource]]). Compactions are physical
    * reorganizations and always invisible. Declines pinned snapshots,
    * branches, and row-level scans.
    */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    if (asOf.isDefined || branch.isDefined || rowLevel.isDefined)
      throw new UnsupportedOperationException(
        s"mem table $key: streaming reads a LIVE table (not a pinned " +
          "snapshot, branch, or row-level operation scan)")
    new MemTableMicroBatchStream(key, boundSchema, streamOpts)
  }
}

object MemScan {

  /** Build the EQUI-HEIGHT histogram the CBO consumes from per-batch
    * weighted samples: all (value, weight) pairs sorted, then cut into
    * ≤32 bins of roughly equal row mass — a heavy hitter overflows its
    * bin (bin ndv 1, huge mass), which is exactly the skew signal
    * equality/join selectivity needs where NDV alone assumes uniform.
    * Per-bin ndv scales the bin's distinct SAMPLE values by the global
    * NDV / total distinct sample values, so the bins partition the
    * column's distinct count proportionally to what the sample saw.
    */
  /** Inverse Simpson index from weighted samples: collapse to per-value
    * masses m(v), return (⌈(Σm)² / Σm²⌉, distinct sampled values). The
    * first number is the EFFECTIVE distinct count — the cardinality at
    * which a uniform-key model reproduces the sampled distribution's
    * equi-join size and average equality selectivity. Reliable only when
    * heavy hitters dominate (callers severity-gate against the second).
    */
  private[sources] def effectiveNdv(
      pairs: Seq[(Array[Double], Double)]): Option[(Long, Long)] = {
    if (pairs.isEmpty) return None
    val byValue = new java.util.HashMap[Double, Double]()
    pairs.foreach { case (vs, w) =>
      var i = 0
      while (i < vs.length) { byValue.merge(vs(i), w, (a, b) => a + b); i += 1 }
    }
    if (byValue.isEmpty) return None
    var total = 0.0
    var sumSq = 0.0
    byValue.values.forEach { m => total += m; sumSq += m * m }
    if (sumSq <= 0) None
    else Some((math.max(1L, math.ceil(total * total / sumSq).toLong),
      byValue.size.toLong))
  }

  private[sources] def equiHeightHistogram(
      pairs: Seq[(Array[Double], Double)], globalNdv: Long)
      : Option[org.apache.spark.sql.connector.read.colstats.Histogram] = {
    import org.apache.spark.sql.connector.read.colstats.{Histogram, HistogramBin}
    if (pairs.isEmpty) return None
    // collapse to (value -> total weight), sorted by value
    val byValue = new java.util.TreeMap[Double, Double]()
    pairs.foreach { case (vs, w) =>
      var i = 0
      while (i < vs.length) { byValue.merge(vs(i), w, (a, b) => a + b); i += 1 }
    }
    val distinctSample = byValue.size
    if (distinctSample == 0) return None
    val total = {
      var t = 0.0
      byValue.values.forEach(w => t += w)
      t
    }
    // catalyst's estimation model assumes EVERY bin holds exactly
    // `height` rows (it reads one global height, never per-bin masses),
    // so bins are cut at WEIGHTED PERCENTILES — exactly how Spark's own
    // ANALYZE builds them: a heavy hitter spans several consecutive
    // lo==hi bins, which is the skew signal the join/filter estimators
    // multiply out
    val vals = new Array[Double](distinctSample)
    val wts = new Array[Double](distinctSample)
    var idx = 0
    byValue.forEach { (v, w) => vals(idx) = v; wts(idx) = w; idx += 1 }
    val b = math.min(32, distinctSample)
    val binHeight = total / b
    val ndvScale = globalNdv.toDouble / distinctSample
    // percentile boundary values at cumulative positions i * height
    val bounds = new Array[Double](b + 1)
    val boundIdx = new Array[Int](b + 1)
    var cum = 0.0
    var p = 0
    bounds(0) = vals(0); boundIdx(0) = 0
    var i2 = 1
    while (i2 <= b) {
      val target = if (i2 == b) total else i2 * binHeight
      while (cum + wts(p) < target && p < distinctSample - 1) {
        cum += wts(p); p += 1
      }
      bounds(i2) = vals(p); boundIdx(i2) = p
      i2 += 1
    }
    val out = (0 until b).map { j =>
      val (l, h) = (bounds(j), bounds(j + 1))
      // distinct sample values inside this percentile slice, scaled to
      // the global NDV; a single-point bin holds exactly one value
      val dIn = math.max(1, boundIdx(j + 1) - boundIdx(j))
      val nd = if (l == h) 1L else math.max(1L, math.round(dIn * ndvScale))
      new HistogramBin {
        override def lo(): Double = l
        override def hi(): Double = h
        override def ndv(): Long = nd
      }: HistogramBin
    }
    Some(new Histogram {
      override def height(): Double = binHeight
      override def bins(): Array[HistogramBin] = out.toArray
    })
  }

  /** Re-box one internal bound value into the BOUND column type's
    * representation (numeric/date/timestamp only — the same whitelist
    * that samples); None = unconvertible, report no bound.
    */
  private[sources] def asBoundValue(
      v: Any, dt: org.apache.spark.sql.types.DataType): Option[Any] = {
    import org.apache.spark.sql.types._
    (v, dt) match {
      case (n: Number, LongType) => Some(java.lang.Long.valueOf(n.longValue))
      case (n: Number, IntegerType) => Some(Integer.valueOf(n.intValue))
      case (n: Number, ShortType) => Some(java.lang.Short.valueOf(n.shortValue))
      case (n: Number, ByteType) => Some(java.lang.Byte.valueOf(n.byteValue))
      case (n: Number, DoubleType) => Some(java.lang.Double.valueOf(n.doubleValue))
      case (n: Number, FloatType) => Some(java.lang.Float.valueOf(n.floatValue))
      case (n: Number, DateType) => Some(Integer.valueOf(n.intValue))
      case (n: Number, TimestampType | TimestampNTZType) =>
        Some(java.lang.Long.valueOf(n.longValue))
      case _ => None
    }
  }

  /** Snapshot-projection reader over [[MemPartition]]s — era-resolved
    * by-name projection into `target` with DV-dead positions skipped and
    * the three versioning metadata columns served as constants. Shared
    * by the batch scan and the table micro-batch stream (a streamed
    * append window reads exactly like a snapshot of its batches).
    */
  /** Era-resolved source ordinal per target field against one planned
    * partition: -1 unresolvable, -2/-3/-4 the `_batch_version` /
    * `_batch_id` / `_batch_pos` metadata columns — ONE definition for the
    * row reader, the columnar reader, and the plan-time columnar
    * support decision.
    */
  private[sources] def srcIndexes(target: StructType, p: MemPartition): Array[Int] =
    target.fields.map(f =>
      if (f.name == MemTables.BatchVersion) -2
      else if (f.name == MemTables.BatchId) -3
      else if (f.name == MemTables.BatchPos) -4
      else p.srcNames.get(f.name)
        .map(n => p.batchSchema.fieldNames.indexOf(n)).getOrElse(-1))

  /** Can this partition serve the target columnarly? Every resolved
    * column type-identical (widening keeps the row path's
    * per-value conversion) and vectorizable, every unresolved column's
    * default expressible as a constant vector.
    */
  private[sources] def columnarSupported(target: StructType, p: MemPartition): Boolean =
    srcIndexes(target, p).zip(target.fields).forall {
      case (s, f) if s >= 0 =>
        // sameType: nested types differ by element/field NULLABILITY
        // between a write schema and the table binding — the decoded
        // vectors are identical either way; true widening still differs
        // by sameType and keeps the row path's per-value conversion
        org.apache.spark.sql.graftbridge.Bridge.sameTypeIgnoreNullability(
          p.batchSchema.fields(s).dataType, f.dataType) &&
          ParquetColumnar.vectorizable(f.dataType)
      case (-1, f) =>
        ParquetColumnar.constantSupported(p.defaults.getOrElse(f.name, null), f.dataType)
      case _ => true // metadata columns: constants / the position vector
    }

  /** Rewrite one pushed filter's references to a batch's FILE field
    * names — TOTAL or nothing: a partially-translated tree under
    * Not/Or would STRENGTHEN the predicate and wrongly skip row groups
    * holding matches, so a filter translates only when every referenced
    * column renames; untranslatable top-level conjuncts simply drop
    * (the parquet predicate is advisory — the real filter re-evaluates
    * above the scan / in [[RowPredicate]]).
    */
  private[sources] def renameFilter(
      f: org.apache.spark.sql.sources.Filter, rn: Map[String, String])
      : Option[org.apache.spark.sql.sources.Filter] = {
    import org.apache.spark.sql.sources._
    def all(g: Filter): Option[Filter] = g match {
      case EqualTo(a, v) => rn.get(a).map(EqualTo(_, v))
      case EqualNullSafe(a, v) => rn.get(a).map(EqualNullSafe(_, v))
      case GreaterThan(a, v) => rn.get(a).map(GreaterThan(_, v))
      case GreaterThanOrEqual(a, v) => rn.get(a).map(GreaterThanOrEqual(_, v))
      case LessThan(a, v) => rn.get(a).map(LessThan(_, v))
      case LessThanOrEqual(a, v) => rn.get(a).map(LessThanOrEqual(_, v))
      case In(a, vs) => rn.get(a).map(In(_, vs))
      case IsNull(a) => rn.get(a).map(IsNull(_))
      case IsNotNull(a) => rn.get(a).map(IsNotNull(_))
      case StringStartsWith(a, v) => rn.get(a).map(StringStartsWith(_, v))
      case StringEndsWith(a, v) => rn.get(a).map(StringEndsWith(_, v))
      case StringContains(a, v) => rn.get(a).map(StringContains(_, v))
      case And(l, r) => for { a <- all(l); b <- all(r) } yield And(a, b)
      case Or(l, r) => for { a <- all(l); b <- all(r) } yield Or(a, b)
      case Not(i) => all(i).map(Not)
      case AlwaysTrue() => Some(AlwaysTrue())
      case AlwaysFalse() => Some(AlwaysFalse())
      case _ => None
    }
    all(f)
  }

  /** The scan's pushed filters, renamed to one batch's file field names
    * for parquet row-group/page pruning — only references that resolve
    * to a TYPE-IDENTICAL batch field translate (a widened batch's file
    * types differ from the predicate values' binding; those batches
    * read the row path anyway).
    */
  private[sources] def batchPushFilters(
      target: StructType, skipFilters: Array[org.apache.spark.sql.sources.Filter],
      srcNames: Map[String, String], batchSchema: StructType)
      : Array[org.apache.spark.sql.sources.Filter] =
    if (skipFilters.isEmpty) Array.empty
    else {
      val rn: Map[String, String] = target.fields.iterator.flatMap { f =>
        srcNames.get(f.name).flatMap { n =>
          val i = batchSchema.fieldNames.indexOf(n)
          if (i >= 0 && batchSchema.fields(i).dataType == f.dataType)
            Some(f.name -> n)
          else None
        }
      }.toMap
      skipFilters.flatMap(renameFilter(_, rn))
    }

  private[sources] def readerFactoryFor(target0: StructType): PartitionReaderFactory =
    new PartitionReaderFactory {
      val target = target0 // serialized with the factory

      override def supportColumnarReads(partition: InputPartition): Boolean =
        partition match {
          case mp: MemPartition => mp.columnar
          case _ => false
        }

      /** VECTORIZED read of one batch ([[ParquetColumnar]]):
        * whole column chunks decode into Spark's own `ColumnarBatch`;
        * DV kills and head cuts filter via a survivor index map over the
        * parquet ROW INDEX (positions exact even under row-group skips),
        * metadata columns ride constant/position vectors — no per-row
        * materialization anywhere on the scan path.
        */
      override def createColumnarReader(partition: InputPartition)
          : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
        val p = partition.asInstanceOf[MemPartition]
        val path = p.file
        val srcIdx = srcIndexes(target, p)
        val srcOrdinals = srcIdx.filter(_ >= 0).distinct.sorted
        val ordToReq = srcOrdinals.zipWithIndex.toMap
        val batchFields = srcOrdinals.map(p.batchSchema.fields(_))
        val needPos = p.dead.nonEmpty || p.cut >= 0 || srcIdx.contains(-4)
        val requested = StructType(
          batchFields ++ (if (needPos) Seq(ParquetColumnar.rowIndexField) else Nil))
        val posOrd = batchFields.length // row-index vector, when requested
        val defaultVal = target.fields.map(f => p.defaults.getOrElse(f.name, null))
        new PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
          private val reader =
            new ParquetColumnar.BatchReader(path, requested, p.pushFilters.toSeq)
          private var out: org.apache.spark.sql.vectorized.ColumnarBatch = _
          private var done = false

          private def assemble(
              b: org.apache.spark.sql.vectorized.ColumnarBatch,
              map: Array[Int], positions: Array[Int], rows: Int)
              : org.apache.spark.sql.vectorized.ColumnarBatch = {
            val vecs = new Array[org.apache.spark.sql.vectorized.ColumnVector](target.length)
            var j = 0
            while (j < target.length) {
              val s = srcIdx(j)
              vecs(j) =
                if (s >= 0) {
                  val base = b.column(ordToReq(s))
                  if (map == null) base else new ParquetColumnar.SelectedVector(base, map)
                } else if (s == -2)
                  ParquetColumnar.constantVector(java.lang.Long.valueOf(p.version),
                    org.apache.spark.sql.types.LongType, rows)
                else if (s == -3)
                  ParquetColumnar.constantVector(java.lang.Long.valueOf(p.batchId),
                    org.apache.spark.sql.types.LongType, rows)
                else if (s == -4) new ParquetColumnar.PositionsVector(positions)
                else ParquetColumnar.constantVector(defaultVal(j),
                  target.fields(j).dataType, rows)
              j += 1
            }
            new org.apache.spark.sql.vectorized.ColumnarBatch(vecs, rows)
          }

          override def next(): Boolean = {
            if (done) return false
            var b = reader.nextBatch()
            while (b != null) {
              val n = b.numRows()
              if (n > 0 && !needPos) { out = assemble(b, null, null, n); return true }
              if (n > 0) {
                // survivor map over the row-index vector: keep rows whose
                // file position is live and under the cut
                val posVec = b.column(posOrd)
                val mapB = new Array[Int](n)
                val posB = new Array[Int](n)
                var k = 0
                var i = 0
                while (i < n && !done) {
                  val pos = posVec.getLong(i).toInt
                  if (p.cut >= 0 && pos >= p.cut) done = true
                  else if (!p.dead.contains(pos)) {
                    mapB(k) = i; posB(k) = pos; k += 1
                  }
                  i += 1
                }
                if (k > 0) {
                  out = assemble(b,
                    java.util.Arrays.copyOf(mapB, k),
                    java.util.Arrays.copyOf(posB, k), k)
                  return true
                }
                if (done) { reader.close(); return false }
              }
              b = reader.nextBatch()
            }
            done = true
            false
          }
          override def get(): org.apache.spark.sql.vectorized.ColumnarBatch = out
          override def close(): Unit = reader.close()
        }
      }

      override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
        val p = partition.asInstanceOf[MemPartition]
        val metaNames =
          Set(MemTables.BatchVersion, MemTables.BatchId, MemTables.BatchPos)
        val hasMeta = target.fieldNames.exists(metaNames.contains)
        val sameLayout = !hasMeta &&
          p.batchSchema.fields.map(f => (f.name, f.dataType)).toSeq ==
            target.fields.map(f => (f.name, f.dataType)).toSeq &&
          target.fieldNames.forall(n => p.srcNames.get(n).contains(n))
        // era-resolved source ordinal per target field ([[srcIndexes]] —
        // ONE definition with the columnar reader and the plan-time
        // decision, so the two paths can never disagree on mapping);
        // -1 = unresolvable (reads null), -2/-3/-4 = the _batch_version/
        // _batch_id/_batch_pos metadata columns
        val srcIdx = srcIndexes(target, p)
        val srcType = srcIdx.zipWithIndex.map { case (s, j) =>
          if (s >= 0) p.batchSchema.fields(s).dataType else target.fields(j).dataType
        }
        // type-widened columns (int->bigint, float->double) convert per
        // value at read — the metadata-only promotion contract
        val widenTo = srcIdx.zipWithIndex.map { case (s, j) =>
          if (s >= 0 && srcType(j) != target.fields(j).dataType) target.fields(j).dataType
          else null
        }
        // unresolved fields read their batch-applicable ADD COLUMN default
        // (null when none) — see [[MemPartition.defaults]]
        val defaultVal = target.fields.map(f => p.defaults.getOrElse(f.name, null))
        def project(r: InternalRow, pos: Int): InternalRow =
          if (sameLayout) r
          else {
            val vals = new Array[Any](target.length)
            var j = 0
            while (j < target.length) {
              val s = srcIdx(j)
              vals(j) =
                if (s == -2) p.version
                else if (s == -3) p.batchId
                else if (s == -4) pos // the row's position within its batch
                else if (s >= 0 && !r.isNullAt(s)) {
                  val raw = r.get(s, srcType(j))
                  if (widenTo(j) == null) raw
                  else MemTables.widenValue(raw, srcType(j), widenTo(j))
                } else if (s == -1) defaultVal(j)
                else null
              j += 1
            }
            new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(vals)
          }
        if (p.pushFilters.nonEmpty)
          // a parquet-pushable predicate (the row path serves
          // evolved-schema scans the columnar projection declines —
          // they prune row groups all the same): positions come from
          // the parquet row index, so DV skips and head cuts stay
          // exact under skipped groups
          new PartitionReader[InternalRow] {
            private val it = ParquetRows.positioned(
              p.file, p.batchSchema, p.pushFilters.toSeq)
            private var pos = -1
            private var cur: InternalRow = _
            override def next(): Boolean = {
              while (it.hasNext) {
                val r = it.next()
                pos = it.pos.toInt
                if (p.cut >= 0 && pos >= p.cut) { it.close(); return false }
                if (!p.dead.contains(pos)) { cur = r; return true }
              }
              false
            }
            override def get(): InternalRow = project(cur, pos)
            override def close(): Unit = it.close()
          }
      else
          // the executor streams the parquet rows itself (the driver
          // shipped only the path), skipping DV-dead positions and
          // stopping at a pushed head's cut — early close releases the
          // file without draining it
          new PartitionReader[InternalRow] {
            private val it = ParquetRows.iterator(p.file, p.batchSchema)
            private var pos = -1
            private var cur: InternalRow = _
            override def next(): Boolean = {
              while (it.hasNext) {
                pos += 1
                if (p.cut >= 0 && pos >= p.cut) { it.close(); return false }
                val r = it.next()
                if (!p.dead.contains(pos)) { cur = r; return true }
              }
              false
            }
            override def get(): InternalRow = project(cur, pos)
            override def close(): Unit = it.close()
          }
      }
    }

  import org.apache.spark.sql.connector.expressions.{Expression => V2Expression, Literal, NamedReference}
  import org.apache.spark.sql.connector.expressions.filter.{Predicate => V2Predicate}

  /** Deterministic uniform draw in [0, 1) for one (seed, batch, position)
    * — the pushed-sample membership test (splitmix64 finalizer: full
    * avalanche, so consecutive positions decorrelate).
    */
  private[sources] def sampleUniform(seed: Long, batchId: Long, pos: Int): Double = {
    var z = seed ^ (batchId * 0x9E3779B97F4A7C15L) ^ (pos.toLong * 0xBF58476D1CE4E5B9L)
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z = z ^ (z >>> 31)
    (z >>> 11).toDouble / (1L << 53).toDouble
  }

  /** The snapshot-bound evolution metadata a scan projects through:
    * tombstones + field-era (rename) timelines, both as of the pinned
    * version (current for ordinary reads).
    */
  final case class BoundMeta(
      droppedAt: Map[String, Long], eras: Map[String, Vector[(Long, String)]],
      eqDeletes: Vector[MemTables.EqDelete] = Vector.empty,
      defaults: Map[String, (Long, Any)] = Map.empty)

  /** Era/tombstone-resolved source-field name of one bound column within a
    * batch — None when the column reads NULL there (see
    * [[MemTables.sourceFieldName]]); names must exist in the batch schema.
    */
  private[sources] def srcNameIn(b: MemTables.TaggedBatch, meta: BoundMeta)(
      target: String): Option[String] =
    MemTables.sourceFieldName(meta.eras, meta.droppedAt)(target, b.writeVersion)
      .filter(b.schema.fieldNames.contains)

  /** Full target→source name map for one batch (resolvable fields only). */
  private[sources] def srcMapOf(
      bound: StructType, b: MemTables.TaggedBatch, meta: BoundMeta): Map[String, String] =
    bound.fieldNames.iterator
      .flatMap(n => srcNameIn(b, meta)(n).map(n -> _)).toMap

  /** Parse one runtime-filter predicate into a data-skipping filter for a
    * PLAIN scan: the `IN (lit, ...)` / `= lit` shapes the join-driven
    * runtime filters produce, over one top-level column. Literal values
    * canonicalize ([[MemTables.canonKey]]) so the bounds comparison sees
    * the external form the skipping evaluator expects. Unparsed shapes are
    * dropped — over-retention is always safe here.
    */
  private[sources] def skipFilterOf(p: V2Predicate): Option[Filter] = {
    def colOf(e: V2Expression): Option[String] = e match {
      case f: NamedReference if f.fieldNames.length == 1 => Some(f.fieldNames.head)
      case _ => None
    }
    def litVal(e: V2Expression): Option[Any] = e match {
      case l: Literal[_] => Some(MemTables.canonKey(l.value))
      case _ => None
    }
    val kids = p.children()
    p.name match {
      case "IN" if kids.nonEmpty =>
        val vs = kids.tail.map(litVal)
        colOf(kids.head).filter(_ => vs.forall(_.isDefined))
          .map(c => org.apache.spark.sql.sources.In(c, vs.map(_.get)))
      case "=" if kids.length == 2 =>
        for { c <- colOf(kids.head); v <- litVal(kids(1)) }
          yield org.apache.spark.sql.sources.EqualTo(c, v)
      case _ => None
    }
  }

  /** Parse one runtime-filter predicate into the batch-version set it
    * admits: `_batch_version IN (v1, …)` (the shape the dynamic-pruning
    * subquery produces; an empty IN = no groups matched) or the
    * single-value `=` form. Anything else → None (unparsed, so the scan
    * stays whole-table rather than guessing).
    */
  private[sources] def versionSetOf(p: V2Predicate): Option[Set[Long]] = {
    def isVersionRef(e: V2Expression): Boolean = e match {
      case f: NamedReference =>
        f.fieldNames.length == 1 && f.fieldNames.head == MemTables.BatchVersion
      case _ => false
    }
    def litLong(e: V2Expression): Option[Long] = e match {
      case l: Literal[_] => l.value match {
        case x: java.lang.Long => Some(x.longValue)
        case x: java.lang.Integer => Some(x.longValue)
        case _ => None
      }
      case _ => None
    }
    val kids = p.children()
    p.name match {
      case "IN" if kids.nonEmpty && isVersionRef(kids.head) =>
        val vs = kids.tail.map(litLong)
        if (vs.forall(_.isDefined)) Some(vs.flatten.toSet) else None
      case "=" if kids.length == 2 && isVersionRef(kids.head) =>
        litLong(kids(1)).map(Set(_))
      case _ => None
    }
  }
}

/** Write half of a row-level operation: executor-written files (same
  * [[MemWriterFactory]] protocol as any batch write), but the driver
  * publish goes through [[MemTables.replaceBatches]] — replace exactly the
  * batch versions the operation's scan read (whole table only when the
  * runtime group filter never fired), rejecting a concurrently advanced
  * table version instead of erasing the interleaved commit. An aborted
  * operation reclaims its task files.
  */
final class MemRowLevelWriteBuilder(
    key: String, writeSchema: StructType, state: MemRowLevelState)
    extends WriteBuilder {
  override def build(): Write = new Write {
    override def toBatch: BatchWrite = new BatchWrite {
      override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
        MemWriterFactory.forTable(key, writeSchema)
      override def commit(messages: Array[WriterCommitMessage]): Unit =
        // CAS-reject replay re-runs replaceBatches' optimistic checks
        MemTables.withCommitRetry(key)(MemTables.replaceBatches(
          key, state.groupVersions, state.scannedVersion, writeSchema,
          MemWriterFactory.payloadsOf(messages)))
      override def abort(messages: Array[WriterCommitMessage]): Unit =
        MemWriterFactory.reclaim(messages)
    }
  }
}

/** DELTA-BASED row-level operation (`SupportsDelta`) — the true
  * merge-on-read DML path, served on `graft.delete-mode=merge-on-read`
  * tables: instead of reading whole matched groups and writing them back
  * (the group-based copy-on-write shape CoW tables keep), Spark's delta
  * rewrite emits per-row operations — delete/update keyed by the row id
  * `(_batch_id, _batch_pos)`, plus inserts — and the publish turns them
  * into DV entries + appended delta batches ([[MemTables.applyDelta]]).
  * An UPDATE touching 100 rows of a 100 TB table writes 100 DV entries
  * and 100 replacement rows, full stop; reads pay the DV overlay. This is
  * Iceberg's `write.update.mode=merge-on-read` with `(_file, _pos)`
  * deletes, expressed over mem batches. Updates arrive as
  * `update(meta, id, row)` and become DV-delete + replacement insert at
  * ONE version with the pre→post linkage recorded — the change feed shows
  * row-level delete+insert pairs by default, or
  * `update_preimage`/`update_postimage` under `updateImages=true`.
  */
final class MemDeltaOperation(
    key: String, tableSchema: StructType,
    info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
    extends org.apache.spark.sql.connector.write.RowLevelOperation
    with org.apache.spark.sql.connector.write.SupportsDelta {
  import org.apache.spark.sql.connector.write._

  // no runtime group filter here: the delta path never rewrites groups,
  // so narrowing the scan buys nothing — only the version-conflict check
  // rides the holder (seeded at creation so a never-planned scan still
  // validates at publish)
  private val state = new MemRowLevelState(groupFilterable = false)
  state.scannedVersion = MemTables.get(key).map(_.version)

  override def command(): RowLevelOperation.Command = info.command()
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new MemScanBuilder(key, tableSchema, None, Some(state))
  override def rowId(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(
      org.apache.spark.sql.connector.expressions.Expressions.column(MemTables.BatchId),
      org.apache.spark.sql.connector.expressions.Expressions.column(MemTables.BatchPos))
  override def requiredMetadataAttributes():
      Array[org.apache.spark.sql.connector.expressions.NamedReference] = Array.empty
  override def newWriteBuilder(lw: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite = new DeltaWrite {
        override def toBatch: DeltaBatchWrite = new MemDeltaBatchWrite(key, lw.schema(), state)
      }
    }
}

/** BRANCH-scoped delta operation: identical protocol to
  * [[MemDeltaOperation]] — per-row deletes/updates/inserts keyed by
  * `(_batch_id, _batch_pos)` — except the scan reads the BRANCH view and
  * the publish STAGES onto the branch ([[MemTables.stageDeltaToBranch]])
  * instead of committing to main.
  */
final class MemBranchDeltaOperation(
    key: String, branch: String, base: Long, tableSchema: StructType,
    info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
    extends org.apache.spark.sql.connector.write.RowLevelOperation
    with org.apache.spark.sql.connector.write.SupportsDelta {
  import org.apache.spark.sql.connector.write._

  private val state = new MemRowLevelState(groupFilterable = false)

  override def command(): RowLevelOperation.Command = info.command()
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new MemScanBuilder(key, tableSchema, Some(base), Some(state), Some(branch))
  override def rowId(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(
      org.apache.spark.sql.connector.expressions.Expressions.column(MemTables.BatchId),
      org.apache.spark.sql.connector.expressions.Expressions.column(MemTables.BatchPos))
  override def requiredMetadataAttributes():
      Array[org.apache.spark.sql.connector.expressions.NamedReference] = Array.empty
  override def newWriteBuilder(lw: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite = new DeltaWrite {
        override def toBatch: DeltaBatchWrite = new DeltaBatchWrite {
          override def createBatchWriterFactory(info: PhysicalWriteInfo): DeltaWriterFactory =
            new MemDeltaWriterFactory
          override def commit(messages: Array[WriterCommitMessage]): Unit = {
            val msgs = messages.map(_.asInstanceOf[MemDeltaCommitMessage])
            MemTables.stageDeltaToBranch(
              key, branch, lw.schema(),
              msgs.flatMap(_.deletes).toSeq,
              msgs.map(_.inserts).toSeq,
              msgs.flatMap(_.updates).toSeq)
          }
          override def abort(messages: Array[WriterCommitMessage]): Unit = ()
        }
      }
    }
}

/** Driver publish of the buffered per-task delta messages — one atomic
  * version via [[MemTables.applyDelta]], with the scan-version conflict
  * check.
  */
final class MemDeltaBatchWrite(
    key: String, writeSchema: StructType, state: MemRowLevelState)
    extends org.apache.spark.sql.connector.write.DeltaBatchWrite {
  import org.apache.spark.sql.connector.write._
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DeltaWriterFactory =
    new MemDeltaWriterFactory
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val msgs = messages.map(_.asInstanceOf[MemDeltaCommitMessage])
    // CAS-reject replay re-runs applyDelta's snapshot-isolation checks
    // against the recovered state — a disjoint foreign commit lands both
    // writers, an overlapping one still fails loudly from the validation
    MemTables.withCommitRetry(key)(MemTables.applyDelta(
      key, state.scannedVersion, writeSchema,
      msgs.flatMap(_.deletes).toSeq,
      msgs.map(_.inserts).toSeq,
      msgs.flatMap(_.updates).toSeq))
    // MoR DML is the main DV producer: the DV-density trigger fires here
    // or never (post-commit, no monitor held)
    RewriteJobs.maybeAutoCompact(key)
  }
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

/** One task's buffered delta: row ids to DV-delete and rows to append
  * (an update contributes one of each). Rides the same
  * buffer-in-commit-message protocol as every other write — nothing
  * becomes visible until the driver's atomic publish.
  */
final case class MemDeltaCommitMessage(
    deletes: Array[(Long, Int)], inserts: Array[InternalRow],
    updates: Array[((Long, Int), InternalRow)])
    extends WriterCommitMessage

final class MemDeltaWriterFactory
    extends org.apache.spark.sql.connector.write.DeltaWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long):
      org.apache.spark.sql.connector.write.DeltaWriter[InternalRow] =
    new org.apache.spark.sql.connector.write.DeltaWriter[InternalRow] {
      private val dels = scala.collection.mutable.ArrayBuffer.empty[(Long, Int)]
      private val ins = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
      private val ups =
        scala.collection.mutable.ArrayBuffer.empty[((Long, Int), InternalRow)]
      // id rows carry the rowId projection in declared order: (_batch_id, _batch_pos)
      override def delete(meta: InternalRow, id: InternalRow): Unit =
        dels += ((id.getLong(0), id.getInt(1)))
      // updates keep their pre→post linkage (not flattened to
      // delete+insert) so the change feed can surface image pairs
      override def update(meta: InternalRow, id: InternalRow, row: InternalRow): Unit =
        ups += (((id.getLong(0), id.getInt(1)), row.copy()))
      override def insert(row: InternalRow): Unit = ins += row.copy()
      override def commit(): WriterCommitMessage =
        MemDeltaCommitMessage(dels.toArray, ins.toArray, ups.toArray)
      override def abort(): Unit = { dels.clear(); ins.clear(); ups.clear() }
      override def close(): Unit = ()
    }
}

/** One planned batch: its parquet PATH (executors stream the file) along
  * with the schema it was written under (the decode contract for the
  * projection) and the ERA-RESOLVED target→source name map (computed at
  * planning, where the evolution metadata lives): bound columns absent
  * from the map read NULL for this batch (added later,
  * dropped-and-readded, or predating a rename chain).
  */
final case class MemPartition(
    batchSchema: StructType, version: Long, srcNames: Map[String, String],
    file: String, dead: Set[Int] = Set.empty, batchId: Long = -1L,
    partKey: Option[Seq[Any]] = None,
    // the planned head cut (-1 = no cut)
    cut: Int = -1,
    // target column → internal EXISTS-default for columns this batch
    // predates (`ALTER ADD COLUMN ... DEFAULT`); unresolved fields read
    // this instead of NULL
    defaults: Map[String, Any] = Map.empty,
    // UNIFORM columnar verdict, stamped at plan time: Spark requires every
    // partition of one scan to agree on columnar vs rows, so the scan
    // stamps all partitions true only when each one individually supports
    // the vectorized path ([[MemScan.columnarSupported]])
    columnar: Boolean = false,
    // the scan's pushed filters RENAMED to this batch's file field names
    // ([[MemScan.batchPushFilters]]) — parquet row-group/page pruning on
    // the columnar read; advisory (Spark re-filters above the scan)
    pushFilters: Array[Filter] = Array.empty)
    extends InputPartition with org.apache.spark.sql.connector.read.HasPartitionKey {
  /** The batch's partition tuple as the V2 key row (internal values, in
    * transform order) — only consulted when the scan reported
    * [[org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning]],
    * which it does exactly when every planned partition carries a key.
    */
  override def partitionKey(): InternalRow =
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      partKey.getOrElse(throw new IllegalStateException(
        "partitionKey() on an unpartitioned mem scan")).toArray)
}

final class MemWriteBuilder(key: String, writeSchema: StructType, queryId: String)
    extends WriteBuilder
    with org.apache.spark.sql.connector.write.SupportsOverwrite
    with org.apache.spark.sql.connector.write.SupportsDynamicOverwrite {
  private var mode: MemWriteMode = MemAppend
  private def truncateOnCommit: Boolean = mode == MemTruncate
  override def truncate(): WriteBuilder = { mode = MemTruncate; this }
  /** `OVERWRITE_BY_FILTER`: a bare always-true filter IS the truncate
    * (Spark sends `INSERT OVERWRITE` without a partition clause this
    * way); anything else becomes the one-version kill-matches-and-append
    * publish ([[MemTables.commitOverwrite]]).
    */
  override def overwrite(filters: Array[Filter]): WriteBuilder = {
    mode =
      if (filters.isEmpty || filters.forall(_ == AlwaysTrue())) MemTruncate
      else MemOverwriteFilter(filters)
    this
  }
  override def overwriteDynamicPartitions(): WriteBuilder = {
    mode = MemOverwriteDynamic
    this
  }
  /** Partitioned tables request a CLUSTERED write distribution on their
    * partition transforms ([[RequiresDistributionAndOrdering]]): Spark
    * shuffles the incoming rows so each write task holds whole partitions —
    * at 100 TB that is the difference between every task appending a sliver
    * of every partition (task-count × partition-count tiny files) and each
    * partition's data arriving at one task. The distribution is STRICT
    * whenever the table is clustered, micro-batch writes included (see
    * `distributionStrictlyRequired`); sort-only tables request a
    * non-strict unspecified distribution. The publish-side split keeps
    * batches partition-pure either way.
    */
  override def build(): Write = {
    val st = MemTables.get(key)
    val spec = st.map(_.partitioning).getOrElse(Nil)
    // a DECLARED table sort order ('graft.sort-order') rides every write
    // as the requested task ordering — Spark sorts each write task, the
    // publish verifies, and the sorted-layout claim survives the append
    val declared = st.map(_.declaredSortOrder).getOrElse(Nil)
    if (spec.isEmpty && declared.isEmpty) new Write {
      override def toBatch: BatchWrite = new MemBatchWrite(key, mode, writeSchema)
      override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite =
        mode match {
          case MemAppend | MemTruncate =>
            new MemStreamingWrite(key, queryId, truncateOnCommit, writeSchema)
          case other => throw new UnsupportedOperationException(
            s"mem table $key: streaming writes append or truncate per epoch; $other is batch-only")
        }
    } else new Write with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
      override def requiredDistribution(): org.apache.spark.sql.connector.distributions.Distribution =
        if (spec.isEmpty)
          org.apache.spark.sql.connector.distributions.Distributions.unspecified()
        else
          org.apache.spark.sql.connector.distributions.Distributions.clustered(
            MemTables.toTransforms(spec).map(t =>
              t: org.apache.spark.sql.connector.expressions.Expression))
      override def requiredOrdering(): Array[org.apache.spark.sql.connector.expressions.SortOrder] =
        declared.map(c => org.apache.spark.sql.connector.expressions.Expressions.sort(
          org.apache.spark.sql.connector.expressions.Expressions.column(c),
          org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING)).toArray
      /** STRICT exactly when clustered, and with a PINNED partition count:
        * the write's serial cost is per FILE (one parquet file per
        * partition tuple), which AQE's byte-based coalescing is blind to —
        * under the non-strict RebalancePartitions it squeezed these
        * kilobyte exchanges to ONE task that then wrote every partition's
        * file back-to-back (measured: dsv2_partitioned_prune's append =
        * 1 task × 1.16 s for 200 tuple files; only a strict
        * RepartitionByExpression honors the count). The count is
        * conf-derived (the session's resolved shuffle parallelism), never
        * a local constant. Strictness follows the table, not the write
        * kind: a streaming write into a partitioned table is clustered
        * strictly too (the current streaming sinks all write unpartitioned
        * tables, which take the plain Write branch). Sort-only writes keep
        * the non-strict unspecified distribution — a pinned count there is
        * an analysis error. Batch contents are unchanged: the publish-side
        * split keeps one batch per partition tuple whether the tuples
        * arrive at one task or thirty-two.
        */
      override def distributionStrictlyRequired(): Boolean = spec.nonEmpty
      override def requiredNumPartitions(): Int =
        if (spec.isEmpty) 0
        else org.apache.spark.sql.internal.SQLConf.get.numShufflePartitions
      override def toBatch: BatchWrite = new MemBatchWrite(key, mode, writeSchema)
      override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite =
        mode match {
          case MemAppend | MemTruncate =>
            new MemStreamingWrite(key, queryId, truncateOnCommit, writeSchema)
          case other => throw new UnsupportedOperationException(
            s"mem table $key: streaming writes append or truncate per epoch; $other is batch-only")
        }
    }
  }
}

/** STREAMING sink half of the connector (`df.writeStream.toTable(...)`):
  * per-epoch task batches ride the same buffer-in-commit-message protocol
  * as the batch write, and the driver-side `commit(epochId, messages)` is
  * IDEMPOTENT per (queryId, epochId) — after a failure Spark re-runs the
  * last epoch from the checkpoint and re-commits it, and the dedup ledger
  * turns that at-least-once delivery into exactly-once table contents
  * (the contract every transactional streaming sink implements; Append
  * appends per epoch, Complete truncate-replaces in the same atomic
  * publish). One version per committed epoch, so the change feed and time
  * travel see each micro-batch as a commit like any other.
  */
final class MemStreamingWrite(
    key: String, queryId: String, truncate: Boolean, writeSchema: StructType)
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {
  // tables created with graft.upsert-keys take the UPSERT ingest path:
  // each Append-mode epoch publishes equality-delete(epoch keys) + inserts
  // atomically ([[MemTables.commitEpochUpsert]]); Complete-mode (truncate)
  // epochs already replace the table, so they stay plain overwrites
  private val upsertKeys: Option[Seq[String]] =
    MemTables.get(key).flatMap(_.createProps.get(MemTables.UpsertKeysProp))
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory =
    new MemStreamingWriterFactory(MemWriterFactory.forTable(key, writeSchema))
  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val rows = MemWriterFactory.payloadsOf(messages)
    // epoch publishes are idempotent per (queryId, epochId), so the
    // CAS-reject replay is exactly-once either way
    MemTables.withCommitRetry(key)(upsertKeys match {
      case Some(ks) if !truncate =>
        MemTables.commitEpochUpsert(key, queryId, epochId, writeSchema, ks, rows)
      case _ =>
        MemTables.commitEpoch(key, queryId, epochId, truncate, writeSchema, rows)
    })
    // epoch-commit maintenance, AFTER the table monitor released:
    // 'auto-refresh' MVs over this table fold the epoch's window in (the
    // rewrite keeps serving a continuously-written source), and the
    // small-file threshold trigger keeps a micro-batch ingest's layout
    // from fragmenting without an external maintenance job
    MatViews.autoRefreshFor(key)
    RewriteJobs.maybeAutoCompact(key)
  }
  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    MemWriterFactory.reclaim(messages)
}

final class MemStreamingWriterFactory(underlying: MemWriterFactory)
    extends org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  override def createWriter(
      partitionId: Int, taskId: Long, epochId: Long): DataWriter[InternalRow] =
    underlying.createWriter(partitionId, taskId)
}

/** What a batch write does at publish: plain append, full truncate-
  * replace, filtered overwrite (`replaceWhere` / static-partition
  * INSERT OVERWRITE), or dynamic partition overwrite.
  */
sealed trait MemWriteMode
case object MemAppend extends MemWriteMode
case object MemTruncate extends MemWriteMode
final case class MemOverwriteFilter(filters: Array[Filter]) extends MemWriteMode
case object MemOverwriteDynamic extends MemWriteMode

final class MemBatchWrite(key: String, mode: MemWriteMode, writeSchema: StructType)
    extends BatchWrite {
  def this(key: String, truncate: Boolean, writeSchema: StructType) =
    this(key, if (truncate) MemTruncate else MemAppend, writeSchema)

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    MemWriterFactory.forTable(key, writeSchema)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val rows = MemWriterFactory.payloadsOf(messages)
    // a cross-process CAS reject reloads the winner's state and replays
    // ([[MemTables.withCommitRetry]]) — the losing writer still lands
    MemTables.withCommitRetry(key)(mode match {
      case MemAppend => MemTables.commit(key, truncate = false, writeSchema, rows)
      case MemTruncate => MemTables.commit(key, truncate = true, writeSchema, rows)
      case MemOverwriteFilter(fs) => MemTables.commitOverwrite(key, fs, writeSchema, rows)
      case MemOverwriteDynamic => MemTables.commitOverwriteDynamic(key, writeSchema, rows)
    })
    // post-commit layout maintenance (no monitor held): fold small-file
    // fragmentation once the live batch count crosses the table's
    // declared threshold ('graft.auto-compact-min-files')
    RewriteJobs.maybeAutoCompact(key)
  }

  // an aborted JOB whose tasks already committed their messages leaves
  // executor-written files that will never publish — reclaim them (a
  // speculative twin whose message Spark discarded is reclaimed the same
  // way via the driver's abort call)
  override def abort(messages: Array[WriterCommitMessage]): Unit =
    MemWriterFactory.reclaim(messages)
}

final case class MemFilesMessage(files: Vector[FileManifest]) extends WriterCommitMessage

/** Everything one write TASK needs to write its files executor-side:
  * where to put files, the write
  * schema, and the partition spec to split under (with its id, so the
  * publish can reject a racing spec evolution). Serialized with the
  * factory to every task.
  */
final case class MemParquetWrite(
    dir: String, schema: StructType,
    spec: Seq[MemTables.PartField], specId: Int,
    bloomCols: Seq[String] = Nil,
    sortCols: Seq[String] = Nil)

/** Per-task writer — what a real table format's write task does:
  * partition-SPLIT the rows, write one snappy parquet file per tuple,
  * compute the publish stats, and ship only the MANIFESTS — the driver
  * never sees a row, an aborted/speculative task's files are simply never
  * committed (orphans at worst, never visible), and the atomic driver
  * commit publishes paths. Rows STREAM into per-partition-tuple open
  * writers as they arrive — task memory is writer state, never the
  * partition's rows (the 100 TB write shape); stats and the NDV sketch
  * accumulate incrementally in the same pass.
  */
final class MemWriterFactory(pw: MemParquetWrite) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private val files = new TaskFileWriter(pw, s"part-$partitionId-$taskId")
      override def write(record: InternalRow): Unit = files.write(record)
      override def commit(): WriterCommitMessage = MemFilesMessage(files.finish())
      override def abort(): Unit = files.abort()
      override def close(): Unit = ()
    }
}

object MemWriterFactory {
  /** The factory for one table's writes, bound to its directory, current
    * partition spec, bloom columns and declared sort order.
    */
  def forTable(key: String, writeSchema: StructType): MemWriterFactory = {
    val st = MemTables.get(key).getOrElse(
      throw new IllegalStateException(s"mem table $key dropped mid-write"))
    new MemWriterFactory(MemParquetWrite(st.storageDir, writeSchema,
      st.partitioning, st.currentSpecId, st.bloomCols, st.declaredSortOrder))
  }

  /** Delete the files of never-to-publish commit messages (driver abort
    * path). Files of a publish REJECTED inside the commit call itself
    * (optimistic-concurrency/spec conflicts) stay until DROP/expiry —
    * orphans at worst, never visible.
    */
  def reclaim(messages: Array[WriterCommitMessage]): Unit =
    messages.foreach {
      case MemFilesMessage(files) =>
        files.foreach(f =>
          try ParquetRows.delete(f.path) catch { case _: Exception => () })
      case _ => ()
    }

  def payloadsOf(messages: Array[WriterCommitMessage]): Seq[MemTables.FilesPayload] =
    messages.toSeq.map {
      case MemFilesMessage(files) => MemTables.FilesPayload(files)
      case other => throw new IllegalStateException(
        s"unexpected commit message ${other.getClass.getName}")
    }
}

/** CHANGE-FEED (CDC) read over a mem table's version log — the
  * lakehouse incremental-consumption surface (Delta CDF / Iceberg
  * incremental read): instead of a snapshot, return the ROW-LEVEL change
  * events of a half-open version window `(from, to]` — `insert` events
  * from batches committed in the window, `delete` events from batches
  * truncated (INSERT OVERWRITE) in it — with `_change_type` and
  * `_commit_version` columns appended. This is what makes a downstream
  * pipeline INCREMENTAL at 100 TB: it consumes each window's delta (sized
  * by the change rate) instead of re-diffing two full snapshots (sized by
  * the table). Data columns bind to the schema as of `to`, with the same
  * by-name + tombstone projection as snapshot reads, so evolution
  * mid-window behaves exactly like a snapshot read at `to`.
  *
  * Surfaced as a separate `TableProvider` (`spark.read.format(...)
  * .option("table", …).option("from", v).option("to", v).load()`) rather
  * than options on the catalog identifier because the changes relation has
  * a DIFFERENT schema than the table — the analyzer binds a catalog
  * relation's columns from `Table.schema()` before scan options are seen,
  * so appended change columns would be unresolvable there.
  */
class MemChangesSource extends org.apache.spark.sql.connector.catalog.TableProvider {

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    MemChangesSource.boundsAndSchema(options)._4

  override def getTable(
      schema: StructType,
      partitioning: Array[org.apache.spark.sql.connector.expressions.Transform],
      properties: util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    val (key, from, to, full) = MemChangesSource.boundsAndSchema(opts)
    // updateImages=true: delta-UPDATE events surface as
    // update_preimage/update_postimage pairs instead of delete+insert
    new MemChangesTable(key, from, to, full,
      opts.getBoolean("updateImages", false))
  }
}

object MemChangesSource {
  val ChangeType = "_change_type"
  val CommitVersion = "_commit_version"

  /** Validate options and bind (key, from, to, schema-as-of-`to` + change
    * columns). `to` is optional and defaults to the table's CURRENT
    * version — the natural bound for "everything so far" batch reads and
    * the starting schema for streaming consumption. Fails loudly on a
    * missing/unknown table, a missing `from`, an inverted window, or a
    * `to` beyond the table's current version.
    */
  private[sources] def boundsAndSchema(
      options: CaseInsensitiveStringMap): (String, Long, Long, StructType) = {
    def req(k: String): String = {
      val v = options.get(k)
      if (v == null) throw new IllegalArgumentException(
        s"change-feed read requires option '$k' (have: table, from[, to])")
      v
    }
    val key = req("table")
    val st = MemTables.get(key).getOrElse(
      throw new IllegalArgumentException(s"mem table $key does not exist"))
    // one consistent snapshot of the version clock + timeline: an unlocked
    // double-read could straddle a concurrent commit (version from before
    // it, history from after) and bind a schema the bound `to` never had
    val (curVersion, earliest, hist) = st.synchronized {
      (st.version, st.earliestVersion, st.history)
    }
    val from = req("from").toLong
    val to = Option(options.get("to")).map(_.toLong).getOrElse(curVersion)
    if (from > to)
      throw new IllegalArgumentException(s"empty change window: from=$from > to=$to")
    if (from < 0 || to > curVersion)
      throw new IllegalArgumentException(
        s"change window ($from, $to] outside table history [0, $curVersion]")
    if (from < earliest)
      throw new IllegalArgumentException(
        s"change window ($from, $to] reaches into expired history of $key " +
          s"(earliest retained snapshot: $earliest) — " +
          "events before the retention horizon are gone")
    val dataSchema = hist.filter(_.version <= to).last.schema
    val full = dataSchema
      .add(ChangeType, org.apache.spark.sql.types.StringType, nullable = false)
      .add(CommitVersion, org.apache.spark.sql.types.LongType, nullable = false)
    (key, from, to, full)
  }

  /** Change-event partitions of the half-open window `(from, to]` — shared
    * by the batch scan and the micro-batch stream (each streaming trigger
    * is exactly a batch read of its offset window).
    */
  private[sources] def partitionsIn(
      key: String, from: Long, to: Long,
      updateImages: Boolean = false): Array[InputPartition] = {
    val st = MemTables.get(key)
      .getOrElse(throw new IllegalStateException(s"mem table $key dropped"))
    // one consistent state snapshot — and RE-validate the retention
    // horizon here, not just at options-bind: the streaming path plans
    // each micro-batch window long after bind, and an expire_snapshots
    // interleaved since then must fail the read loudly, never let it
    // silently emit the surviving fraction of the window's events
    val (batches, hist, compactions, earliest, eqDeletes, updatedAt, postBatches) =
      st.synchronized {
        (st.batches, st.history, st.compactionVersions, st.earliestVersion,
          st.eqDeletes, st.updatedAt, st.updatePostBatches)
      }
    if (from < earliest)
      throw new IllegalStateException(
        s"change window ($from, $to] of $key reaches into history expired " +
          s"since the read was bound (earliest retained snapshot: $earliest)")
    // tombstones + eras as of `to`: data columns project (rename-resolved)
    // exactly like a snapshot read at the window's end
    val metaAt = hist.filter(_.version <= to).last
    val meta = MemScan.BoundMeta(metaAt.droppedAt, metaAt.eras)
    val dataSchema = metaAt.schema
    def srcMap(b: MemTables.TaggedBatch): Map[String, String] =
      MemScan.srcMapOf(dataSchema, b, meta)
    // positional DV entries merged with equality-delete matches — one
    // uniform row-level kill map per batch (position -> death version)
    def killsOf(b: MemTables.TaggedBatch): Map[Int, Long] =
      MemTables.effectiveKills(b, eqDeletes, metaAt.eras, metaAt.droppedAt)
    // ONE event partition: the batch's PATH plus the event's position
    // selection (executors stream the parquet — neither the CDC read nor
    // the MV refresh window it feeds ever pulls rows through the driver
    // or task closures). `only` = emit exactly these sorted positions;
    // else emit everything not in (sorted) `skip`.
    def eventOf(b: MemTables.TaggedBatch, tpe: String, at: Long,
        skip: Array[Int], only: Array[Int]): InputPartition =
      MemChangesFilePartition(b.store.schema, srcMap(b), b.store.path,
        if (skip == null || skip.isEmpty) null else PosBitmap.toBytes(skip),
        if (only == null) null else PosBitmap.toBytes(only), tpe, at)
    // COMPACTION versions are physical reorganizations with zero logical
    // change — their batch replacements are invisible to the feed (the
    // Iceberg replace-snapshot rule); DV delete events are untouched
    // (those versions were real deletes)
    // in pre/post-image mode, delta-update replacement batches surface as
    // update_postimage; everything else stays an ordinary insert
    val inserts = batches
      .filter(b => b.version > from && b.version <= to && !compactions.contains(b.version))
      .map { b =>
        val tpe =
          if (updateImages && postBatches.contains(b.batchId)) "update_postimage"
          else "insert"
        eventOf(b, tpe, b.version, Array.empty, null)
      }
    // a batch both committed AND truncated inside the window emits BOTH
    // events (the honest change log — consumers fold by _commit_version).
    // Rows already DV-deleted before the batch's removal do NOT re-delete
    // at removal (they were gone; their own events carry their version).
    val deletes = batches
      .filter(b => b.removedAt > from && b.removedAt <= to &&
        !compactions.contains(b.removedAt))
      .map { b =>
        val kills = killsOf(b)
        eventOf(b, "delete", b.removedAt, kills.keys.toArray.sorted, null)
      }
    // merge-on-read deletes are ROW-level events at the version their DV
    // entry was recorded — the change feed a DV table produces is finer
    // than the batch remove+reinsert log of a copy-on-write rewrite; in
    // pre/post-image mode the positions a delta UPDATE killed surface as
    // update_preimage, split from the same version's plain deletes
    val dvDeletes = batches.flatMap { b =>
      killsOf(b).toSeq
        .filter { case (_, at) => at > from && at <= to }
        .groupBy(_._2).toSeq.flatMap { case (at, entries) =>
          val (pre, plain) =
            if (updateImages)
              entries.partition { case (p, _) =>
                updatedAt.getOrElse(at, Set.empty).contains((b.batchId, p))
              }
            else (Nil, entries)
          Seq(("update_preimage", pre), ("delete", plain)).collect {
            case (tpe, es) if es.nonEmpty =>
              eventOf(b, tpe, at, null, es.map(_._1).sorted.toArray)
          }
        }
    }
    (inserts ++ deletes ++ dvDeletes).map(p => p: InputPartition).toArray
  }

  /** Reader over [[MemChangesFilePartition]]s: by-name projection of the data
    * columns into `fullSchema` (minus the 2 change columns), then the
    * event-constant `_change_type` / `_commit_version`.
    */
  private[sources] def readerFactory(fullSchema: StructType): PartitionReaderFactory =
    new PartitionReaderFactory {
      val target = fullSchema // serialized with the factory; last 2 = change cols

      /** By-name projector of one event's rows into the target schema
        * (rename-resolved via srcNames, widened per value) plus the two
        * event-constant change columns.
        */
      private def projector(
          batchSchema: StructType, srcNames: Map[String, String],
          changeTypeS: String, commitVersion: Long): InternalRow => InternalRow = {
        val nData = target.length - 2
        val srcIdx = (0 until nData).map { j =>
          srcNames.get(target.fields(j).name)
            .map(n => batchSchema.fieldNames.indexOf(n)).getOrElse(-1)
        }.toArray
        val srcType = srcIdx.zipWithIndex.map { case (s, j) =>
          if (s >= 0) batchSchema.fields(s).dataType else target.fields(j).dataType
        }
        // widened columns convert per value (int->bigint, float->double)
        val widenTo = srcIdx.zipWithIndex.map { case (s, j) =>
          if (s >= 0 && srcType(j) != target.fields(j).dataType) target.fields(j).dataType
          else null
        }
        val changeType =
          org.apache.spark.unsafe.types.UTF8String.fromString(changeTypeS)
        (r: InternalRow) => {
          val vals = new Array[Any](target.length)
          var j = 0
          while (j < nData) {
            val s = srcIdx(j)
            vals(j) =
              if (s >= 0 && !r.isNullAt(s)) {
                val raw = r.get(s, srcType(j))
                if (widenTo(j) == null) raw
                else MemTables.widenValue(raw, srcType(j), widenTo(j))
              } else null
            j += 1
          }
          vals(nData) = changeType
          vals(nData + 1) = commitVersion
          new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(vals)
        }
      }

      override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
        val p = partition.asInstanceOf[MemChangesFilePartition]
        // stream the file by position: `only` emits exactly those
        // positions; else everything not in `skip` (both sorted by
        // the bitmap decode)
        val project =
          projector(p.batchSchema, p.srcNames, p.changeType, p.commitVersion)
        val only = if (p.onlyBm == null) null else PosBitmap.toArray(p.onlyBm)
        val skip =
          if (p.skipBm == null) Array.empty[Int] else PosBitmap.toArray(p.skipBm)
        val it = ParquetRows.iterator(p.path, p.batchSchema)
        new PartitionReader[InternalRow] {
          private var pos = -1
          private var oIdx = 0 // cursor into `only`
          private var sIdx = 0 // cursor into `skip`
          private var current: InternalRow = _
          override def next(): Boolean = {
            current = null
            while (current == null && it.hasNext &&
                (only == null || oIdx < only.length)) {
              val r = it.next()
              pos += 1
              if (only != null) {
                if (pos == only(oIdx)) { oIdx += 1; current = r }
              } else {
                while (sIdx < skip.length && skip(sIdx) < pos) sIdx += 1
                if (sIdx >= skip.length || skip(sIdx) != pos) current = r
              }
            }
            if (current == null) { it.close(); false } else true
          }
          override def get(): InternalRow = project(current)
          override def close(): Unit = it.close()
        }
      }
    }
}

final class MemChangesTable(
    key: String, from: Long, to: Long, fullSchema: StructType,
    updateImages: Boolean = false)
    extends Table with SupportsRead {
  override def name(): String = s"$key changes ($from, $to]"
  override def schema(): StructType = fullSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan =
        new MemChangesScan(key, from, to, fullSchema, updateImages)
    }
}

final class MemChangesScan(
    key: String, from: Long, to: Long, fullSchema: StructType,
    updateImages: Boolean = false)
    extends Scan with Batch {
  override def readSchema(): StructType = fullSchema
  override def toBatch: Batch = this
  override def description(): String = s"GraftMemChangesScan $key ($from, $to]"

  override def planInputPartitions(): Array[InputPartition] =
    MemChangesSource.partitionsIn(key, from, to, updateImages)

  override def createReaderFactory(): PartitionReaderFactory =
    MemChangesSource.readerFactory(fullSchema)

  /** STREAMING consumption of the change feed — the table's version clock
    * IS the streaming offset: each trigger reads the change events of its
    * `(startVersion, endVersion]` window, so a checkpointed query consumes
    * every commit/truncate event EXACTLY once across restarts (offsets are
    * versions in the checkpoint log) and each micro-batch costs the
    * window's change volume, never the table. The read schema is fixed at
    * stream start (the schema as of the bound `to`/current) — columns
    * added by later alters project by name and stay invisible until the
    * stream restarts, the standard streaming fixed-schema contract.
    */
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new MemChangesMicroBatchStream(key, from, fullSchema, updateImages)
}

/** Implements [[SupportsTriggerAvailableNow]] natively (rather than
  * leaning on Spark's single-batch fallback wrapper): `prepare` pins the
  * run's target version, so commits racing an AvailableNow run land in the
  * NEXT run instead of extending this one — the bounded-run contract a
  * backfill needs.
  */
final class MemChangesMicroBatchStream(
    key: String, from: Long, fullSchema: StructType,
    updateImages: Boolean = false)
    extends MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.ReadLimit
  private def current: Long = MemTables.get(key)
    .getOrElse(throw new IllegalStateException(s"mem table $key dropped")).version
  @volatile private var availableNowTarget: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(current)
  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()
  override def latestOffset(start: Offset, limit: ReadLimit): Offset =
    MemVersionOffset(availableNowTarget.getOrElse(current))
  override def reportLatestOffset(): Offset = MemVersionOffset(current)
  override def initialOffset(): Offset = MemVersionOffset(from)
  // admission-control sources are driven via latestOffset(start, limit)
  override def latestOffset(): Offset =
    throw new UnsupportedOperationException("driven via latestOffset(start, limit)")
  override def deserializeOffset(json: String): Offset = MemVersionOffset(json.toLong)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] =
    MemChangesSource.partitionsIn(
      key,
      start.asInstanceOf[MemVersionOffset].v,
      end.asInstanceOf[MemVersionOffset].v,
      updateImages)
  override def createReaderFactory(): PartitionReaderFactory =
    MemChangesSource.readerFactory(fullSchema)
}

final case class MemVersionOffset(v: Long) extends Offset {
  override def json(): String = v.toString
}

/** Reader options of a table-level stream (all optional):
  *
  *  - `skipChangeCommits` — skip non-append commits whole instead of
  *    failing the stream (the Delta flag of the same name).
  *  - `startingVersion` — begin at this commit INCLUSIVE instead of the
  *    initial snapshot (the Delta option of the same name): backfills
  *    that already hold the snapshot resume from the version after it.
  *  - `maxVersionsPerTrigger` — admission control: each micro-batch
  *    advances the offset at most this many versions (the analogue of
  *    `maxFilesPerTrigger`), bounding per-trigger work on a backlogged
  *    stream; the initial snapshot is always one batch (capping a
  *    snapshot would split a consistent view).
  */
final case class MemStreamOptions(
    skipChangeCommits: Boolean = false,
    startingVersion: Option[Long] = None,
    maxVersionsPerTrigger: Option[Long] = None)

/** TABLE-level micro-batch stream (`spark.readStream.table("graft.t")` —
  * the Delta table-as-stream-source shape): offsets are table versions;
  * the first window `(−1, v]` is the full snapshot AS OF `v` and every
  * later one the batches APPENDED in `(start, end]`. Checkpointed offsets
  * make consumption exactly-once across restarts, and each trigger costs
  * its window's new rows — never the table. See
  * [[MemTableMicroBatchStream.partitionsIn]] for the change-commit rules.
  */
final class MemTableMicroBatchStream(
    key: String, boundSchema: StructType, opts: MemStreamOptions)
    extends MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.ReadLimit
  private def current: Long = MemTables.get(key)
    .getOrElse(throw new IllegalStateException(s"mem table $key dropped")).version
  @volatile private var availableNowTarget: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(current)
  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val target = availableNowTarget.getOrElse(current)
    val from = start.asInstanceOf[MemVersionOffset].v
    // admission control caps incremental windows only — the initial
    // snapshot is one consistent batch whatever its version count
    val capped = opts.maxVersionsPerTrigger match {
      case Some(n) if from >= 0 => math.min(target, from + math.max(1L, n))
      case _ => target
    }
    MemVersionOffset(capped)
  }
  override def reportLatestOffset(): Offset = MemVersionOffset(current)
  // −1 = "initial snapshot pending": the stream's first batch is the data
  // that existed at start, exactly once, whatever version count built it;
  // a startingVersion replaces the snapshot with "commits from v on"
  override def initialOffset(): Offset = opts.startingVersion match {
    case Some(v) =>
      // v0 is always the bare CREATE (no data commit), and offset −1 is
      // the snapshot sentinel — so the earliest meaningful start is 1
      if (v < 1) throw new IllegalArgumentException(
        s"startingVersion must be >= 1 (version 0 is CREATE TABLE), got $v")
      MemVersionOffset(v - 1) // window (v−1, …] includes commit v
    case None => MemVersionOffset(-1L)
  }
  override def latestOffset(): Offset =
    throw new UnsupportedOperationException("driven via latestOffset(start, limit)")
  override def deserializeOffset(json: String): Offset = MemVersionOffset(json.toLong)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] =
    MemTableMicroBatchStream.partitionsIn(
      key, boundSchema,
      start.asInstanceOf[MemVersionOffset].v,
      end.asInstanceOf[MemVersionOffset].v,
      opts.skipChangeCommits)
  override def createReaderFactory(): PartitionReaderFactory =
    MemScan.readerFactoryFor(boundSchema)
}

object MemTableMicroBatchStream {
  /** Pure adds — safe to stream as-appended. */
  private val AppendKinds = Set("append", "stream-append")
  /** No logical data change: nothing to stream, nothing to object to
    * ("compact" versions DO create batches — physical replacements the
    * stream must never re-emit, the CDC-invisibility rule).
    */
  private val InvisibleKinds = Set("create", "alter", "compact")

  /** Partitions of one streamed window.
    *
    *  - `from == −1`: the INITIAL SNAPSHOT at `to` — live batches with
    *    their DV/equality kills at that version, read exactly like a
    *    `VERSION AS OF to` scan.
    *  - otherwise: the batches appended by append-kind versions in
    *    `(from, to]`, as-appended (no kill overlay: later deletes are
    *    separate commits). Any other data-changing commit in the window
    *    (overwrite, DELETE, UPDATE/MERGE rewrite or delta, rollback,
    *    upsert) fails the stream loudly unless `skipChangeCommits` skips
    *    those versions whole — the append-only contract; update/delete
    *    consumers belong on the change feed ([[MemChangesSource]]).
    *
    * Retention is re-validated per window (a restart may land after an
    * `expire_snapshots`): a window reaching into expired history fails
    * loudly, never silently emits the surviving fraction.
    */
  private[sources] def partitionsIn(
      key: String, bound: StructType, from: Long, to: Long,
      skipChangeCommits: Boolean): Array[InputPartition] = {
    val st = MemTables.get(key).getOrElse(
      throw new IllegalStateException(s"mem table $key dropped"))
    val (batches, hist, earliest, eqDeletes, opKinds) = st.synchronized {
      (st.batches, st.history, st.earliestVersion, st.eqDeletes, st.opKinds)
    }
    if ((if (from < 0) to else from) < earliest)
      throw new IllegalStateException(
        s"stream window ($from, $to] of $key reaches into expired history " +
          s"(earliest retained snapshot: $earliest) — restart the stream " +
          "from a fresh checkpoint")
    val metaAt = hist.filter(_.version <= to).last
    val meta = MemScan.BoundMeta(metaAt.droppedAt, metaAt.eras,
      defaults = metaAt.defaults)
    def toPartition(b: MemTables.TaggedBatch, dead: Set[Int]): InputPartition = {
      val srcNames = MemScan.srcMapOf(bound, b, meta)
      bound.fields.foreach { f =>
        srcNames.get(f.name).foreach { src =>
          val dt = b.schema.fields(b.schema.fieldNames.indexOf(src)).dataType
          if (!MemTables.sameShape(dt, f.dataType) && !MemTables.widens(dt, f.dataType))
            throw new IllegalStateException(
              s"mem table $key: column ${f.name} was written as " +
                s"${dt.simpleString} but the stream is bound to " +
                s"${f.dataType.simpleString} — not a supported widening")
        }
      }
      // ADD COLUMN defaults bound at `to`, exactly as a snapshot read
      val defaults = bound.fieldNames.iterator
        .filterNot(srcNames.contains)
        .flatMap(n => MemTables.defaultFor(meta.defaults)(n, b.writeVersion)
          .map(n -> _)).toMap
      // the streamed window ships PATHS too — a micro-batch must not
      // materialize driver-side any more than a snapshot scan does
      MemPartition(b.schema, b.version, srcNames, b.store.path, dead,
        b.batchId, None, defaults = defaults)
    }
    if (from < 0)
      batches.filter(b => b.version <= to && b.removedAt > to).map { b =>
        val dead = MemTables.effectiveKills(b, eqDeletes, metaAt.eras, metaAt.droppedAt)
          .collect { case (p, at) if at <= to => p }.toSet
        toPartition(b, dead)
      }.toArray
    else {
      def kindOf(v: Long): String = opKinds.getOrElse(v, "unknown")
      val offending = ((from + 1) to to).filter(v =>
        !AppendKinds.contains(kindOf(v)) && !InvisibleKinds.contains(kindOf(v)))
      if (offending.nonEmpty && !skipChangeCommits)
        throw new IllegalStateException(
          s"stream of $key hit non-append commit(s) " +
            offending.map(v => s"v$v=${kindOf(v)}").mkString(", ") +
            " — deletes/updates belong on the change feed " +
            "(graft.sources.MemChangesSource); set skipChangeCommits=true " +
            "to ignore them")
      batches
        .filter(b => b.version > from && b.version <= to &&
          AppendKinds.contains(kindOf(b.version)))
        .map(toPartition(_, Set.empty)).toArray
    }
  }
}

/** One change event: the driver plans the PATH plus the event's
  * position selection and executors stream the parquet — the change
  * feed's analogue of the snapshot scan's path shipping, so a CDC read
  * (and therefore every incremental MV refresh window) never
  * materializes a file-backed batch driver-side or ships its rows in
  * task closures. `only` (nullable) emits exactly those positions
  * (row-selected events: DV deletes, update images); otherwise every
  * position not in `skip` emits — whole-batch events with the
  * already-dead rows carved out. Both selections ride as COMPRESSED
  * bitmaps ([[PosBitmap]]) so even a million-row MoR delete's event
  * plans kilobyte partitions.
  */
final case class MemChangesFilePartition(
    batchSchema: StructType, srcNames: Map[String, String],
    path: String, skipBm: Array[Byte], onlyBm: Array[Byte],
    changeType: String, commitVersion: Long)
    extends InputPartition
