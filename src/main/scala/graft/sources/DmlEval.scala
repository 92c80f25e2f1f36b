package graft.sources

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.{DataType, StructType}

/** Row-level DML evaluation shipped WHERE THE ROWS ARE — the executor
  * half of `DELETE FROM ... WHERE` and filtered OVERWRITE on FILE-BACKED
  * tables. The driver resolves everything metadata-shaped per candidate
  * batch (filter-column era/tombstone binding, ADD COLUMN defaults,
  * applicable equality-delete keys, the copy-on-write target directory)
  * into one serializable [[DistributedDml.EvalTask]]; a one-file-per-task
  * Spark job then streams each parquet file ONCE to find matches and — on
  * copy-on-write tables — a second time to write the survivor file, stats
  * and sortedness accumulating in the task exactly like an ordinary write
  * task. The driver gets back matched positions + a survivor manifest,
  * never rows: at 100 TB an arbitrary-predicate DELETE costs one pass of
  * the candidate batches ACROSS THE CLUSTER instead of pulling the table
  * through the driver (the round-13 standing scale wart).
  *
  * Semantics are identical to the driver-side evaluator they replace
  * (SQL three-valued logic over era-resolved values; survivors preserve
  * file order, so sorted-layout claims survive) — [[RowPredicate]] IS the
  * shared implementation, used by both paths.
  */
/** Serializable per-batch row-level filter conjunction under SQL
  * THREE-VALUED logic: a row matches only when the conjunction is
  * DEFINITIVELY true — under two-valued eval, `Not(v = 5)` over a NULL v
  * would wrongly read true (inner false → negated true) and delete rows
  * SQL must keep (`v <> 5`, `v NOT IN (...)` are unknown on NULL, not
  * true). Column resolution (era/tombstone binding to a field index, or
  * an ADD COLUMN default / NULL for unresolvable columns) happens at
  * CONSTRUCTION on the driver — so did the filter-shape validation: an
  * unsupported shape throws here, before any job launches or state
  * mutates (the loud-failure contract must not change shape because the
  * walk distributed).
  */
final class RowPredicate(
    filters: Array[Filter], colIndex: Map[String, Int],
    colDefault: Map[String, Any], schema: StructType) extends Serializable {

  filters.foreach(validate)

  private def validate(f: Filter): Unit = f match {
    case And(l, r) => validate(l); validate(r)
    case Or(l, r) => validate(l); validate(r)
    case Not(inner) => validate(inner)
    case EqualTo(_, _) | EqualNullSafe(_, _) | GreaterThan(_, _) |
        GreaterThanOrEqual(_, _) | LessThan(_, _) | LessThanOrEqual(_, _) |
        In(_, _) | IsNull(_) | IsNotNull(_) | AlwaysTrue() | AlwaysFalse() => ()
    case other => throw new UnsupportedOperationException(
      s"unsupported DELETE filter: $other")
  }

  private val types: Array[DataType] = schema.fields.map(_.dataType)

  /** Era/tombstone-resolved value exactly as a scan projects it:
    * unresolvable columns (pre-alter batches, dropped fields, pre-rename
    * names) read NULL — or their ADD COLUMN default where one applies (a
    * `DELETE WHERE c = <default>` must match pre-alter rows exactly as a
    * read shows them); widened columns surface their write-time value
    * ([[MemTables.cmp]] is numeric-promoting, so comparisons against the
    * bound type work).
    */
  private def valueOf(r: InternalRow, col: String): Any = {
    val i = colIndex(col)
    if (i < 0) colDefault.getOrElse(col, null)
    else if (r.isNullAt(i)) null
    else r.get(i, types(i))
  }

  import MemTables.cmp

  /** Kleene evaluation; None = unknown (a NULL operand). */
  private def eval(f: Filter, r: InternalRow): Option[Boolean] = f match {
    case EqualTo(c, v) => cmp(valueOf(r, c), v).map(_ == 0)
    case EqualNullSafe(c, v) =>
      // <=> is never unknown on NULL operands (the shape a static
      // partition-clause overwrite pushes): NULL<=>NULL is TRUE,
      // NULL<=>value is FALSE
      val rv = valueOf(r, c)
      if (rv == null && v == null) Some(true)
      else if (rv == null || v == null) Some(false)
      else cmp(rv, v).map(_ == 0)
    case GreaterThan(c, v) => cmp(valueOf(r, c), v).map(_ > 0)
    case GreaterThanOrEqual(c, v) => cmp(valueOf(r, c), v).map(_ >= 0)
    case LessThan(c, v) => cmp(valueOf(r, c), v).map(_ < 0)
    case LessThanOrEqual(c, v) => cmp(valueOf(r, c), v).map(_ <= 0)
    case In(c, vs) =>
      // true on the FIRST matching element — this runs per row in the
      // distributed DELETE inner loop, so no per-row Seq allocation and
      // no comparisons past a match; unknown only if nothing matched but
      // some comparison was unknown (x IN (1, NULL) is unknown, not false)
      val rv = valueOf(r, c)
      var sawUnknown = false
      var matched = false
      var i = 0
      while (!matched && i < vs.length) {
        cmp(rv, vs(i)) match {
          case Some(0) => matched = true
          case None => sawUnknown = true
          case _ => ()
        }
        i += 1
      }
      if (matched) Some(true) else if (sawUnknown) None else Some(false)
    case IsNull(c) => Some(valueOf(r, c) == null)
    case IsNotNull(c) => Some(valueOf(r, c) != null)
    case And(l, rr) => (eval(l, r), eval(rr, r)) match {
      case (Some(false), _) | (_, Some(false)) => Some(false)
      case (Some(true), Some(true)) => Some(true)
      case _ => None
    }
    case Or(l, rr) => (eval(l, r), eval(rr, r)) match {
      case (Some(true), _) | (_, Some(true)) => Some(true)
      case (Some(false), Some(false)) => Some(false)
      case _ => None
    }
    case Not(inner) => eval(inner, r).map(!_) // NOT unknown = unknown
    case AlwaysTrue() => Some(true)
    case AlwaysFalse() => Some(false)
    case other => throw new UnsupportedOperationException(
      s"unsupported DELETE filter: $other")
  }

  def matches(r: InternalRow): Boolean =
    filters.forall(f => eval(f, r).contains(true))
}

/** One equality-delete's membership probe against one batch, key columns
  * already era-resolved to field indexes on the driver: a row is killed
  * when its canonicalized key tuple is in the delete's key set (a NULL or
  * unresolvable key never matches — the same rule
  * [[MemTables.effectiveKills]] applies driver-side).
  */
final case class EqProbe(
    keyIdx: Array[Int], keyTypes: Array[DataType],
    keys: Set[Seq[Any]]) extends Serializable {
  def kills(r: InternalRow): Boolean = {
    val tuple = keyIdx.indices.map { j =>
      if (r.isNullAt(keyIdx(j))) null
      else MemTables.canonKey(r.get(keyIdx(j), keyTypes(j)))
    }
    !tuple.contains(null) && keys.contains(tuple)
  }
}

/** An executor-written copy-on-write survivor file: the manifest the task
  * ships back (path, count, publish-grade stats, sortedness verdict) —
  * the driver builds the replacement batch from this, never from rows.
  */
final case class SurvivorFile(
    path: String, count: Int,
    stats: Map[String, MemTables.ColStats], sorted: Boolean)

object DistributedDml {

  /** One batch's already-dead row state — delete-vector positions +
    * equality-delete probes (dead rows never match, mirroring the driver
    * evaluator). Shipped ONCE PER EXECUTOR via `sc.broadcast`, never in
    * the task closure: at a million dead positions × many candidate
    * files, per-task serialization would re-ship the same payload for
    * every file. Probe key indexes resolve into the task's PRUNED match
    * schema.
    */
  final case class KillState(dvDead: Array[Byte], probes: Seq[EqProbe])
      extends Serializable {
    /** Hot-loop membership over the decoded bitmap (built once per task). */
    def deadFn: Int => Boolean = PosBitmap.membership(dvDead)
  }

  val EmptyKills: KillState = KillState(Array.empty, Nil)

  /** Everything one executor task needs to evaluate one file-backed batch:
    * where the rows live, the bound predicate, and — copy-on-write only —
    * the directory to write the survivor file into (the task mints the
    * file name so a Spark retry writes a FRESH file instead of colliding
    * with the failed attempt's partial one; losers are orphans,
    * `remove_orphan_files`'s department).
    *
    * `matchSchema` is the PRUNED read schema of the match pass — only the
    * predicate-referenced + equality-key columns (in file field order):
    * on a wide table the match pass's parquet IO is the predicate
    * footprint, not the table width. `pred` and the broadcast probes bind
    * their field indexes into `matchSchema`; the CoW survivor pass reads
    * the full `schema` (it materializes every column anyway).
    */
  final case class EvalTask(
      batchId: Long, path: String, schema: StructType,
      matchSchema: StructType, pred: RowPredicate,
      survivorDir: Option[String], declaredSort: Seq[String],
      bloomCols: Set[String],
      // the DELETE predicate renamed to the file's field names, for
      // parquet ROW-GROUP pruning in the match pass — advisory ([[pred]]
      // remains the semantic evaluator; positions ride the row index)
      pushFilters: Array[Filter] = Array.empty) extends Serializable

  /** `matched` is a compressed position bitmap ([[PosBitmap]]) — a
    * run-shaped million-row DELETE ships kilobytes driver-ward, not a
    * million boxed ints.
    */
  final case class EvalResult(
      batchId: Long, matched: Array[Byte],
      survivor: Option[SurvivorFile]) extends Serializable {
    def matchedPositions: Array[Int] = PosBitmap.toArray(matched)
    def anyMatched: Boolean = matched.nonEmpty // bitmap only written on a match
  }

  /** Spec observability: the tasks of the most recent job — pinned so
    * DistributedDmlSpec can assert the match pass's read schema is the
    * predicate footprint and that kill state rides the broadcast, not
    * the closure. CAPTURE-GATED: production never retains a job's task
    * seq (schemas + predicates per candidate file) past the job; specs
    * flip [[captureTasks]] on around the statement under test.
    */
  private[graft] val lastTasks =
    new java.util.concurrent.atomic.AtomicReference[Seq[EvalTask]](Nil)

  @volatile private[graft] var captureTasks = false

  /** One task per candidate file (the same granularity the scan and the
    * distributed compaction use); results keyed by batch id. Kill state
    * travels as one broadcast keyed by batch id.
    */
  def run(sc: SparkContext, tasks: Seq[EvalTask],
      kills: Map[Long, KillState]): Map[Long, EvalResult] =
    if (tasks.isEmpty) Map.empty
    else {
      if (captureTasks) lastTasks.set(tasks)
      val bcKills = sc.broadcast(kills)
      try sc.parallelize(tasks, tasks.size)
        .map(t => evalBatch(t, bcKills.value.getOrElse(t.batchId, EmptyKills)))
        .collect().iterator.map(r => r.batchId -> r).toMap
      finally bcKills.destroy()
    }

  /** One upsert-epoch CONVERT-ON-WRITE probe task ([[probeMatches]]):
    * stream one strictly-older file PRUNED to its era-resolved key
    * columns and return the positions whose canonicalized key tuple is
    * in the epoch's delete set, minus already-dead DV positions — the
    * Iceberg equality→position-delete conversion, run where the rows
    * live. `keyIdx` binds the epoch's key-column ORDER into
    * `matchSchema`'s field order.
    */
  final case class ProbeTask(
      batchId: Long, path: String, matchSchema: StructType,
      keyIdx: Array[Int], keyTypes: Array[DataType],
      dvDead: Array[Byte]) extends Serializable

  /** Shuffled-probe jobs observed — spec observability for the
    * oversized-epoch fallback ([[probeMatchesShuffled]]).
    */
  val shuffledProbeRuns = new java.util.concurrent.atomic.AtomicLong(0L)

  /** SHUFFLED (sort-merge-shaped) equality→positional conversion for
    * OVERSIZED upsert epochs: joins the epoch's key tuples against the
    * candidate files' rows ON THE CLUSTER and folds matched positions
    * into per-batch bitmaps executor-side — driver and broadcast memory
    * stay FLAT in epoch size. The broadcast path ([[probeMatches]])
    * first collects every epoch key driver-ward and then ships the whole
    * set to every executor; a backfill epoch with 10⁸ keys cannot ride
    * that. Same contract as [[probeMatches]]: doomed positions per
    * batch, already-dead DV positions excluded, NULL-keyed rows never
    * match. `epochPaths` are the epoch's files, keyed by
    * `keyIdx`/`keyTypes` into `epochSchema`.
    */
  def probeMatchesShuffled(sc: SparkContext, tasks: Seq[ProbeTask],
      epochPaths: Seq[String], epochSchema: StructType,
      keyIdx: Array[Int], keyTypes: Array[DataType]): Map[Long, Array[Int]] =
    if (tasks.isEmpty) Map.empty
    else {
      shuffledProbeRuns.incrementAndGet()
      val fileKeys = sc.parallelize(epochPaths, math.max(1, epochPaths.size))
        .flatMap { p =>
          val it = ParquetRows.iterator(p, epochSchema)
          it.flatMap { r =>
            val t: Seq[Any] = keyIdx.indices.map { j =>
              if (r.isNullAt(keyIdx(j))) null
              else MemTables.canonKey(r.get(keyIdx(j), keyTypes(j)))
            }
            if (t.contains(null)) Nil else Seq(t)
          }
        }
      val keys = fileKeys
        .distinct() // an epoch upserts the same key many times — dedupe
        .map(k => k -> (()))                                    // join form
      val fileRows = sc.parallelize(tasks, math.max(1, tasks.size)).flatMap { t =>
        val dead = PosBitmap.membership(t.dvDead)
        val it = ParquetRows.iterator(t.path, t.matchSchema)
        var pos = -1
        it.flatMap { r =>
          pos += 1
          if (dead(pos)) Nil
          else {
            val tuple: Seq[Any] = t.keyIdx.indices.map { j =>
              if (r.isNullAt(t.keyIdx(j))) null
              else MemTables.canonKey(r.get(t.keyIdx(j), t.keyTypes(j)))
            }
            if (tuple.contains(null)) Nil else Seq(tuple -> (t.batchId, pos))
          }
        }
      }
      fileRows.join(keys)
        .map { case (_, ((id, pos), _)) => id -> pos }
        .aggregateByKey(new org.roaringbitmap.RoaringBitmap())(
          (bm, p) => { bm.add(p); bm }, (a, b) => { a.or(b); a })
        .mapValues(_.toArray)
        .collect().toMap // change-sized: matched positions only
    }

  /** Probe every task's file against ONE broadcast key set; returns only
    * batches with at least one doomed position (decoded driver-side —
    * the shipped form is the compressed bitmap).
    */
  def probeMatches(sc: SparkContext, tasks: Seq[ProbeTask],
      keys: Set[Seq[Any]]): Map[Long, Array[Int]] =
    if (tasks.isEmpty) Map.empty
    else {
      val bcKeys = sc.broadcast(keys)
      try sc.parallelize(tasks, tasks.size).map { t =>
        val probe = EqProbe(t.keyIdx, t.keyTypes, bcKeys.value)
        // decoded-bitmap membership, not a boxed Set[Int] build
        val dead = PosBitmap.membership(t.dvDead)
        val out = new ArrayBuffer[Int]
        val it = ParquetRows.iterator(t.path, t.matchSchema)
        try {
          var pos = 0
          while (it.hasNext) {
            val r = it.next()
            if (!dead(pos) && probe.kills(r)) out += pos
            pos += 1
          }
        } finally it.close()
        t.batchId -> PosBitmap.toBytes(out.iterator)
      }.collect().iterator
        .map { case (id, bm) => id -> PosBitmap.toArray(bm) }
        .filter(_._2.nonEmpty).toMap
      finally bcKeys.destroy()
    }

  /** Pass 1 streams the file PRUNED to the predicate footprint to find
    * matched positions; pass 2 (CoW, only when matches exist) streams the
    * full schema again writing survivors — never both in one pass, so an
    * unmatched candidate (bounds kept it, rows didn't) costs a pruned
    * read, not a rewrite. Two bounded passes, zero buffering: the task's
    * memory is the matched-position buffer + writer state.
    */
  private[sources] def evalBatch(t: EvalTask, kills: KillState): EvalResult = {
    val dvDead = kills.deadFn
    val matched = new ArrayBuffer[Int]
    // parquet-filtered + position-aware: row groups the pushed predicate
    // excludes never decode (they cannot hold matches), and positions
    // stay ABSOLUTE via the row index, so DV checks and the matched
    // bitmap are unaffected by the skips
    val it = ParquetRows.positioned(t.path, t.matchSchema, t.pushFilters.toSeq)
    try {
      while (it.hasNext) {
        val r = it.next()
        val pos = it.pos.toInt
        val dead = dvDead(pos) || kills.probes.exists(_.kills(r))
        if (!dead && t.pred.matches(r)) matched += pos
      }
    } finally it.close()
    if (matched.isEmpty)
      return EvalResult(t.batchId, Array.empty, None)
    val matchedBitmap = PosBitmap.toBytes(matched.iterator)
    t.survivorDir match {
      case None => EvalResult(t.batchId, matchedBitmap, None) // MoR: positions only
      case Some(dir) =>
        val matchedSet = matched.toSet
        val path = s"$dir/delete-cow-" +
          s"${java.util.UUID.randomUUID().toString.take(12)}.parquet"
        val w = ParquetRows.open(path, t.schema)
        val acc = new StatsAccumulator(t.schema, t.bloomCols)
        val tracker = new SortTracker(t.schema, t.declaredSort)
        var kept = 0
        try {
          val it2 = ParquetRows.iterator(t.path, t.schema)
          try {
            var pos = 0
            while (it2.hasNext) {
              val r = it2.next()
              // survivors = everything but THIS delete's matches (dead
              // rows stay physically present exactly as the driver
              // rewrite keeps them; their kills remain recorded)
              if (!matchedSet.contains(pos)) {
                w.write(r); acc.add(r); tracker.add(r); kept += 1
              }
              pos += 1
            }
          } finally it2.close()
        } catch {
          case e: Throwable =>
            try w.close() catch { case _: Exception => () }
            try ParquetRows.delete(path) catch { case _: Exception => () }
            throw e
        }
        w.close()
        if (kept == 0) { // every row matched: the batch just disappears
          ParquetRows.delete(path)
          EvalResult(t.batchId, matchedBitmap, None)
        } else EvalResult(t.batchId, matchedBitmap,
          Some(SurvivorFile(path, kept, acc.result(), tracker.sorted)))
    }
  }
}
