package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.parquet.{ParquetReadSupport, ParquetWriteSupport}
import org.apache.spark.sql.types.StructType

/** Executor-grade parquet I/O of `InternalRow`s for the graft table
  * format's storage plane: write
  * tasks call [[ParquetRows.write]] to persist their buffered rows as one
  * snappy parquet file per partition split and ship only the MANIFEST
  * (path, row count, partition tuple, column bounds) in their commit
  * message; scans ship the file path in the `InputPartition` and readers
  * stream rows back with [[ParquetRows.iterator]].
  *
  * Built on Spark's own parquet (de)serialization
  * (`ParquetWriteSupport` / `ParquetReadSupport` over parquet-hadoop), so
  * the bytes are byte-compatible with `spark.read.parquet` and the type
  * semantics (UTC micros timestamps, date = epoch days, CORRECTED rebase)
  * are exactly the engine's. Paths go through the Hadoop `Path`/`FileSystem`
  * API, so the same code addresses local disk at gate scale and object
  * storage (`s3a://…`) on a cluster.
  */
object ParquetRows {

  /** Template Configurations, cached per schema: `new Configuration()`
    * parses the Hadoop default XML resources EVERY time (tens of ms),
    * which a 100-file partitioned commit pays 100×; the copy
    * constructor only clones the property map. Keyed by schema JSON —
    * the only input that varies.
    */
  private val confCache =
    scala.collection.concurrent.TrieMap.empty[String, Configuration]

  private def cached(key: String)(build: => Configuration): Configuration =
    new Configuration(confCache.getOrElseUpdate(key, {
      val c = build
      // local `file:` paths skip ChecksumFileSystem: the default wraps
      // every file in a `.crc` shadow (2x creates, 2x deletes, checksum
      // CPU) — measurable per-file fixed cost at gate scale, pure
      // overhead under parquet's own page checksums. Object-storage
      // schemes (s3a://...) are untouched.
      graft.core.LocalFs.settings(checksummed = false).foreach { case (k, v) => c.set(k, v) }
      c
    }))

  private def writeConf(schema: StructType): Configuration =
    cached("w|" + schema.json)(buildWriteConf(schema))

  private def buildWriteConf(schema: StructType): Configuration = {
    val conf = new Configuration()
    ParquetWriteSupport.setSchema(schema, conf)
    // the SQLConf-derived keys ParquetWriteSupport.init and the schema
    // converter read, at their engine defaults — taken from the ConfigEntry
    // objects (via the bridge: ConfigEntry is private[spark]) so a Spark
    // upgrade can't silently desynchronize the names
    org.apache.spark.sql.graftbridge.Bridge.parquetWriteEntries
      .foreach { case (k, v) => conf.set(k, v) }
    // CORRECTED rebase + micros timestamps are this engine's (UTC-session)
    // semantics — never the EXCEPTION/LEGACY write defaults
    val (rebaseKey, int96Key) =
      org.apache.spark.sql.graftbridge.Bridge.parquetRebaseWriteKeys
    conf.set(rebaseKey, "CORRECTED")
    conf.set(int96Key, "CORRECTED")
    conf.set(org.apache.spark.sql.graftbridge.Bridge.parquetTimestampTypeKey,
      "TIMESTAMP_MICROS")
    conf
  }

  private final class RowWriterBuilder(path: Path)
      extends org.apache.parquet.hadoop.ParquetWriter.Builder[InternalRow, RowWriterBuilder](path) {
    override def self(): RowWriterBuilder = this
    override def getWriteSupport(conf: Configuration)
        : org.apache.parquet.hadoop.api.WriteSupport[InternalRow] =
      new ParquetWriteSupport
  }

  /** Write `rows` as one snappy parquet file; returns the row count.
    * `rowGroupBytes` > 0 overrides the parquet block size (specs use a
    * small value to produce MULTI-row-group files that exercise the
    * row-group pruning paths; production keeps the default).
    */
  def write(path: String, schema: StructType, rows: Iterator[InternalRow],
      rowGroupBytes: Long = 0L): Long = {
    val conf = writeConf(schema)
    val builder = new RowWriterBuilder(new Path(path))
      .withConf(conf)
      .withCompressionCodec(
        org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY)
    val writer = (if (rowGroupBytes > 0)
      builder.withRowGroupSize(rowGroupBytes) else builder).build()
    var n = 0L
    try rows.foreach { r => writer.write(r); n += 1 }
    finally writer.close()
    n
  }

  /** An OPEN row writer — the write-as-you-iterate half of the storage
    * plane: streaming tasks route rows to one of these per partition
    * tuple instead of buffering their partition ([[graft.sources
    * .TaskFileWriter]]), so task memory is writer state, never data.
    */
  final class RowFileWriter private[ParquetRows] (path: String, schema: StructType) {
    private val writer = new RowWriterBuilder(new Path(path))
      .withConf(writeConf(schema))
      .withCompressionCodec(
        org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY)
      .build()
    private var n = 0L
    def write(r: InternalRow): Unit = { writer.write(r); n += 1 }
    /** Close and return the row count. */
    def close(): Long = { writer.close(); n }
  }

  def open(path: String, schema: StructType): RowFileWriter =
    new RowFileWriter(path, schema)

  private def readConf(schema: StructType): Configuration =
    cached("r|" + schema.json)(buildReadConf(schema))

  private def buildReadConf(schema: StructType): Configuration = {
    val conf = new Configuration()
    conf.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, schema.json)
    conf.set("spark.sql.caseSensitive", "false")
    conf.set("spark.sql.parquet.binaryAsString", "false")
    conf.set("spark.sql.parquet.int96AsTimestamp", "true")
    conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
    conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    conf
  }

  /** Reader builder bound to an InputFile + ParquetConfiguration — the
    * ONE `ParquetReader.Builder` constructor that does not `new
    * Configuration()` (a full Hadoop default-XML parse, ~6 ms, measured)
    * before `withConf` would throw it away. At gate scale the tiny-file
    * read cost is almost entirely that constructor.
    */
  private final class RowReaderBuilder(
      in: org.apache.parquet.io.InputFile,
      pconf: org.apache.parquet.conf.ParquetConfiguration)
      extends org.apache.parquet.hadoop.ParquetReader.Builder[InternalRow](in, pconf) {
    override protected def getReadSupport()
        : org.apache.parquet.hadoop.api.ReadSupport[InternalRow] =
      new ParquetReadSupport
  }

  /** Stream one file's rows back (each row COPIED — the materializer
    * reuses its buffer). The iterator owns the reader and closes it on
    * exhaustion; call `close()` for early termination (a pushed LIMIT cut).
    */
  final class RowIterator(path: String, schema: StructType)
      extends Iterator[InternalRow] with AutoCloseable {
    private val reader = {
      val c = readConf(schema)
      new RowReaderBuilder(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(new Path(path), c),
        new org.apache.parquet.conf.HadoopParquetConfiguration(c)).build()
    }
    private var nextRow: InternalRow = _
    private var closed = false
    private def advance(): Unit = if (!closed) {
      nextRow = reader.read()
      if (nextRow == null) close()
    }
    // close on a corrupt-file first read — never leak the open stream
    try advance()
    catch { case t: Throwable => close(); throw t }
    override def hasNext: Boolean = nextRow != null
    override def next(): InternalRow = {
      val r = nextRow.copy()
      advance()
      r
    }
    override def close(): Unit = if (!closed) { closed = true; nextRow = null; reader.close() }
  }

  /** Position-aware, parquet-FILTERED streaming read — the distributed
    * DML match pass's shape ([[DistributedDml.evalBatch]]): the pushed
    * predicate translates against the file's own footer schema and goes
    * to parquet-hadoop for ROW-GROUP + page pruning (record-level
    * filtering OFF — [[RowPredicate]] stays the semantic evaluator), and
    * each row carries its ABSOLUTE file position via the parquet row
    * index, so skipped row groups never skew DV/match positions. With no
    * translatable filter this degrades to a full sequential read with
    * counted positions — byte-identical behavior to [[RowIterator]].
    */
  final class PositionedRowIterator private[ParquetRows] (
      path: String, schema: StructType,
      filters: Seq[org.apache.spark.sql.sources.Filter])
      extends Iterator[InternalRow] with AutoCloseable {
    private val reader = {
      val conf = readConf(schema)
      val p = new Path(path)
      ParquetColumnar.pushFooterFilter(conf, p, filters)
      val r = new org.apache.parquet.hadoop.ParquetRecordReader[InternalRow](
        new ParquetReadSupport)
      val len = p.getFileSystem(conf).getFileStatus(p).getLen
      val split = new org.apache.hadoop.mapred.FileSplit(p, 0, len, Array.empty[String])
      val ctx = new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(
        conf, new org.apache.hadoop.mapreduce.TaskAttemptID(
          new org.apache.hadoop.mapreduce.TaskID(
            new org.apache.hadoop.mapreduce.JobID("graft", 1),
            org.apache.hadoop.mapreduce.TaskType.MAP, 0), 0))
      // a truncated/corrupt file must not leak the open input stream —
      // a retried task per attempt would bleed descriptors
      var ok = false
      try { r.initialize(split, ctx); ok = true } finally if (!ok) r.close()
      r
    }
    private var closed = false
    private var nextRow: InternalRow = _
    private var nextPos = -1L
    /** Absolute file position of the row LAST returned by `next()`. */
    var pos: Long = -1L
    private def advance(): Unit = if (!closed) {
      if (reader.nextKeyValue()) {
        nextRow = reader.getCurrentValue
        nextPos = reader.getCurrentRowIndex
      } else { nextRow = null; close() }
    }
    // first advance runs at construction: close on failure, same leak
    // guard as the initialize above
    try advance()
    catch { case t: Throwable => close(); throw t }
    override def hasNext: Boolean = nextRow != null
    override def next(): InternalRow = {
      val r = nextRow.copy() // the materializer reuses its buffer
      pos = nextPos
      advance()
      r
    }
    override def close(): Unit = if (!closed) { closed = true; nextRow = null; reader.close() }
  }

  def positioned(path: String, schema: StructType,
      filters: Seq[org.apache.spark.sql.sources.Filter]): PositionedRowIterator =
    new PositionedRowIterator(path, schema, filters)

  /** Streaming opens issued from DRIVER code (no TaskContext) — the
    * counterpart witness to [[readCalls]]: together they let specs pin
    * that an operation moved ALL its content IO into executor tasks,
    * not merely off the whole-file materialization API.
    */
  val driverIterCalls = new java.util.concurrent.atomic.AtomicLong(0L)

  def iterator(path: String, schema: StructType): RowIterator = {
    if (org.apache.spark.TaskContext.get() == null)
      driverIterCalls.incrementAndGet()
    new RowIterator(path, schema)
  }

  /** Calls to [[read]] — the whole-file DRIVER materialization API.
    * Observable so specs can assert a distributed path (e.g. the
    * file-backed `compact_table` job) never pulls table content through
    * the driver.
    */
  val readCalls = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Materialize a whole file (driver-side content paths: equality-delete
    * probes, sessionless DELETE row evaluation — gate-scale by contract,
    * documented at each call site).
    */
  def read(path: String, schema: StructType): Array[InternalRow] = {
    readCalls.incrementAndGet()
    iterator(path, schema).toArray
  }

  def delete(path: String): Unit = {
    val p = new Path(path)
    val fs = p.getFileSystem(cached("fs")(new Configuration()))
    if (fs.exists(p)) fs.delete(p, true)
    val crc = new Path(p.getParent, "." + p.getName + ".crc")
    if (fs.exists(crc)) fs.delete(crc, false)
  }

  def deleteDir(dir: String): Unit = {
    val p = new Path(dir)
    val fs = p.getFileSystem(cached("fs")(new Configuration()))
    if (fs.exists(p)) fs.delete(p, true)
  }
}

/** One executor-written data file of a parquet-backed mem table — the
  * commit-message manifest entry (the Iceberg `DataFile` shape): where the
  * rows live, how many, which partition tuple they belong to (under
  * `specId`), and the publish-time column bounds. The DRIVER never sees
  * the rows; it commits manifests.
  */
final case class FileManifest(
    path: String, count: Int, part: Seq[Any], specId: Int,
    stats: Map[String, MemTables.ColStats],
    sorted: Boolean = false)
