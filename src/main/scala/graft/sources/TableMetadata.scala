package graft.sources

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.MemTables._

/** The DURABLE half of the graft table format — the analogue of Iceberg's
  * `metadata.json` + merged manifest list: every publish of a table
  * serializes the table's COMPLETE
  * metadata plane — version ledger, schema-era history, refs
  * (tags/branches), partition-spec timeline, per-batch manifests (path,
  * count, partition tuple, column bounds, delete vector), and the
  * change-feed provenance maps — as one JSON document
  * beside the data files, atomically (tmp + rename). The parquet files +
  * `metadata.json` then ARE the table: a process restart (or a
  * `CALL graft.unload_table`) loses nothing, because
  * [[MemTables.get]] recovers the state from disk on the first miss,
  * hash-identical including time travel, CDC windows, and branch stages.
  *
  * Write amplification follows the Iceberg split: each batch's IMMUTABLE
  * half (schema, file pointer, column stats incl. NDV sketch and bloom
  * register, partition tuple) lands once as its own `manifest-*.json`;
  * `metadata.json` holds only the mutable plane (ledger, refs, DVs,
  * manifest pointers), so per-commit metadata cost tracks the mutation,
  * not the table size. Expired batches' manifests become unreferenced
  * files that `remove_orphan_files` sweeps.
  *
  * Every row kill is a delete-vector entry. Documents from earlier
  * versions of this format could carry an `eq-deletes` array (read-time
  * key-based kills); [[load]] refuses one that is non-empty rather than
  * bring its killed rows back.
  *
  * Values inside metadata (column bounds, partition tuples, EXISTS
  * defaults) are INTERNAL Spark values; they travel
  * as self-describing `{"t": tag, "v": value}` nodes so decode needs no
  * schema context and numeric types survive exactly (longs as JSON
  * numbers, floats via their IEEE bit patterns when non-finite).
  */
object TableMetadata {

  val FileName = "metadata.json"
  private val FormatVersion = 2

  /** Delete vectors at or below this many positions stay INLINE in
    * `metadata.json` (a handful of grouped JSON ints — not worth a file);
    * above it they land as a compressed-bitmap SIDECAR file
    * (`dv-<batchId>-<contentHash>.bin`, [[PosBitmap]] format) referenced
    * by name + cardinality — the puffin shape. The metadata plane's size
    * is then INDEPENDENT of deleted-row count: a merge-on-read DELETE of
    * 10⁹ rows costs one bounded file reference per batch, not billions of
    * JSON integers re-serialized on every subsequent commit. The name
    * derives from the DV's content, so an UNCHANGED vector re-uses its
    * file across commits (write-once) and a changed one mints a fresh
    * name, leaving the old file to the orphan sweep like any superseded
    * data file.
    */
  val DvInlineMax = 64

  private val mapper = new ObjectMapper()

  /** A document with a non-empty legacy `eq-deletes` array ([[load]]).
    * Disk recovery rethrows it instead of skipping the directory, so a
    * read fails loudly rather than report the table missing or fall back
    * to an older directory of the same key.
    */
  final class LegacyMetadataException(msg: String) extends IllegalStateException(msg)

  /** Memoized schema-JSON parse: batches overwhelmingly share their schema
    * string (one per era), but each manifest carries its own copy — a
    * 10k-batch recovery would otherwise pay 10k `DataType.fromJson`
    * parses. StructType is immutable, so sharing across tables is safe;
    * the cache is bounded by the number of distinct eras ever loaded.
    */
  private val schemaParseCache =
    scala.collection.concurrent.TrieMap.empty[String, StructType]
  private def schemaOf(json: String): StructType =
    schemaParseCache.getOrElseUpdate(json,
      DataType.fromJson(json).asInstanceOf[StructType])

  // ---------------------------------------------------------------- values

  /** Encode one internal metadata value (stats bound / partition tuple
    * element / default) self-describingly.
    */
  private def valOut(v: Any): JsonNode = v match {
    case null => mapper.nullNode()
    case b: java.lang.Boolean => tag("bool", mapper.getNodeFactory.booleanNode(b))
    case b: java.lang.Byte => tag("i8", mapper.getNodeFactory.numberNode(b.intValue))
    case s: java.lang.Short => tag("i16", mapper.getNodeFactory.numberNode(s.intValue))
    case i: java.lang.Integer => tag("i32", mapper.getNodeFactory.numberNode(i.intValue))
    case l: java.lang.Long => tag("i64", mapper.getNodeFactory.numberNode(l.longValue))
    // floats round-trip through their exact bit pattern (a decimal text
    // form would corrupt NaN/±Inf and can misround across locales)
    case f: java.lang.Float => tag("f32",
      mapper.getNodeFactory.numberNode(java.lang.Float.floatToRawIntBits(f.floatValue)))
    case d: java.lang.Double => tag("f64",
      mapper.getNodeFactory.numberNode(java.lang.Double.doubleToRawLongBits(d.doubleValue)))
    case u: UTF8String => tag("str", mapper.getNodeFactory.textNode(u.toString))
    case s: String => tag("jstr", mapper.getNodeFactory.textNode(s))
    case d: org.apache.spark.sql.types.Decimal =>
      val o = mapper.createObjectNode()
      o.put("t", "dec"); o.put("p", d.precision); o.put("s", d.scale)
      o.put("v", d.toJavaBigDecimal.toPlainString); o
    case b: Array[Byte] => tag("bin",
      mapper.getNodeFactory.textNode(java.util.Base64.getEncoder.encodeToString(b)))
    case other => throw new IllegalStateException(
      s"table metadata cannot serialize value class ${other.getClass.getName}")
  }

  private def tag(t: String, v: JsonNode): ObjectNode = {
    val o = mapper.createObjectNode(); o.put("t", t); o.set[JsonNode]("v", v); o
  }

  private def valIn(n: JsonNode): Any = {
    if (n == null || n.isNull) return null
    n.get("t").asText match {
      case "bool" => java.lang.Boolean.valueOf(n.get("v").asBoolean)
      case "i8" => java.lang.Byte.valueOf(n.get("v").asInt.toByte)
      case "i16" => java.lang.Short.valueOf(n.get("v").asInt.toShort)
      case "i32" => Integer.valueOf(n.get("v").asInt)
      case "i64" => java.lang.Long.valueOf(n.get("v").asLong)
      case "f32" => java.lang.Float.valueOf(
        java.lang.Float.intBitsToFloat(n.get("v").asInt))
      case "f64" => java.lang.Double.valueOf(
        java.lang.Double.longBitsToDouble(n.get("v").asLong))
      case "str" => UTF8String.fromString(n.get("v").asText)
      case "jstr" => n.get("v").asText
      case "dec" => org.apache.spark.sql.types.Decimal(
        new java.math.BigDecimal(n.get("v").asText), n.get("p").asInt, n.get("s").asInt)
      case "bin" => java.util.Base64.getDecoder.decode(n.get("v").asText)
      case other => throw new IllegalStateException(
        s"table metadata: unknown value tag '$other'")
    }
  }

  // ----------------------------------------------------------------- spec

  private def specOut(spec: Seq[PartField]): ArrayNode = {
    val a = mapper.createArrayNode()
    spec.foreach { pf =>
      val o = mapper.createObjectNode()
      pf match {
        case IdentityPart(c) => o.put("kind", "identity"); o.put("col", c)
        case BucketPart(n, c) => o.put("kind", "bucket"); o.put("n", n); o.put("col", c)
        case TimePart(u, c) => o.put("kind", "time"); o.put("unit", u); o.put("col", c)
        case TruncatePart(w, c) => o.put("kind", "truncate"); o.put("w", w); o.put("col", c)
      }
      a.add(o)
    }
    a
  }

  private def specIn(n: JsonNode): Seq[PartField] =
    iter(n).map { o =>
      o.get("kind").asText match {
        case "identity" => IdentityPart(o.get("col").asText)
        case "bucket" => BucketPart(o.get("n").asInt, o.get("col").asText)
        case "time" => TimePart(o.get("unit").asText, o.get("col").asText)
        case "truncate" => TruncatePart(o.get("w").asInt, o.get("col").asText)
        case other => throw new IllegalStateException(
          s"table metadata: unknown partition field kind '$other'")
      }
    }.toSeq

  // -------------------------------------------------------------- batches
  //
  // A batch splits across two planes, exactly like Iceberg:
  //  - the IMMUTABLE manifest (schema, file pointer, column stats with
  //    sketches/blooms, partition tuple, spec id) — written ONCE as its
  //    own `manifest-<hash>.json` and referenced by name thereafter, so
  //    per-commit metadata cost tracks the MUTATION, not the table size
  //    (a 2048-hash exact NDV set alone is ~19 KiB base64; re-writing
  //    every manifest every commit would be O(table) write amplification);
  //  - the MUTABLE slice (version, removedAt, delete vector, batch id)
  //    — inline in metadata.json, rewritten each commit.
  // The manifest name derives from content identity (store path +
  // write-version + spec id), so a rollback restore sharing its
  // original's store shares the manifest file too — identical payload
  // by construction.

  /** The manifest file name a batch resolves to. The orphan sweep uses
    * this to keep every referenced manifest.
    */
  def manifestNameOf(b: TaggedBatch): String =
    manifestName(b.store.path, b.writeVersion, b.specId)

  private def manifestName(path: String, writeVersion: Long, specId: Int): String = {
    val key = s"$path|$writeVersion|$specId"
    val b = key.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val h = org.apache.spark.sql.catalyst.expressions.XXH64
      .hashUnsafeBytes(b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
        b.length, 17L)
    f"manifest-$h%016x.json"
  }

  /** Write one batch's immutable manifest file if absent; returns its name. */
  private def ensureManifest(dir: String, b: TaggedBatch): String = {
    val path = b.store.path
    val name = manifestName(path, b.writeVersion, b.specId)
    MetaIO.writeOnce(dir, name, {
      val o = mapper.createObjectNode()
      o.put("schema", b.schema.json)
      val st = mapper.createObjectNode()
      st.put("kind", "file")
      // relative paths keep the table directory relocatable
      st.put("path",
        if (path.startsWith(dir + "/")) path.substring(dir.length + 1) else path)
      st.put("count", b.store.count)
      st.put("schema", b.store.schema.json)
      o.set[JsonNode]("store", st)
      val stats = mapper.createObjectNode()
      b.stats.foreach { case (col, s) =>
        val c = mapper.createObjectNode()
        c.set[JsonNode]("min", valOut(s.min))
        c.set[JsonNode]("max", valOut(s.max))
        c.put("null-count", s.nullCount)
        c.put("row-count", s.rowCount)
        c.put("ndv", s.ndv)
        s.sketch.foreach(sk => c.put("ndv-sketch",
          java.util.Base64.getEncoder.encodeToString(sk.toBytes)))
        s.bloom.foreach { bl =>
          val bb = java.nio.ByteBuffer.allocate(bl.length * 8)
          bl.foreach(bb.putLong)
          c.put("bloom", java.util.Base64.getEncoder.encodeToString(bb.array()))
        }
        s.sample.foreach { sm =>
          val bb = java.nio.ByteBuffer.allocate(sm.length * 8)
          sm.foreach(bb.putDouble)
          // "sample2", not "sample": string samples moved from the
          // order-preserving prefix image to the full-value hash image —
          // pooling the two spaces would split one real value's mass
          // across incompatible doubles and silently disable the skew
          // gate, so pre-change batches' samples are IGNORED (their
          // columns fall back to exact NDV) until a rewrite re-stamps
          c.put("sample2", java.util.Base64.getEncoder.encodeToString(bb.array()))
        }
        stats.set[JsonNode](col, c)
      }
      o.set[JsonNode]("stats", stats)
      val part = mapper.createArrayNode()
      b.part.foreach(v => part.add(valOut(v)))
      o.set[JsonNode]("part", part)
      o.put("spec-id", b.specId)
      mapper.writeValueAsBytes(o)
    })
    name
  }

  /** The DV sidecar file name a batch's delete vector resolves to — None
    * when the vector is empty or small enough to stay inline. The orphan
    * sweep uses this to keep every referenced sidecar.
    */
  def dvFileNameOf(b: TaggedBatch): Option[String] =
    if (b.dv.size <= DvInlineMax) None else Some(dvFileName(b.batchId, b.dv))

  private def dvFileName(batchId: Long, dv: Map[Int, Long]): String =
    f"dv-$batchId-${PosBitmap.dvContentHash(dv)}%016x.bin"

  /** Branch-stage DV sidecar name (single staged version — encoded as a
    * one-version vector); None below the inline threshold.
    */
  def branchDvFileNameOf(batchId: Long, poss: Set[Int]): Option[String] =
    if (poss.size <= DvInlineMax) None
    else Some(dvFileName(batchId, poss.iterator.map(_ -> 0L).toMap))

  private def dvOut(dir: String, o: ObjectNode, batchId: Long,
      dv: Map[Int, Long]): Unit =
    if (dv.size <= DvInlineMax) {
      // positions grouped by kill version — the compact inline form
      val grouped = mapper.createObjectNode()
      dv.groupBy(_._2).foreach { case (v, entries) =>
        val a = mapper.createArrayNode()
        entries.keysIterator.toArray.sorted.foreach(a.add)
        grouped.set[JsonNode](v.toString, a)
      }
      o.set[JsonNode]("dv", grouped)
      ()
    } else {
      val name = dvFileName(batchId, dv)
      MetaIO.writeOnce(dir, name, PosBitmap.dvToBytes(dv))
      o.put("dv-file", name)
      o.put("dv-count", dv.size)
      ()
    }

  private def dvIn(dir: String, n: JsonNode): Map[Int, Long] =
    Option(n.get("dv-file")) match {
      case Some(f) => PosBitmap.dvFromBytes(MetaIO.readBytes(dir, f.asText))
      case None => Option(n.get("dv")).map { d =>
        fields(d).flatMap { case (v, poss) =>
          iter(poss).map(p => p.asInt -> v.toLong)
        }.toMap
      }.getOrElse(Map.empty[Int, Long])
    }

  private def batchOut(dir: String, b: TaggedBatch): ObjectNode = {
    val o = mapper.createObjectNode()
    o.put("manifest", ensureManifest(dir, b))
    o.put("version", b.version)
    o.put("write-version", b.writeVersion)
    o.put("removed-at", b.removedAt)
    o.put("batch-id", b.batchId)
    if (b.dv.nonEmpty) dvOut(dir, o, b.batchId, b.dv)
    o
  }

  // manifests are immutable and shared (rollback restores): parse each
  // file once per load
  private def batchIn(dir: String,
      manifests: scala.collection.mutable.Map[String, JsonNode])(
      n: JsonNode): TaggedBatch = {
    val mName = n.get("manifest").asText
    val m = manifests.getOrElseUpdate(mName,
      mapper.readTree(MetaIO.readBytes(dir, mName)))
    val s = m.get("store")
    val rawPath = s.get("path").asText
    val path = if (rawPath.startsWith("/")) rawPath else s"$dir/$rawPath"
    val store = FileStore(path, s.get("count").asInt,
      schemaOf(s.get("schema").asText))
    val dv = dvIn(dir, n)
    val stats = fields(m.get("stats")).map { case (col, c) =>
      col -> ColStats(valIn(c.get("min")), valIn(c.get("max")),
        c.get("null-count").asLong, c.get("row-count").asLong, c.get("ndv").asLong,
        Option(c.get("ndv-sketch")).map(sk =>
          NdvSketch.fromBytes(java.util.Base64.getDecoder.decode(sk.asText))),
        Option(c.get("bloom")).map { bl =>
          val bb = java.nio.ByteBuffer.wrap(
            java.util.Base64.getDecoder.decode(bl.asText))
          Array.fill(bb.remaining() / 8)(bb.getLong)
        },
        // legacy "sample" (prefix-image space) is deliberately not read
        Option(c.get("sample2")).map { sm =>
          val bb = java.nio.ByteBuffer.wrap(
            java.util.Base64.getDecoder.decode(sm.asText))
          Array.fill(bb.remaining() / 8)(bb.getDouble)
        })
    }.toMap
    TaggedBatch(
      schemaOf(m.get("schema").asText),
      n.get("version").asLong, n.get("write-version").asLong, store,
      n.get("removed-at").asLong, dv, n.get("batch-id").asLong, stats,
      iter(m.get("part")).map(valIn).toSeq, m.get("spec-id").asInt)
  }

  // ---------------------------------------------------------------- state

  /** Serialize the complete metadata plane and atomically replace
    * `<dir>/metadata.json`. Caller holds the state's monitor.
    */
  def write(st: State): Unit = {
    val dir = st.storageDir
    val root = mapper.createObjectNode()
    // the CAS generation — FIRST field by contract ([[MetaIO.commitCas]]
    // verifies it with a header read, not a full parse)
    root.put("commit-gen", st.durableGen + 1)
    root.put("format-version", FormatVersion)
    root.put("key", st.tableKey)
    root.put("table-uuid", st.tableUuid)
    root.put("delete-mode", st.deleteMode)
    val props = mapper.createObjectNode()
    st.createProps.foreach { case (k, v) => props.put(k, v) }
    root.set[JsonNode]("create-props", props)
    root.put("schema", st.schema.json)
    val specs = mapper.createArrayNode()
    st.specHistory.foreach(s => specs.add(specOut(s)))
    root.set[JsonNode]("spec-history", specs)
    root.put("version", st.version)
    root.put("earliest-version", st.earliestVersion)
    root.put("next-batch-id", st.nextBatchId)
    val dropped = mapper.createObjectNode()
    st.droppedAt.foreach { case (k, v) => dropped.put(k, v) }
    root.set[JsonNode]("dropped-at", dropped)
    root.set[JsonNode]("column-defaults", defaultsOut(st.columnDefaults))
    root.set[JsonNode]("eras", erasOut(st.eras))
    val hist = mapper.createArrayNode()
    st.history.foreach { h =>
      val o = mapper.createObjectNode()
      o.put("version", h.version)
      o.put("schema", h.schema.json)
      val d = mapper.createObjectNode()
      h.droppedAt.foreach { case (k, v) => d.put(k, v) }
      o.set[JsonNode]("dropped-at", d)
      o.set[JsonNode]("eras", erasOut(h.eras))
      o.set[JsonNode]("defaults", defaultsOut(h.defaults))
      hist.add(o)
    }
    root.set[JsonNode]("history", hist)
    val times = mapper.createArrayNode()
    st.versionTimes.foreach { case (v, t) =>
      val a = mapper.createArrayNode(); a.add(v); a.add(t); times.add(a)
    }
    root.set[JsonNode]("version-times", times)
    val epochs = mapper.createObjectNode()
    st.committedEpochs.foreach { case (q, es) =>
      val a = mapper.createArrayNode(); es.toSeq.sorted.foreach(a.add); epochs.set[JsonNode](q, a)
    }
    root.set[JsonNode]("committed-epochs", epochs)
    val compactions = mapper.createArrayNode()
    st.compactionVersions.toSeq.sorted.foreach(compactions.add)
    root.set[JsonNode]("compaction-versions", compactions)
    val ops = mapper.createObjectNode()
    st.opKinds.foreach { case (v, k) => ops.put(v.toString, k) }
    root.set[JsonNode]("op-kinds", ops)
    val tags = mapper.createObjectNode()
    st.tags.foreach { case (t, v) => tags.put(t, v) }
    root.set[JsonNode]("tags", tags)
    val sortedBy = mapper.createArrayNode()
    st.sortedBy.foreach(sortedBy.add)
    root.set[JsonNode]("sorted-by", sortedBy)
    root.put("sorted-since", st.sortedSince)
    val updatedAt = mapper.createObjectNode()
    st.updatedAt.foreach { case (v, ids) =>
      val a = mapper.createArrayNode()
      ids.foreach { case (bid, pos) =>
        val p = mapper.createArrayNode(); p.add(bid); p.add(pos); a.add(p)
      }
      updatedAt.set[JsonNode](v.toString, a)
    }
    root.set[JsonNode]("updated-at", updatedAt)
    val postBatches = mapper.createArrayNode()
    st.updatePostBatches.toSeq.sorted.foreach(postBatches.add)
    root.set[JsonNode]("update-post-batches", postBatches)
    val batches = mapper.createArrayNode()
    st.batches.foreach(b => batches.add(batchOut(dir, b)))
    root.set[JsonNode]("batches", batches)
    val branches = mapper.createObjectNode()
    st.branches.foreach { case (name, bs) =>
      val o = mapper.createObjectNode()
      o.put("base", bs.base)
      val appends = mapper.createArrayNode()
      bs.appends.foreach { staged =>
        val a = mapper.createArrayNode()
        staged.foreach(b => a.add(batchOut(dir, b)))
        appends.add(a)
      }
      o.set[JsonNode]("appends", appends)
      val dvs = mapper.createObjectNode()
      bs.dvs.foreach { case (bid, poss) =>
        branchDvFileNameOf(bid, poss) match {
          case Some(name) => // sidecar: bounded reference, not positions
            MetaIO.writeOnce(dir, name,
              PosBitmap.dvToBytes(poss.iterator.map(_ -> 0L).toMap))
            val ref = mapper.createObjectNode()
            ref.put("dv-file", name); ref.put("dv-count", poss.size)
            dvs.set[JsonNode](bid.toString, ref)
          case None =>
            val a = mapper.createArrayNode(); poss.toSeq.sorted.foreach(a.add)
            dvs.set[JsonNode](bid.toString, a)
        }
      }
      o.set[JsonNode]("dvs", dvs)
      branches.set[JsonNode](name, o)
    }
    root.set[JsonNode]("branches", branches)

    // atomic COMPARE-AND-SWAP publish — lock-bracketed tmp+rename
    // locally, write-once snapshot + pointer swap on object stores
    // ([[MetaIO.commitCas]]): a reader (or a crash) never observes a torn
    // plane on any scheme, and a commit racing ANOTHER PROCESS over the
    // same warehouse loses loudly instead of silently overwriting it
    // `committing` brackets the publish→advance window so the freshness
    // probe never mistakes OUR in-flight commit for foreign movement:
    // the probe reads the durable gen FIRST, then this flag — if it saw
    // our new gen, the flag write (program-order before the CAS) is
    // visible too, and the probe keeps serving
    st.committing = true
    try {
      MetaIO.commitCas(dir, FileName, mapper.writeValueAsBytes(root),
        st.durableGen)
      st.durableGen += 1
    } finally st.committing = false
  }

  private def defaultsOut(defaults: Map[String, (Long, Any)]): ObjectNode = {
    val o = mapper.createObjectNode()
    defaults.foreach { case (col, (at, v)) =>
      val d = mapper.createObjectNode()
      d.put("added-at", at); d.set[JsonNode]("value", valOut(v))
      o.set[JsonNode](col, d)
    }
    o
  }

  private def defaultsIn(n: JsonNode): Map[String, (Long, Any)] =
    fields(n).map { case (col, d) =>
      col -> (d.get("added-at").asLong, valIn(d.get("value")))
    }.toMap

  private def erasOut(eras: Map[String, Vector[(Long, String)]]): ObjectNode = {
    val o = mapper.createObjectNode()
    eras.foreach { case (col, timeline) =>
      val a = mapper.createArrayNode()
      timeline.foreach { case (v, name) =>
        val e = mapper.createArrayNode(); e.add(v); e.add(name); a.add(e)
      }
      o.set[JsonNode](col, a)
    }
    o
  }

  private def erasIn(n: JsonNode): Map[String, Vector[(Long, String)]] =
    fields(n).map { case (col, a) =>
      col -> iter(a).map(e => (e.get(0).asLong, e.get(1).asText)).toVector
    }.toMap

  /** Read ONLY the table key (+ format check) of `<dir>/metadata.json` —
    * the cheap identity probe disk recovery uses to find the right
    * directory without deserializing foreign tables' manifests.
    */
  def peekKey(dir: String): Option[String] = {
    val bytes = MetaIO.readCurrent(dir, FileName).getOrElse(return None)
    peekKeyBytes(bytes)
  }

  /** [[peekKey]] via the DIRECT file protocol — the catalog service's own
    * key resolution (the service end must never re-enter a configured
    * client: a nested HTTP hop per listed table could exhaust the
    * handler pool).
    */
  private[sources] def peekKeyLocal(dir: String): Option[String] = {
    val bytes = MetaIO.localReadCurrent(dir, FileName).getOrElse(return None)
    peekKeyBytes(bytes)
  }

  private def peekKeyBytes(bytes: Array[Byte]): Option[String] = {
    val root = mapper.readTree(bytes)
    if (root.get("format-version").asInt != FormatVersion) None
    else Option(root.get("key")).map(_.asText)
  }

  /** Parse `<dir>/metadata.json` back into a registrable [[State]];
    * None if the directory carries no (readable) metadata document.
    */
  def load(dir: String): Option[(String, State)] = {
    val bytes = MetaIO.readCurrent(dir, FileName).getOrElse(return None)
    val root = mapper.readTree(bytes)
    val fv = root.get("format-version").asInt
    if (fv != FormatVersion)
      throw new IllegalStateException(
        s"table metadata at $dir has format-version $fv; this engine reads $FormatVersion")
    val key = root.get("key").asText
    // a legacy read-time equality-delete record has no reader any more:
    // loading it would silently bring the rows it killed back
    if (iter(root.get("eq-deletes")).nonEmpty)
      throw new LegacyMetadataException(
        s"table $key (metadata at $dir) carries equality deletes, which this " +
          "engine no longer applies; it cannot be loaded without resurrecting " +
          "the rows they killed")
    val schema = schemaOf(root.get("schema").asText)
    val createProps = fields(root.get("create-props"))
      .map { case (k, v) => k -> v.asText }.toMap
    val specHistory = iter(root.get("spec-history")).map(specIn).toVector
    val st = new State(schema, root.get("delete-mode").asText, createProps,
      specHistory.head, dir, key)
    st.specHistory = specHistory
    st.schema = schema
    // identity: persisted uuid, or (pre-uuid metadata) the storage dir's
    // name — both stable across recoveries of the SAME table
    st.tableUuid = Option(root.get("table-uuid")).map(_.asText)
      .getOrElse(new java.io.File(dir).getName)
    // the generation this state was LOADED AT: the next commit CASes
    // against exactly this, so a foreign commit after this load conflicts.
    // A legacy doc (no commit-gen) on a pointer-swap scheme must expect
    // the CURRENT pointer sequence, not 0 — else every commit conflicts
    // against the legacy snapshot's sequence and the table wedges
    st.durableGen = Option(root.get("commit-gen")).map(_.asLong)
      .getOrElse(MetaIO.legacyGen(dir, FileName))
    st.version = root.get("version").asLong
    st.earliestVersion = root.get("earliest-version").asLong
    st.nextBatchId = root.get("next-batch-id").asLong
    st.droppedAt = fields(root.get("dropped-at")).map { case (k, v) => k -> v.asLong }.toMap
    st.columnDefaults = defaultsIn(root.get("column-defaults"))
    st.eras = erasIn(root.get("eras"))
    st.history = iter(root.get("history")).map { h =>
      SchemaAt(h.get("version").asLong,
        schemaOf(h.get("schema").asText),
        fields(h.get("dropped-at")).map { case (k, v) => k -> v.asLong }.toMap,
        erasIn(h.get("eras")), defaultsIn(h.get("defaults")))
    }.toVector
    st.versionTimes = iter(root.get("version-times"))
      .map(a => (a.get(0).asLong, a.get(1).asLong)).toVector
    st.committedEpochs = fields(root.get("committed-epochs"))
      .map { case (q, a) => q -> iter(a).map(_.asLong).toSet }.toMap
    st.compactionVersions = iter(root.get("compaction-versions")).map(_.asLong).toSet
    st.opKinds = fields(root.get("op-kinds")).map { case (v, k) => v.toLong -> k.asText }.toMap
    st.tags = fields(root.get("tags")).map { case (t, v) => t -> v.asLong }.toMap
    st.sortedBy = iter(root.get("sorted-by")).map(_.asText).toSeq
    st.sortedSince = root.get("sorted-since").asLong
    st.updatedAt = fields(root.get("updated-at")).map { case (v, a) =>
      v.toLong -> iter(a).map(p => (p.get(0).asLong, p.get(1).asInt)).toSet
    }.toMap
    st.updatePostBatches = iter(root.get("update-post-batches")).map(_.asLong).toSet
    val manifestCache = scala.collection.mutable.Map.empty[String, JsonNode]
    st.batches = iter(root.get("batches")).map(batchIn(dir, manifestCache)).toVector
    st.branches = fields(root.get("branches")).map { case (name, b) =>
      name -> BranchState(b.get("base").asLong,
        iter(b.get("appends"))
          .map(a => iter(a).map(batchIn(dir, manifestCache)).toVector).toVector,
        fields(b.get("dvs")).map { case (bid, poss) =>
          bid.toLong -> (if (poss.isArray) iter(poss).map(_.asInt).toSet
            else PosBitmap.dvFromBytes(
              MetaIO.readBytes(dir, poss.get("dv-file").asText)).keySet)
        }.toMap)
    }.toMap
    Some((key, st))
  }

  private def iter(n: JsonNode): Iterator[JsonNode] = {
    import scala.jdk.CollectionConverters._
    if (n == null) Iterator.empty else n.elements().asScala
  }

  private def fields(n: JsonNode): Iterator[(String, JsonNode)] = {
    import scala.jdk.CollectionConverters._
    if (n == null) Iterator.empty
    else n.properties().asScala.iterator.map(e => (e.getKey, e.getValue))
  }
}
