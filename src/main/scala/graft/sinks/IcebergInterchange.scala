package graft.sinks

import graft.core.TableSchema
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.avro.Schema
import org.apache.avro.file.{DataFileReader, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** Apache Iceberg (format-version 2) table interchange — the second
  * ecosystem wire format next to [[DeltaInterchange]] (the reference ships
  * an Iceberg pipeline connector:
  * flink-cdc-connect/flink-cdc-pipeline-connectors/flink-cdc-pipeline-connector-iceberg/).
  * Everything here follows the public Iceberg Table Spec: JSON table
  * metadata under `metadata/vN.metadata.json` + `version-hint.text`
  * (HadoopCatalog discovery), an Avro manifest LIST per snapshot
  * (`manifest_file` records, spec field-ids 500–517), and Avro manifest
  * files (`manifest_entry`/`data_file` records, field-ids 0–4/100–134)
  * pointing at plain parquet data files.
  *
  *  - [[export]]: the [[mirror]]'s first commit, written into an empty
  *    directory: one snapshot, one manifest of ADDED entries (split files
  *    under an identity spec for a partitioned table), which a later
  *    [[mirror]] call continues. Data files carry no parquet field-ids,
  *    so the metadata
  *    carries `schema.name-mapping.default` — the spec's sanctioned
  *    name-based fallback readers apply to id-less files.
  *  - [[importIceberg]] / [[readTable]]: replay the latest metadata
  *    version → current snapshot → manifest list → manifests into a
  *    DataFrame, applying BOTH v2 delete flavors by their sequence rules
  *    (equality deletes mask data sequence < S; position deletes mask the
  *    named (file, row-offset) pairs at data sequence <= S, resolved via
  *    Spark's parquet `_metadata.row_index`). IDENTITY-partitioned specs
  *    are supported: per-file partition values from the manifests project
  *    back as constant columns (the spec's Column Projection rule), so
  *    files that do not store the partition column — [[exportPartitioned]]
  *    output, Hive-migrated tables — read correctly. NON-identity
  *    transforms (bucket/truncate/year/month/day/hour/void) import
  *    without projection: the spec stores the SOURCE column in the data
  *    files for derived partition fields, so the derived tuple is pruning
  *    metadata only (export stays identity-only). Unsupported features
  *    fail LOUDLY instead of reading wrong data: non-parquet data files,
  *    unknown partition transforms, format-version > 3 (v3 reads when its
  *    only v3 feature is Puffin deletion vectors; v1 tables READ —
  *    missing manifest fields default to the spec's v1 semantics, legacy
  *    single-`schema`/flat-`partition-spec` metadata accepted; writes
  *    stay v2).
  *  - [[mirror]]: continuous mirroring, ONE Iceberg snapshot per
  *    lakehouse commit. Adds go into one new manifest; removes rewrite
  *    ONLY the manifests that contain the removed files (kept entries
  *    become EXISTING with their original data sequence numbers, removed
  *    entries become DELETED — the spec's overwrite shape); untouched
  *    manifests are carried forward by reference. Cost per call is
  *    O(new commits + changed manifests), never O(table). Progress rides
  *    in the snapshot summary (`graft-lakehouse-version`) and a table
  *    property, so a restarted mirror resumes with no side-channel state.
  *
  * Snapshot ids derive from lakehouse commit versions and timestamps are
  * fixed at 0, so re-runs are deterministic at the metadata level (Avro
  * containers embed a random sync marker, so the BYTES are not — the
  * round-trip gates hash query results, not files).
  */
object IcebergInterchange {

  private val mapper = new ObjectMapper()

  private val Existing = 0
  private val Added = 1
  private val Deleted = 2

  // ---------------------------------------------------------------- schemas

  /** Avro schema of one manifest-list row (spec: manifest_file, v2). */
  private[sinks] val manifestFileSchema: Schema = new Schema.Parser().parse(
    """{"type":"record","name":"manifest_file","fields":[
      |{"name":"manifest_path","type":"string","field-id":500},
      |{"name":"manifest_length","type":"long","field-id":501},
      |{"name":"partition_spec_id","type":"int","field-id":502},
      |{"name":"content","type":"int","field-id":517},
      |{"name":"sequence_number","type":"long","field-id":515},
      |{"name":"min_sequence_number","type":"long","field-id":516},
      |{"name":"added_snapshot_id","type":"long","field-id":503},
      |{"name":"added_files_count","type":"int","field-id":504},
      |{"name":"existing_files_count","type":"int","field-id":505},
      |{"name":"deleted_files_count","type":"int","field-id":506},
      |{"name":"added_rows_count","type":"long","field-id":512},
      |{"name":"existing_rows_count","type":"long","field-id":513},
      |{"name":"deleted_rows_count","type":"long","field-id":514}
      |]}""".stripMargin)

  /** Avro schema of one manifest row (spec: manifest_entry over data_file,
    * v2; the stats maps are optional in the spec and omitted — data
    * skipping comes from the name-mapped parquet footers on the read
    * side). `partition` is the empty record of the unpartitioned spec;
    * `equality_ids` (field-id 135) carries the equality columns of
    * content=2 EQUALITY_DELETES files, null for data files. */
  private def manifestEntrySchemaJson(partFieldsJson: String): String =
    s"""{"type":"record","name":"manifest_entry","fields":[
      |{"name":"status","type":"int","field-id":0},
      |{"name":"snapshot_id","type":["null","long"],"default":null,"field-id":1},
      |{"name":"sequence_number","type":["null","long"],"default":null,"field-id":3},
      |{"name":"file_sequence_number","type":["null","long"],"default":null,"field-id":4},
      |{"name":"data_file","field-id":2,"type":{"type":"record","name":"r2","fields":[
      |  {"name":"content","type":"int","field-id":134},
      |  {"name":"file_path","type":"string","field-id":100},
      |  {"name":"file_format","type":"string","field-id":101},
      |  {"name":"partition","field-id":102,"type":{"type":"record","name":"r102","fields":[$partFieldsJson]}},
      |  {"name":"record_count","type":"long","field-id":103},
      |  {"name":"file_size_in_bytes","type":"long","field-id":104},
      |  {"name":"lower_bounds","type":["null",{"type":"array","logicalType":"map","items":{"type":"record","name":"k126_v127","fields":[{"name":"key","type":"int","field-id":126},{"name":"value","type":"bytes","field-id":127}]}}],"default":null,"field-id":125},
      |  {"name":"upper_bounds","type":["null",{"type":"array","logicalType":"map","items":{"type":"record","name":"k129_v130","fields":[{"name":"key","type":"int","field-id":129},{"name":"value","type":"bytes","field-id":130}]}}],"default":null,"field-id":128},
      |  {"name":"equality_ids","type":["null",{"type":"array","items":"int","element-id":136}],"default":null,"field-id":135},
      |  {"name":"referenced_data_file","type":["null","string"],"default":null,"field-id":143},
      |  {"name":"content_offset","type":["null","long"],"default":null,"field-id":144},
      |  {"name":"content_size_in_bytes","type":["null","long"],"default":null,"field-id":145}
      |]}}
      |]}""".stripMargin

  private[sinks] val manifestEntrySchema: Schema =
    new Schema.Parser().parse(manifestEntrySchemaJson(""))

  /** The manifest-entry schema for an identity-partitioned table: the
    * partition record carries one optional field per spec field, with
    * spec partition field-ids (1000, 1001, …). */
  private[sinks] def manifestEntrySchemaFor(
      parts: Seq[(String, DataType)]): Schema = {
    val fields = parts.zipWithIndex.map { case ((n, dt), i) =>
      val t = dt match {
        case ByteType | ShortType | IntegerType => "\"int\""
        case LongType => "\"long\""
        case StringType => "\"string\""
        case BooleanType => "\"boolean\""
        case other => throw new IllegalArgumentException(
          s"partition column '$n': type $other has no Iceberg partition " +
            "serialization here — refusing")
      }
      s"""{"name":"$n","type":["null",$t],"default":null,"field-id":${1000 + i}}"""
    }.mkString(",")
    new Schema.Parser().parse(manifestEntrySchemaJson(fields))
  }

  /** Iceberg single-value serialization (spec Appendix D) for the bound
    * types the zone maps cover; None for types whose bounds are omitted
    * (bounds are optional per column). Integers are little-endian;
    * strings are raw UTF-8. */
  private def boundBytes(v: String, dt: DataType): Option[Array[Byte]] = {
    import java.nio.{ByteBuffer, ByteOrder}
    def le(n: Int) = ByteBuffer.allocate(n).order(ByteOrder.LITTLE_ENDIAN)
    scala.util.Try(dt match {
      case ByteType | ShortType | IntegerType =>
        Some(le(4).putInt(v.toInt).array())
      case LongType => Some(le(8).putLong(v.toLong).array())
      case FloatType => Some(le(4).putFloat(v.toFloat).array())
      case DoubleType => Some(le(8).putDouble(v.toDouble).array())
      case BooleanType => Some(Array[Byte](if (v.toBoolean) 1 else 0))
      case StringType => Some(v.getBytes(UTF_8))
      case _ => None
    }).toOption.flatten // an unparseable zone-map rendering just omits bounds
  }

  /** field-id → (lower, upper) byte bounds from a lakehouse zone map. */
  private def boundsOf(stats: Map[String, LakehouseFormat.ColStats],
      struct: StructType): Map[Int, (Array[Byte], Array[Byte])] =
    stats.flatMap { case (name, cs) =>
      val i = struct.fieldNames.indexOf(name)
      if (i < 0) None
      else for {
        lo <- boundBytes(cs.min, struct.fields(i).dataType)
        hi <- boundBytes(cs.max, struct.fields(i).dataType)
      } yield (i + 1) -> (lo, hi)
    }

  /** Spark → Iceberg type JSON (primitives as JSON strings, lists as
    * objects with element ids). `nextId` allocates nested field ids
    * depth-first, the spec's assignment order. */
  private def icebergType(dt: DataType, nextId: () => Int, node: ObjectNode,
      fieldName: String): Any = dt match {
    case BooleanType => "boolean"
    case ByteType | ShortType | IntegerType => "int"
    case LongType => "long"
    case FloatType => "float"
    case DoubleType => "double"
    case StringType => "string"
    case BinaryType => "binary"
    case DateType => "date"
    case TimestampType => "timestamptz"
    case TimestampNTZType => "timestamp"
    case d: DecimalType => s"decimal(${d.precision}, ${d.scale})"
    case ArrayType(el, containsNull) =>
      val o = mapper.createObjectNode()
      o.put("type", "list")
      o.put("element-id", nextId())
      icebergType(el, nextId, o, "element") match {
        case s: String => o.put("element", s)
        case n: JsonNode => o.set[JsonNode]("element", n)
      }
      o.put("element-required", !containsNull)
      o
    case other =>
      throw new IllegalArgumentException(
        s"column '$fieldName': Spark type $other has no Iceberg interchange " +
          "mapping here (struct/map columns are not exported) — refusing " +
          "rather than writing metadata readers cannot resolve")
  }

  /** The Iceberg schema JSON (`{"type":"struct","schema-id":N,...}`) plus
    * the last allocated column id. */
  private def icebergSchema(struct: StructType, schemaId: Int): (ObjectNode, Int) = {
    var id = 0
    val nextId = () => { id += 1; id }
    val root = mapper.createObjectNode()
    root.put("type", "struct")
    root.put("schema-id", schemaId)
    val fields = root.putArray("fields")
    // top-level fields take the first ids in order (so flat tables get
    // 1..n and the name mapping is stable); nested ids follow
    val topIds = struct.fields.map(_ => nextId())
    struct.fields.zip(topIds).foreach { case (f, fid) =>
      val fn = fields.addObject()
      fn.put("id", fid)
      fn.put("name", f.name)
      fn.put("required", !f.nullable)
      icebergType(f.dataType, nextId, fn, f.name) match {
        case s: String => fn.put("type", s)
        case n: JsonNode => fn.set[JsonNode]("type", n)
      }
    }
    (root, id)
  }

  /** Evolve the previous Iceberg schema node under append-only evolution,
    * keeping every existing field id STABLE — including nested element-ids
    * (the spec's id-stability rule): common-prefix fields carry their
    * previous ids verbatim (primitive promotion and requiredness changes
    * rewrite the type in place without touching ids); appended fields
    * allocate fresh ids after `lastColumnId`, so no id is ever reused. A
    * drop or reorder refuses loudly — the lakehouse's own evolution is
    * append-only, so hitting that means the mirror is out of sync. */
  private def extendIcebergSchema(prev: ObjectNode, struct: StructType,
      schemaId: Int, lastColumnId: Int, lakehouseVersion: Long): (ObjectNode, Int) = {
    val prevFields = prev.get("fields").elements().asScala
      .map(_.deepCopy[ObjectNode]()).toVector
    require(struct.fields.length >= prevFields.size &&
      prevFields.zip(struct.fields).forall { case (pn, sf) =>
        pn.get("name").asText() == sf.name },
      s"lakehouse version $lakehouseVersion drops or reorders columns: " +
        "field ids cannot survive that — refusing rather than " +
        "re-identifying columns under readers")
    var id = lastColumnId
    val nextId = () => { id += 1; id }
    val root = mapper.createObjectNode()
    root.put("type", "struct")
    root.put("schema-id", schemaId)
    val fields = root.putArray("fields")
    prevFields.zip(struct.fields).foreach { case (pn, sf) =>
      pn.put("required", !sf.nullable)
      (sf.dataType, pn.get("type").isObject) match {
        case (ArrayType(el, containsNull), true) =>
          // keep the existing element-id; only the element type/required
          // flag may change (primitive promotion)
          val tn = pn.get("type").asInstanceOf[ObjectNode]
          icebergType(el, nextId, tn, sf.name) match {
            case s: String => tn.put("element", s)
            case _ => throw new IllegalArgumentException(
              s"column '${sf.name}': nested non-primitive list elements " +
                "are not supported by this mirror")
          }
          tn.put("element-required", !containsNull)
        case (dt, false) if !dt.isInstanceOf[ArrayType] =>
          icebergType(dt, nextId, pn, sf.name) match {
            case s: String => pn.put("type", s)
            case _ => throw new IllegalArgumentException(
              s"column '${sf.name}': cannot evolve a primitive column " +
                "into a nested type under stable field ids")
          }
        case _ => throw new IllegalArgumentException(
          s"column '${sf.name}': evolution between nested and primitive " +
            "shapes has no id-stable mapping — refusing")
      }
      fields.add(pn)
    }
    struct.fields.drop(prevFields.size).foreach { sf =>
      val fn = fields.addObject()
      fn.put("id", nextId())
      fn.put("name", sf.name)
      fn.put("required", !sf.nullable)
      icebergType(sf.dataType, nextId, fn, sf.name) match {
        case s: String => fn.put("type", s)
        case n: JsonNode => fn.set[JsonNode]("type", n)
      }
    }
    (root, id)
  }

  /** `schema.name-mapping.default`: maps names → field ids so readers can
    * resolve the id-less parquet files this sandbox writes (the spec's
    * fallback for imported files). */
  private def nameMapping(schemaNode: ObjectNode): String = {
    val arr = mapper.createArrayNode()
    schemaNode.get("fields").elements().asScala.foreach { f =>
      val e = arr.addObject()
      e.put("field-id", f.get("id").asInt())
      e.putArray("names").add(f.get("name").asText())
      val t = f.get("type")
      if (t.isObject && t.get("type").asText() == "list") {
        val el = e.putArray("fields").addObject()
        el.put("field-id", t.get("element-id").asInt())
        el.putArray("names").add("element")
      }
    }
    mapper.writeValueAsString(arr)
  }

  /** Iceberg type JSON → Spark. */
  private def sparkType(t: JsonNode): DataType =
    if (t.isTextual) t.asText() match {
      case "boolean" => BooleanType
      case "int" => IntegerType
      case "long" => LongType
      case "float" => FloatType
      case "double" => DoubleType
      case "string" => StringType
      case "binary" => BinaryType
      case "date" => DateType
      case "timestamptz" => TimestampType
      case "timestamp" => TimestampNTZType
      case s if s.startsWith("decimal") =>
        val m = "decimal\\((\\d+),\\s*(\\d+)\\)".r.findFirstMatchIn(s).getOrElse(
          throw new IllegalArgumentException(s"malformed decimal type '$s'"))
        DecimalType(m.group(1).toInt, m.group(2).toInt)
      case other =>
        throw new IllegalArgumentException(
          s"Iceberg type '$other' is not supported by this importer — " +
            "refusing rather than mis-reading the column")
    } else t.get("type").asText() match {
      case "list" =>
        ArrayType(sparkType(t.get("element")), !t.get("element-required").asBoolean())
      case other =>
        throw new IllegalArgumentException(
          s"Iceberg nested type '$other' is not supported by this importer")
    }

  private def sparkStruct(schemaNode: JsonNode): StructType =
    StructType(schemaNode.get("fields").elements().asScala.map { f =>
      StructField(f.get("name").asText(), sparkType(f.get("type")),
        nullable = !f.get("required").asBoolean())
    }.toSeq)

  // ----------------------------------------------------------- avro helpers

  private[graft] def writeAvro(path: Path, schema: Schema, meta: Map[String, String],
      rows: Seq[GenericRecord]): Unit = {
    val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](schema))
    meta.toSeq.sortBy(_._1).foreach { case (k, v) => w.setMeta(k, v) }
    w.create(schema, path.toFile)
    try rows.foreach(w.append) finally w.close()
  }

  private[sinks] def readAvro(path: Path): Seq[GenericRecord] = {
    val r = new DataFileReader[GenericRecord](path.toFile,
      new GenericDatumReader[GenericRecord]())
    try r.iterator().asScala.toVector finally r.close()
  }

  private def str(r: GenericRecord, f: String): String = r.get(f).toString
  private def int(r: GenericRecord, f: String): Int =
    r.get(f).asInstanceOf[Number].intValue()
  private def long(r: GenericRecord, f: String): Long =
    r.get(f).asInstanceOf[Number].longValue()
  // v1 Avro files lack the v2-only fields entirely (Record.get throws on
  // unknown names); reads default to the spec's v1 semantics instead
  private def intOr(r: GenericRecord, f: String, default: Int): Int =
    if (r.getSchema.getField(f) == null) default
    else Option(r.get(f)).map(_.asInstanceOf[Number].intValue()).getOrElse(default)
  private def longOr(r: GenericRecord, f: String, default: Long): Long =
    if (r.getSchema.getField(f) == null) default
    else Option(r.get(f)).map(_.asInstanceOf[Number].longValue()).getOrElse(default)

  // ----------------------------------------------------------------- model

  /** One live-or-deleted manifest entry as tracked across mirror calls.
    * `content` 0 = data, 2 = equality deletes (spec data_file.content);
    * `equalityIds` is non-empty only for content=2. */
  private[sinks] final case class Entry(status: Int, snapshotId: Long, seq: Long,
      filePath: String, rows: Long, size: Long,
      content: Int = 0, equalityIds: Seq[Int] = Nil,
      bounds: Map[Int, (Array[Byte], Array[Byte])] = Map.empty,
      // spec-field-name -> value from the manifest's partition struct
      // (empty for unpartitioned tables)
      partition: Map[String, Any] = Map.empty,
      // v3 deletion-vector fields (spec field-ids 143/144/145): the ONE
      // data file this DV masks, and the blob's [offset, size) in the
      // Puffin file at filePath
      referencedDataFile: Option[String] = None,
      contentOffset: Option[Long] = None,
      contentSize: Option[Long] = None)

  /** `content` 0 = data manifest, 1 = delete manifest (spec manifest_file
    * content); `specId` the manifest's partition-spec id (0 = the table's
    * default; partitioned mirrors park their equality-delete manifests on
    * the secondary UNPARTITIONED spec). */
  private[sinks] final case class ManifestInfo(path: Path, length: Long, seq: Long,
      minSeq: Long, addedSnapshotId: Long, entries: Seq[Entry],
      content: Int = 0, specId: Int = 0) {
    def live: Seq[Entry] = entries.filter(_.status != Deleted)
  }

  private def entryRecord(e: Entry, entrySchema: Schema): GenericRecord = {
    val df = new GenericData.Record(
      entrySchema.getField("data_file").schema())
    df.put("content", e.content)
    df.put("file_path", e.filePath)
    // a deletion vector rides in a PUFFIN file (v3); everything else parquet
    df.put("file_format", if (e.referencedDataFile.isDefined) "PUFFIN" else "PARQUET")
    val partSchema = df.getSchema.getField("partition").schema()
    val part = new GenericData.Record(partSchema)
    partSchema.getFields.asScala.foreach { f =>
      part.put(f.name(), e.partition.getOrElse(f.name(), null))
    }
    df.put("partition", part)
    df.put("record_count", e.rows)
    df.put("file_size_in_bytes", e.size)
    if (e.bounds.nonEmpty) {
      def kvs(recName: String, pick: ((Array[Byte], Array[Byte])) => Array[Byte]) = {
        val itemSchema = df.getSchema.getField(
          if (recName == "k126_v127") "lower_bounds" else "upper_bounds")
          .schema().getTypes.get(1).getElementType
        e.bounds.toSeq.sortBy(_._1).map { case (id, b) =>
          val r = new GenericData.Record(itemSchema)
          r.put("key", id)
          r.put("value", java.nio.ByteBuffer.wrap(pick(b)))
          r: AnyRef
        }.asJava
      }
      df.put("lower_bounds", kvs("k126_v127", _._1))
      df.put("upper_bounds", kvs("k129_v130", _._2))
    }
    if (e.equalityIds.nonEmpty)
      df.put("equality_ids", e.equalityIds.map(Integer.valueOf).asJava)
    e.referencedDataFile.foreach(df.put("referenced_data_file", _))
    e.contentOffset.foreach(v => df.put("content_offset", java.lang.Long.valueOf(v)))
    e.contentSize.foreach(v =>
      df.put("content_size_in_bytes", java.lang.Long.valueOf(v)))
    val rec = new GenericData.Record(entrySchema)
    rec.put("status", e.status)
    rec.put("snapshot_id", e.snapshotId)
    rec.put("sequence_number", e.seq)
    rec.put("file_sequence_number", e.seq)
    rec.put("data_file", df)
    rec
  }

  private[sinks] def writeManifest(path: Path, schemaJson: String,
      entries: Seq[Entry], deletes: Boolean = false,
      partitionTypes: Seq[(String, DataType)] = Nil,
      partitionSpecJson: String = "[]",
      specId: Int = 0): Unit = {
    val es =
      if (partitionTypes.isEmpty) manifestEntrySchema
      else manifestEntrySchemaFor(partitionTypes)
    writeAvro(path, es, Map(
      "schema" -> schemaJson,
      "partition-spec" -> partitionSpecJson,
      "partition-spec-id" -> specId.toString,
      "format-version" -> "2",
      "content" -> (if (deletes) "deletes" else "data"),
    ), entries.map(e => entryRecord(e, es)))
  }

  /** `listSeq` is the owning manifest-list row's sequence_number: the spec
    * writes ADDED entries with a null sequence_number that INHERITS it (the
    * entry was added by the snapshot that wrote the manifest). A null on an
    * EXISTING/DELETED entry has nothing to inherit from — those must carry
    * their original data sequence explicitly — so it refuses loudly rather
    * than defaulting to 0 and letting every equality delete mask the file. */
  private def readManifest(path: Path, listSeq: Long): Seq[Entry] =
    readAvro(path).map { r =>
      val df = r.get("data_file").asInstanceOf[GenericRecord]
      val content = intOr(df, "content", 0) // v1 data_file: data only
      require(content >= 0 && content <= 2,
        s"manifest $path: data_file.content $content is not a spec value " +
          "(data=0, position-deletes=1, equality-deletes=2)")
      val fmt = str(df, "file_format")
      // v1 data_file schemas may omit any of these optional fields
      def optField(f: String): Option[AnyRef] =
        if (df.getSchema.getField(f) == null) None else Option(df.get(f))
      val referenced = optField("referenced_data_file").map(_.toString)
      val isDv = content == 1 && fmt.equalsIgnoreCase("PUFFIN")
      require(fmt.equalsIgnoreCase("PARQUET") || isDv,
        s"data file format $fmt is not supported (parquet, or puffin for " +
          "v3 deletion vectors)")
      if (isDv) require(referenced.isDefined,
        s"manifest $path: a PUFFIN deletion vector must reference exactly " +
          "one data file (referenced_data_file is null)")
      val eqIds = optField("equality_ids")
        .map(_.asInstanceOf[java.util.List[_]].asScala
          .map(_.asInstanceOf[Number].intValue()).toSeq)
        .getOrElse(Nil)
      // bounds parse back so rewritten manifests keep them for kept entries
      def boundMap(field: String): Map[Int, Array[Byte]] =
        optField(field).map(_.asInstanceOf[java.util.List[_]].asScala.map { o =>
          val kv = o.asInstanceOf[GenericRecord]
          val buf = kv.get("value").asInstanceOf[java.nio.ByteBuffer]
          val arr = new Array[Byte](buf.remaining()); buf.duplicate().get(arr)
          kv.get("key").asInstanceOf[Number].intValue() -> arr
        }.toMap).getOrElse(Map.empty)
      val lows = boundMap("lower_bounds"); val highs = boundMap("upper_bounds")
      val bounds = lows.keySet.intersect(highs.keySet)
        .map(k => k -> (lows(k), highs(k))).toMap
      // the partition struct is read under the FILE's writer schema, so a
      // foreign partitioned manifest's fields are visible here even though
      // this library writes an empty record for unpartitioned tables
      val partRec = df.get("partition").asInstanceOf[GenericRecord]
      val partition = partRec.getSchema.getFields.asScala.map { f =>
        f.name() -> (partRec.get(f.name()) match {
          case null => null
          case u: org.apache.avro.util.Utf8 => u.toString
          case n: Number => n
          case b: java.lang.Boolean => b
          case other => throw new IllegalArgumentException(
            s"manifest $path: partition value type ${other.getClass.getName} " +
              "is not supported by this importer")
        })
      }.toMap
      val status = int(r, "status")
      val seq =
        if (r.getSchema.getField("sequence_number") == null)
          0L // v1 entry schema: no sequences exist in the format at all
        else Option(r.get("sequence_number"))
          .map(_.asInstanceOf[Number].longValue())
          .getOrElse {
            require(status == Added,
              s"manifest $path entry ${str(df, "file_path")}: null " +
                "sequence_number on a non-ADDED entry — inheritance applies " +
                "only to entries added by this manifest's own snapshot; " +
                "refusing rather than guessing the data sequence")
            listSeq
          }
      Entry(status,
        Option(r.get("snapshot_id")).map(_.asInstanceOf[Number].longValue()).getOrElse(0L),
        seq,
        str(df, "file_path"), long(df, "record_count"),
        long(df, "file_size_in_bytes"), content, eqIds, bounds, partition,
        referencedDataFile = referenced,
        contentOffset = optField("content_offset")
          .map(_.asInstanceOf[Number].longValue()),
        contentSize = optField("content_size_in_bytes")
          .map(_.asInstanceOf[Number].longValue()))
    }

  private[sinks] def manifestListRecord(m: ManifestInfo): GenericRecord = {
    val rec = new GenericData.Record(manifestFileSchema)
    rec.put("manifest_path", m.path.toString)
    rec.put("manifest_length", m.length)
    rec.put("partition_spec_id", m.specId)
    rec.put("content", m.content)
    rec.put("sequence_number", m.seq)
    rec.put("min_sequence_number", m.minSeq)
    rec.put("added_snapshot_id", m.addedSnapshotId)
    val added = m.entries.count(_.status == Added)
    val existing = m.entries.count(_.status == Existing)
    val deleted = m.entries.count(_.status == Deleted)
    rec.put("added_files_count", added)
    rec.put("existing_files_count", existing)
    rec.put("deleted_files_count", deleted)
    rec.put("added_rows_count", m.entries.filter(_.status == Added).map(_.rows).sum)
    rec.put("existing_rows_count", m.entries.filter(_.status == Existing).map(_.rows).sum)
    rec.put("deleted_rows_count", m.entries.filter(_.status == Deleted).map(_.rows).sum)
    rec
  }

  // -------------------------------------------------------------- metadata

  private[sinks] def metadataDir(dest: String): Path = Paths.get(dest, "metadata")

  private[graft] def latestMetadataVersion(dest: String): Option[Int] = {
    val hint = metadataDir(dest).resolve("version-hint.text")
    if (Files.exists(hint))
      Some(new String(Files.readAllBytes(hint), UTF_8).trim.toInt)
    else if (Files.isDirectory(metadataDir(dest)))
      Files.list(metadataDir(dest)).iterator.asScala
        .map(_.getFileName.toString)
        .collect { case s if s.matches("v\\d+\\.metadata\\.json") =>
          s.stripPrefix("v").stripSuffix(".metadata.json").toInt }
        .maxOption
    else None
  }

  private[graft] def readMetadata(dest: String, v: Int): JsonNode =
    mapper.readTree(Files.readAllBytes(
      metadataDir(dest).resolve(s"v$v.metadata.json")))

  private[graft] def writeMetadata(dest: String, v: Int, node: ObjectNode): Unit = {
    Files.createDirectories(metadataDir(dest))
    Files.write(metadataDir(dest).resolve(s"v$v.metadata.json"),
      mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(node))
    Files.write(metadataDir(dest).resolve("version-hint.text"),
      v.toString.getBytes(UTF_8))
  }

  private def copyFile(table: LakehouseTable, dest: String,
      relPath: String): (Path, Long) = {
    val dataDir = Paths.get(dest, "data")
    Files.createDirectories(dataDir)
    val src = Paths.get(table.dir, relPath)
    val out = dataDir.resolve(relPath.replace('/', '-'))
    Files.copy(src, out, StandardCopyOption.REPLACE_EXISTING)
    (out, Files.size(src))
  }

  private def baseMetadata(dest: String, schemas: Seq[ObjectNode],
      currentSchemaId: Int, lastColumnId: Int, props: Map[String, String]): ObjectNode = {
    val root = mapper.createObjectNode()
    root.put("format-version", 2)
    root.put("table-uuid", java.util.UUID.nameUUIDFromBytes(
      schemas.head.toString.getBytes(UTF_8)).toString)
    root.put("location", Paths.get(dest).toAbsolutePath.toString)
    root.put("last-updated-ms", 0L)
    root.put("last-column-id", lastColumnId)
    root.put("current-schema-id", currentSchemaId)
    val sArr = root.putArray("schemas")
    schemas.foreach(sArr.add)
    root.put("default-spec-id", 0)
    val specs = root.putArray("partition-specs")
    val spec = specs.addObject()
    spec.put("spec-id", 0); spec.putArray("fields")
    root.put("last-partition-id", 999)
    root.put("default-sort-order-id", 0)
    val orders = root.putArray("sort-orders")
    val ord = orders.addObject()
    ord.put("order-id", 0); ord.putArray("fields")
    val p = root.putObject("properties")
    props.toSeq.sortBy(_._1).foreach { case (k, v) => p.put(k, v) }
    root
  }

  /** Table property recording the last lakehouse version [[mirror]] has
    * reflected, so restarts resume with no side-channel state. */
  val MirrorProperty = "graft.mirror.lakehouse-version"

  // ---------------------------------------------------------------- export

  /** Export the table's head snapshot as the [[mirror]]'s first commit
    * ([[InterchangeMirror.Format.export]]): one snapshot whose manifest
    * ADDs every live file. Refuses MERGE-ON-READ delete files (run
    * `compact()` first). */
  def export(spark: SparkSession, table: LakehouseTable, destDir: String): Unit =
    MirrorFormat.export(spark, table, destDir)

  /** A snapshot's manifest list. `parentId` follows [[snapshotNode]]'s
    * rule (< 0: none), so the list and the metadata node name the same
    * parent. */
  private def writeManifestList(listPath: Path, snapshotId: Long,
      parentId: Long, seq: Long, records: Seq[GenericRecord]): Unit =
    writeAvro(listPath, manifestFileSchema, Map(
      "format-version" -> "2", "snapshot-id" -> snapshotId.toString,
      "sequence-number" -> seq.toString) ++
      Option.when(parentId >= 0)("parent-snapshot-id" -> parentId.toString), records)

  /** One entry of the metadata `snapshots` list (`parentId` < 0: none). */
  private def snapshotNode(snapshotId: Long, parentId: Long, seq: Long,
      listPath: Path, schemaId: Int, operation: String,
      lakehouseVersion: Option[Long]): ObjectNode = {
    val sn = mapper.createObjectNode()
    sn.put("snapshot-id", snapshotId)
    if (parentId >= 0) sn.put("parent-snapshot-id", parentId)
    sn.put("sequence-number", seq)
    sn.put("timestamp-ms", 0L)
    sn.put("manifest-list", listPath.toString)
    sn.put("schema-id", schemaId)
    val sum = sn.putObject("summary")
    sum.put("operation", operation)
    lakehouseVersion.foreach(v => sum.put("graft-lakehouse-version", v.toString))
    sn
  }

  /** The snapshot state of a metadata version: last sequence number, the
    * current snapshot and its `main` ref, the snapshots and their log, and
    * the log of the `priorVersions` metadata files before this one. */
  private def putSnapshots(root: ObjectNode, destDir: String, lastSeq: Long,
      currentSnapshotId: Long, snapshots: Seq[ObjectNode], priorVersions: Int): Unit = {
    root.put("last-sequence-number", lastSeq)
    root.put("current-snapshot-id", currentSnapshotId)
    if (currentSnapshotId >= 0) {
      val main = root.putObject("refs").putObject("main")
      main.put("snapshot-id", currentSnapshotId); main.put("type", "branch")
    }
    val sArr = root.putArray("snapshots")
    snapshots.foreach(sArr.add)
    val slog = root.putArray("snapshot-log")
    snapshots.foreach(s => slog.addObject().put("timestamp-ms", 0L)
      .put("snapshot-id", s.get("snapshot-id").asLong()))
    val mlog = root.putArray("metadata-log")
    (1 to priorVersions).foreach(mv => mlog.addObject().put("timestamp-ms", 0L)
      .put("metadata-file", metadataDir(destDir).resolve(s"v$mv.metadata.json").toString))
  }

  /** Split `df` into one parquet file per partition tuple (and optional
    * integer `extraCol`, consumed by the split and NOT part of the public
    * layout) under `dest/data/`, dropping the partition columns from the
    * data files — identity values restore from the manifest partition
    * structs on read (Column Projection). One `partitionBy` Spark job,
    * never a per-group loop.
    *
    * STRING partition values ride as ASCII-safe tokens (v0, v1, …) so the
    * transient Hive dir names never carry arbitrary bytes — the dirs are
    * renamed to their final `nameFor` names anyway, and a JVM whose
    * filesystem encoding is ASCII cannot even create a UTF-8 path; the
    * token map restores exact values (any character, including '/', '=',
    * '%') when the manifest partition structs are built. Returns
    * (moved path, typed partition tuple, extra value) per file. */
  private[sinks] def writeSplitDataFiles(df: DataFrame, destDir: String,
      partitionCols: Seq[String], schema: StructType,
      extraCol: Option[String],
      nameFor: (Int, Map[String, Any], Option[Int]) => String,
      subDir: String = "data")
      : Seq[(Path, Map[String, Any], Option[Int])] = {
    val tokenMaps: Map[String, Map[String, String]] = partitionCols
      .filter(c => schema(c).dataType == StringType).map { c =>
        val vals = df.select(c).distinct().collect()
          .flatMap(r => Option(r.getString(0))).sorted
        require(vals.length <= 100000,
          s"partition column '$c' has ${vals.length} distinct values — " +
            "identity-partitioning on near-unique strings is a layout " +
            "error at any scale; refusing")
        c -> vals.zipWithIndex.map { case (v, i) => s"v$i" -> v }.toMap
      }.toMap
    val tokenized = tokenMaps.foldLeft(df) { case (d, (c, m)) =>
      import org.apache.spark.sql.functions.{col, udf}
      val enc = m.map(_.swap)
      val tok = udf((s: String) => if (s == null) null else enc(s))
      d.withColumn(c, tok(col(c)))
    }
    val tmp = Files.createTempDirectory("graft_ib_partexp")
    tokenized.write.partitionBy(partitionCols ++ extraCol: _*)
      .mode("overwrite").parquet(tmp.toString)
    val dataDir = Paths.get(destDir, subDir)
    Files.createDirectories(dataDir)
    // Hive path escaping: %XX escapes ONE UTF-8 BYTE (a multi-byte char
    // escapes as several consecutive %XX), so the segment must unescape to
    // a byte array first and decode as UTF-8 whole — per-escape .toChar
    // would mojibake every non-ASCII partition value into the manifest
    def unescape(s: String): String = {
      val out = new java.io.ByteArrayOutputStream
      var i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        if (c == '%' && i + 2 < s.length) {
          out.write(Integer.parseInt(s.substring(i + 1, i + 3), 16))
          i += 3
        } else { out.write(c.toString.getBytes(UTF_8)); i += 1 }
      }
      new String(out.toByteArray, UTF_8)
    }
    def typed(c: String, raw: String): Any =
      if (raw == "__HIVE_DEFAULT_PARTITION__") null
      else schema(c).dataType match {
        case ByteType | ShortType | IntegerType => Integer.valueOf(raw)
        case LongType => java.lang.Long.valueOf(raw)
        case BooleanType => java.lang.Boolean.valueOf(raw)
        case StringType => tokenMaps(c)(raw)
        case _ => raw
      }
    var n = 0
    val moved = Files.walk(tmp).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
      .sortBy(_.toString)
      .map { p =>
        val rel = tmp.relativize(p)
        val part: Map[String, Any] =
          partitionCols.indices.map(rel.getName(_).toString).map { seg =>
            val Array(c, raw) = seg.split("=", 2)
            c -> typed(c, unescape(raw))
          }.toMap
        val extra = extraCol.map(_ => rel.getName(partitionCols.size).toString
          .split("=", 2)(1).toInt)
        val out = dataDir.resolve(nameFor(n, part, extra)); n += 1
        Files.move(p, out, StandardCopyOption.REPLACE_EXISTING)
        (out, part, extra)
      }
    Files.walk(tmp).sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(p => Files.deleteIfExists(p))
    moved
  }

  /** Export a DataFrame as an identity-partitioned Iceberg v2 table: one
    * snapshot whose manifest entries carry the spec's per-file partition
    * struct (partition field-ids 1000+) under an identity-transform
    * partition spec. Data files are written WITHOUT the partition
    * columns — the spec's Column Projection rule restores them from
    * partition metadata on read (what [[importIceberg]] does), so each
    * constant is stored once per FILE, not once per row, and partition
    * pruning needs no file I/O. Partition source columns are bounded to
    * int/long/string/boolean; anything else refuses loudly. */
  def exportPartitioned(spark: SparkSession, df: DataFrame, destDir: String,
      partitionCols: Seq[String]): Unit = {
    val schema = df.schema
    require(partitionCols.nonEmpty, "use export for unpartitioned tables")
    InterchangeMirror.requirePartitionTypes(schema, partitionCols)
    val partTypes = partitionCols.map(c => c -> schema(c).dataType)

    val moved = writeSplitDataFiles(df, destDir, partitionCols, schema, None,
      (n, _, _) => f"part-$n%05d.parquet").map { case (p, part, _) => (p, part) }
    val rows = InterchangeMirror.countRows(spark, moved.map(_._1.toString))

    val (schemaNode, lastCol) = icebergSchema(schema, 0)
    val snapshotId = 1L
    val entries = moved.map { case (out, part) =>
      Entry(Added, snapshotId, 1L, out.toString,
        rows(out.toString), Files.size(out), partition = part)
    }
    val specJson = {
      val arr = mapper.createArrayNode()
      partitionCols.zipWithIndex.foreach { case (c, i) =>
        val f = arr.addObject()
        f.put("name", c); f.put("transform", "identity")
        f.put("source-id", schema.fieldIndex(c) + 1); f.put("field-id", 1000 + i)
      }
      mapper.writeValueAsString(arr)
    }
    Files.createDirectories(metadataDir(destDir))
    val mPath = metadataDir(destDir).resolve(s"m-$snapshotId-0.avro")
    writeManifest(mPath, mapper.writeValueAsString(schemaNode), entries,
      partitionTypes = partTypes, partitionSpecJson = specJson)
    val info = ManifestInfo(mPath, Files.size(mPath), 1L, 1L, snapshotId, entries)
    val listPath = metadataDir(destDir).resolve(s"snap-$snapshotId.avro")
    writeManifestList(listPath, snapshotId, -1L, 1L, Seq(manifestListRecord(info)))
    val root = baseMetadata(destDir, Seq(schemaNode), 0, lastCol,
      Map("schema.name-mapping.default" -> nameMapping(schemaNode)))
    val specs = root.putArray("partition-specs") // replace the empty default
    specs.add(mapper.readTree(s"""{"spec-id":0,"fields":$specJson}"""))
    root.put("last-partition-id", 999 + partTypes.size)
    putSnapshots(root, destDir, 1L, snapshotId,
      Seq(snapshotNode(snapshotId, -1L, 1L, listPath, 0, "append", None)), 0)
    writeMetadata(destDir, 1, root)
  }

  // ---------------------------------------------------------------- import

  /** `files`/`numRecords` describe live DATA files (numRecords is the
    * pre-delete-apply manifest sum); `dataSeqs` pairs each data file with
    * its data sequence number; `deletes` lists live equality-delete files
    * as (path, sequence, equality field ids) — an equality delete at
    * sequence S masks matching rows in data files with sequence < S; and
    * `posDeletes` lists live position-delete files as (path, sequence) —
    * a position delete at sequence S masks the (file, row-offset) pairs it
    * names in data files with sequence <= S (the spec's `<=` vs the
    * equality rule's `<`). */
  final case class IcebergSnapshot(
      schema: StructType,
      files: Seq[String], // absolute live data file paths
      numRecords: Long,
      snapshotId: Long,
      properties: Map[String, String],
      dataSeqs: Seq[(String, Long)] = Nil,
      deletes: Seq[(String, Long, Seq[Int])] = Nil,
      posDeletes: Seq[(String, Long)] = Nil,
      // top-level field id -> column name from the CURRENT schema's actual
      // ids (real Iceberg schemas keep original ids across drops/reorders,
      // so id != position in general)
      fieldIds: Map[Int, String] = Map.empty,
      // identity partitioning: (spec field name, source column name) in
      // spec order; empty for unpartitioned tables
      partitionCols: Seq[(String, String)] = Nil,
      // absolute data file path -> spec-field-name -> partition value
      filePartitions: Map[String, Map[String, Any]] = Map.empty,
      // v3 deletion vectors: (puffin path, data sequence, referenced data
      // file absolute path, blob offset, blob size)
      dvs: Seq[(String, Long, String, Long, Long)] = Nil,
      // v3 `initial-default` per column of the READ schema: the value rows
      // in files written BEFORE the column existed must read (the spec's
      // default-values rule) — applied wherever the aligned read would
      // otherwise null-pad
      initialDefaults: Map[String, Any] = Map.empty)

  /** Replay the latest metadata version into the current live state —
    * or, with `asOfSnapshotId`, TIME TRAVEL to that snapshot: its
    * manifest list replays instead of the current one, under the schema
    * the snapshot recorded (`schema-id` per the spec; tables predating
    * per-snapshot schema ids read under the current schema). A snapshot
    * no longer in the metadata (expired) refuses loudly. */
  def readTable(srcDir: String, asOfSnapshotId: Option[Long] = None): IcebergSnapshot = {
    val v = latestMetadataVersion(srcDir).getOrElse(
      throw new IllegalArgumentException(s"no Iceberg metadata under $srcDir"))
    val root = readMetadata(srcDir, v)
    val fv = root.get("format-version").asInt()
    // v1 tables READ (missing manifest fields default to the spec's v1
    // semantics: content 0, no sequences, no delete files); writes stay
    // v2-only. v3 tables READ with DELETION VECTORS (Puffin blobs, same
    // portable RoaringBitmapArray the Delta side decodes) and with ROW
    // LINEAGE: lineage stamps metadata identity (_row_id /
    // _last_updated_sequence_number derived from first_row_id + row
    // position) that never alters row CONTENT, so a plain read of the
    // user columns is exact — WRITES into lineage tables still refuse
    // ([[attachDeletionVectors]]; [[mirror]] pins its target to v2),
    // because a writer that does not maintain first_row_id would corrupt
    // the lineage chain. Column `initial-default`s are MODELLED on read
    // (the aligned read pads the default where it would pad null);
    // `write-default` is writer-side only and never alters a read, so it
    // parses and is ignored here — WRITES into default-bearing tables
    // refuse in [[attachDeletionVectors]]. fv > 3 refuses — unreleased
    // manifest semantics must never be guessed at.
    require(fv >= 1 && fv <= 3,
      s"format-version $fv is not supported (this importer reads v1-v3) — " +
        "refusing rather than mis-replaying newer manifest semantics")
    val location = root.get("location").asText()
    // time travel reads under the SNAPSHOT's schema when it records one
    val asOfSchemaId = asOfSnapshotId.flatMap { id =>
      root.get("snapshots").elements().asScala
        .find(_.get("snapshot-id").asLong() == id)
        .flatMap(s => Option(s.get("schema-id")).map(_.asInt()))
    }
    val schemaId = asOfSchemaId.getOrElse(
      Option(root.get("current-schema-id")).map(_.asInt()).getOrElse(0))
    val schemaNode = Option(root.get("schemas"))
      .map(_.elements().asScala.find(_.get("schema-id").asInt() == schemaId)
        .getOrElse(throw new IllegalStateException(
          s"schema-id $schemaId not in schemas")))
      .getOrElse {
        // legacy v1 metadata: a single top-level "schema"
        require(fv == 1 && root.has("schema"),
          "metadata has neither schemas nor a legacy v1 schema field")
        root.get("schema")
      }
    val fieldIds = schemaNode.get("fields").elements().asScala
      .map(f => f.get("id").asInt() -> f.get("name").asText()).toMap
    // v3 `initial-default` of the READ schema's fields, decoded per the
    // spec's JSON single-value serialization for the primitive types this
    // importer can materialize as a literal; any other defaulted type
    // refuses loudly — a default read as null would be silently wrong
    val initialDefaults: Map[String, Any] =
      schemaNode.get("fields").elements().asScala.flatMap { f =>
        Option(f.get("initial-default")).map { d =>
          val name = f.get("name").asText()
          val tpe = if (f.get("type").isTextual) f.get("type").asText() else ""
          val v: Any = tpe match {
            case "int" => d.asInt()
            case "long" => d.asLong()
            case "float" => d.floatValue()
            case "double" => d.doubleValue()
            case "string" => d.asText()
            case "boolean" => d.asBoolean()
            case other => throw new IllegalArgumentException(
              s"v3 initial-default on field '$name' of type '$other' is not " +
                "a default this importer can materialize — refusing rather " +
                "than reading null for a defaulted column")
          }
          name -> v
        }
      }.toMap
    // Partition transforms on IMPORT: IDENTITY values ride in the
    // manifests' partition structs and project back as constant columns
    // per file (the spec's Column Projection rule — needed for
    // Hive-migrated files that do not store the partition column at all).
    // NON-identity transforms (bucket/truncate/year/month/day/hour/void)
    // need NO projection: the spec requires data files to store the
    // SOURCE column for derived partition fields, so reading the files is
    // already complete — the derived tuple is pruning metadata only.
    // (EXPORT stays identity-only: this library never derives transforms.)
    // Unknown transform names still refuse: an unrecognized derivation on
    // a spec this reader has never seen could mean unreadable files.
    val knownDerived = Set("year", "month", "day", "hour", "void")
    def requireKnownTransforms(fields: Iterator[JsonNode]): Unit = fields.foreach { f =>
      val tr = f.get("transform").asText()
      require(tr == "identity" || knownDerived.contains(tr) ||
        tr.matches("bucket\\[\\d+\\]") || tr.matches("truncate\\[\\d+\\]"),
        s"partition transform '$tr' is not a transform this importer " +
          "knows — refusing rather than guessing at its read semantics")
    }
    // legacy v1 metadata carries a single flat "partition-spec" field list
    // instead of "partition-specs" — treat it as the one-and-only spec 0
    val defaultSpecFields: Seq[JsonNode] =
      Option(root.get("partition-specs")) match {
        case Some(specs) =>
          specs.elements().asScala.foreach(s =>
            requireKnownTransforms(s.get("fields").elements().asScala))
          val defaultSpecId =
            Option(root.get("default-spec-id")).map(_.asInt()).getOrElse(0)
          specs.elements().asScala
            .find(_.get("spec-id").asInt() == defaultSpecId)
            .map(_.get("fields").elements().asScala.toSeq).getOrElse(Nil)
        case None =>
          require(fv == 1,
            "v2 metadata without partition-specs is corrupt — refusing")
          val fields = Option(root.get("partition-spec"))
            .map(_.elements().asScala.toSeq).getOrElse(Nil)
          requireKnownTransforms(fields.iterator)
          fields
      }
    val partitionCols = defaultSpecFields
      .filter(_.get("transform").asText() == "identity")
      .map { f =>
        val srcId = f.get("source-id").asInt()
        val srcCol = fieldIds.getOrElse(srcId, throw new IllegalArgumentException(
          s"partition spec source-id $srcId is not a field of the current schema"))
        f.get("name").asText() -> srcCol
      }
    val props = Option(root.get("properties")).map(p =>
      p.properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap)
      .getOrElse(Map.empty[String, String])
    val curId = asOfSnapshotId.getOrElse(root.get("current-snapshot-id").asLong())
    if (curId == -1L)
      return IcebergSnapshot(sparkStruct(schemaNode), Seq.empty, 0L, -1L, props,
        fieldIds = fieldIds, partitionCols = partitionCols,
        initialDefaults = initialDefaults)
    val snapNode = root.get("snapshots").elements().asScala
      .find(_.get("snapshot-id").asLong() == curId)
      .getOrElse(
        if (asOfSnapshotId.isDefined) throw new IllegalArgumentException(
          s"snapshot $curId is not in the table metadata — it expired or " +
            "never existed; time travel only reaches retained snapshots")
        else throw new IllegalStateException(s"current snapshot $curId not listed"))
    val listPath = resolvePath(location, snapNode.get("manifest-list").asText())
    val data = scala.collection.mutable.ArrayBuffer.empty[Entry]
    val dels = scala.collection.mutable.ArrayBuffer.empty[Entry]
    val pos = scala.collection.mutable.ArrayBuffer.empty[Entry]
    val dvEntries = scala.collection.mutable.ArrayBuffer.empty[Entry]
    readAvro(listPath).foreach { mf =>
      val content = intOr(mf, "content", 0) // v1 lists: data manifests only
      val mPath = resolvePath(location, str(mf, "manifest_path"))
      val live = readManifest(mPath, longOr(mf, "sequence_number", 0L))
        .filter(_.status != Deleted)
      if (content == 0) data ++= live
      else live.foreach {
        case e if e.content == 2 && e.equalityIds.nonEmpty => dels += e
        case e if e.content == 1 && e.referencedDataFile.isDefined =>
          require(fv >= 3, s"delete manifest $mPath entry ${e.filePath}: " +
            "PUFFIN deletion vectors are a format-version 3 feature, but " +
            s"the table metadata declares v$fv — refusing an inconsistent table")
          require(e.contentOffset.isDefined && e.contentSize.isDefined,
            s"delete manifest $mPath entry ${e.filePath}: a deletion " +
              "vector entry must carry content_offset and " +
              "content_size_in_bytes")
          dvEntries += e
        case e if e.content == 1 => pos += e
        case e => throw new IllegalArgumentException(
          s"delete manifest $mPath entry ${e.filePath}: content ${e.content} " +
            s"with equality ids ${e.equalityIds} is not a valid delete file shape")
      }
    }
    IcebergSnapshot(sparkStruct(schemaNode),
      data.map(e => resolvePath(location, e.filePath).toString).toSeq,
      data.map(_.rows).sum, curId, props,
      data.map(e => (resolvePath(location, e.filePath).toString, e.seq)).toSeq,
      dels.map(e => (resolvePath(location, e.filePath).toString, e.seq,
        e.equalityIds)).toSeq,
      pos.map(e => (resolvePath(location, e.filePath).toString, e.seq)).toSeq,
      fieldIds, partitionCols,
      data.map(e => resolvePath(location, e.filePath).toString -> e.partition).toMap,
      dvs = dvEntries.map(e => (resolvePath(location, e.filePath).toString,
        e.seq, resolvePath(location, e.referencedDataFile.get).toString,
        e.contentOffset.get, e.contentSize.get)).toSeq,
      initialDefaults = initialDefaults)
  }

  private def resolvePath(location: String, p: String): Path = {
    val clean = p.stripPrefix("file:")
    if (clean.startsWith("/")) Paths.get(clean) else Paths.get(location, clean)
  }

  /** Incremental append scan (Iceberg's `incremental read`): the rows of
    * data files ADDED by snapshots in `(fromSnapshotId, toSnapshotId]` —
    * how a downstream consumer tails a mirrored table without re-reading
    * history. Cost is O(manifest lists in range + added files), never
    * O(table). `fromSnapshotId = -1` reads from the beginning. Overwrite
    * snapshots fail LOUDLY: their added files carry rewritten history
    * (a consumer would double-count), which is exactly Iceberg's own
    * incremental-scan restriction to appends. */
  def readAppendsBetween(spark: SparkSession, srcDir: String,
      fromSnapshotId: Long, toSnapshotId: Long): DataFrame = {
    val v = latestMetadataVersion(srcDir).getOrElse(
      throw new IllegalArgumentException(s"no Iceberg metadata under $srcDir"))
    val root = readMetadata(srcDir, v)
    val location = root.get("location").asText()
    val schemaId = root.get("current-schema-id").asInt()
    val schemaNode = root.get("schemas").elements().asScala
      .find(_.get("schema-id").asInt() == schemaId)
      .getOrElse(throw new IllegalStateException(s"schema-id $schemaId not in schemas"))
    val snaps = root.get("snapshots").elements().asScala.toVector
    val range =
      if (fromSnapshotId == -1L) snaps
      else {
        val rest = snaps.dropWhile(_.get("snapshot-id").asLong() != fromSnapshotId)
        require(rest.nonEmpty,
          s"snapshot $fromSnapshotId is not in the retained history (expired?) — " +
            "refusing rather than silently re-reading from the beginning")
        rest.tail
      }
    val inWindow = range.takeWhile { s =>
      val id = s.get("snapshot-id").asLong(); id != toSnapshotId
    } ++ range.find(_.get("snapshot-id").asLong() == toSnapshotId)
    require(inWindow.exists(_.get("snapshot-id").asLong() == toSnapshotId),
      s"snapshot $toSnapshotId is not after $fromSnapshotId in the history")
    val files = inWindow.flatMap { s =>
      val op = s.get("summary").get("operation").asText()
      val id = s.get("snapshot-id").asLong()
      require(op == "append",
        s"snapshot $id is '$op', not an append: its added files carry " +
          "rewritten history — an incremental consumer would double-count")
      readAvro(resolvePath(location, s.get("manifest-list").asText())).flatMap { mf =>
        if (int(mf, "content") != 0) Nil
        else readManifest(resolvePath(location, str(mf, "manifest_path")),
            long(mf, "sequence_number"))
          .filter(e => e.status == Added && e.snapshotId == id)
          .map(e => resolvePath(location, e.filePath).toString)
      }
    }.distinct
    val schema = sparkStruct(schemaNode)
    if (files.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else spark.read.schema(schema).parquet(files.toSeq: _*)
  }

  /** Snapshot ids retained in the table metadata, oldest first — the
    * discoverable range [[readTable]]'s time travel accepts. */
  def snapshotIds(srcDir: String): Seq[Long] = {
    val v = latestMetadataVersion(srcDir).getOrElse(
      throw new IllegalArgumentException(s"no Iceberg metadata under $srcDir"))
    readMetadata(srcDir, v).get("snapshots").elements().asScala
      .map(_.get("snapshot-id").asLong()).toSeq.sorted
  }

  /** One footer column's identity: (name, Iceberg field id if stamped,
    * physical type spelling). The type is part of the identity so files
    * written under a pre-promotion type (int32 before an int→long
    * promotion) land in their OWN read group — grouping them with
    * post-promotion files would scan under one inferred schema and
    * misread the other's pages. */
  private[sinks] type FooterField = (String, Option[Int], String)

  /** Top-level (name, field-id) pairs of each data file's parquet FOOTER —
    * O(files) driver-side metadata reads, no data scan, parallelized on a
    * bounded pool. This recovers the per-file schema identity Iceberg
    * manifests do not carry (unlike Paimon's per-file `schemaId`,
    * `PaimonInterchange.importPaimon`): a table whose retained history
    * spans a RENAME has live files under BOTH names, and only the footer
    * says which name each file stores. */
  private def footerFields(spark: SparkSession, files: Seq[String])
      : Map[String, Seq[FooterField]] = {
    lazy val conf = spark.sessionState.newHadoopConf()
    ParquetFooters.mapPooled(files.distinct) { f =>
      val r = ParquetFooters.open(f, conf)
      try r.getFileMetaData.getSchema.getFields.asScala.toSeq
        .map(t => (t.getName, Option(t.getId).map(_.intValue()),
          if (t.isPrimitive) t.asPrimitiveType().getPrimitiveTypeName.name()
          else t.toString))
      finally r.close()
    }
  }

  /** The read plan aligning one file's footer schema to the current table
    * schema: for each current column, the footer column that stores it
    * (None = null-pad, the added-after-this-file-was-written case).
    *
    *  - Footers carrying Iceberg field ids on every column resolve by ID —
    *    real Iceberg resolution, so a file written BEFORE a rename reads
    *    its data correctly under the old physical name.
    *  - Id-less footers (name-mapping fallback) resolve by NAME, with a
    *    rename guard applied to THIS footer: a current column missing from
    *    the file alongside an extra non-schema file column can only be
    *    explained by a rename, which name-based resolution would read as
    *    silent nulls — refuse loudly. Added columns (missing-only) and
    *    dropped columns (extra-only) are unambiguous by name and read fine.
    */
  private def alignmentFor(snap: IcebergSnapshot,
      footer: Seq[(String, Option[Int])]): Seq[(String, Option[String])] = {
    val idsComplete = footer.nonEmpty && footer.forall(_._2.isDefined)
    if (idsComplete) {
      val nameById: Map[Int, String] = footer.map { case (n, id) => id.get -> n }.toMap
      val idByCurrent: Map[String, Int] =
        snap.fieldIds.map { case (id, n) => n -> id }
      snap.schema.fieldNames.toSeq.map { n =>
        n -> idByCurrent.get(n).flatMap(nameById.get)
      }
    } else {
      val names = footer.map(_._1).toSet
      val isPart = (n: String) => snap.partitionCols.exists(_._2 == n)
      val missing = snap.schema.fieldNames.filterNot(n =>
        names.contains(n) || isPart(n))
      val extra = names.filterNot(n =>
        snap.schema.fieldNames.contains(n) || isPart(n))
      require(missing.isEmpty || extra.isEmpty,
        s"data file columns ${extra.mkString(", ")} are not in the " +
          s"current schema while ${missing.mkString(", ")} are missing " +
          "from the file — likely a renamed column, which NAME-based " +
          "resolution would read as silent nulls; refusing (this file's " +
          "footer carries no Iceberg field ids to resolve the rename)")
      snap.schema.fieldNames.toSeq.map(n =>
        n -> (if (names.contains(n)) Some(n) else None))
    }
  }

  /** Read one group of files that share a read plan, aligned to the
    * current schema. The identity plan takes the pushdown-friendly
    * explicit-schema scan (absent columns null-pad in the reader); a
    * renamed plan reads under the footer names and projects — casts cover
    * Iceberg's legal type promotions (int→long, float→double) for files
    * written under a pre-promotion type. */
  private def readAlignedGroup(spark: SparkSession, snap: IcebergSnapshot,
      files: Seq[String], plan: Seq[(String, Option[String])],
      staleNameCollision: Boolean): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    // the explicit-schema scan null-pads ABSENT columns by NAME — safe
    // only when no null-pad entry's name survives physically in the
    // footer under a DIFFERENT field id (a dropped-then-re-added column):
    // there the name-based read would resurrect the old column's stale
    // values, where real Iceberg id resolution reads null. Those groups
    // take the select path, whose lit(null) projection shadows the stale
    // physical column.
    // a null-pad slot whose column carries a v3 `initial-default` must
    // materialize the DEFAULT, which the explicit-schema scan's reader
    // padding cannot do — those groups take the select path
    val defaultedPad = plan.exists { case (n, src) =>
      src.isEmpty && snap.initialDefaults.contains(n)
    }
    if (!staleNameCollision && !defaultedPad &&
        plan.forall { case (n, src) => src.forall(_ == n) })
      spark.read.schema(snap.schema).parquet(files: _*)
    else
      spark.read.parquet(files: _*).select(plan.map { case (n, src) =>
        src.map(s => col(s).cast(snap.schema(n).dataType).as(n))
          .getOrElse(snap.initialDefaults.get(n)
            .map(v => lit(v).cast(snap.schema(n).dataType).as(n))
            .getOrElse(lit(null).cast(snap.schema(n).dataType).as(n)))
      }: _*)
  }

  /** Read the live table state as a DataFrame under the metadata schema,
    * applying equality deletes by the spec's sequence rule: a delete at
    * sequence S masks matching rows in data files with sequence < S (so a
    * key deleted then re-written survives). The apply is one broadcastable
    * hash join on the equality columns — per key, only the MAX delete
    * sequence matters, so deletes aggregate to one row per key first. */
  def importIceberg(spark: SparkSession, srcDir: String): DataFrame =
    importIceberg(spark, srcDir, None)

  /** Import, optionally AS OF a retained snapshot id (time travel). */
  def importIceberg(spark: SparkSession, srcDir: String,
      asOfSnapshotId: Option[Long]): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit, max, regexp_replace, udf}
    val snap = readTable(srcDir, asOfSnapshotId)
    if (snap.files.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], snap.schema)
    // RENAME-safe resolution: every file's FOOTER schema is probed
    // (O(files) metadata reads, no data scan) and aligned to the current
    // schema — by Iceberg field id when the footer carries ids (a rename
    // landing MID-HISTORY reads correctly: pre-rename files read under
    // their old physical name), by name with a per-footer rename guard
    // otherwise. A single-file probe would miss a mid-history rename
    // whenever the sampled file postdates it — files written under the
    // other schema would silently read NULLs for the renamed column.
    // the read-group key is (column alignment, physical type signature):
    // files sharing an alignment but written under DIFFERENT physical
    // types (a pre-promotion int32 file after an int→long promotion) must
    // scan in their own group, or one inferred schema would misread the
    // other's pages
    // the third component flags a STALE-NAME COLLISION: a null-pad plan
    // entry (current column resolving to no footer column by id) whose
    // NAME is still physically present in the footer under a different
    // id — the dropped-then-re-added case readAlignedGroup must not read
    // by name. It is part of the group key so colliding and clean files
    // never share a scan.
    val plans: Map[String, (Seq[(String, Option[String])], Seq[String], Boolean)] =
      footerFields(spark, snap.files).map { case (f, ft) =>
        val plan = alignmentFor(snap, ft.map(x => (x._1, x._2)))
        val footerNames = ft.map(_._1).toSet
        val stale = plan.exists { case (n, src) =>
          src.isEmpty && footerNames.contains(n) }
        f -> ((plan, ft.map(_._3), stale))
      }
    if (snap.deletes.isEmpty && snap.posDeletes.isEmpty &&
        snap.dvs.isEmpty && snap.partitionCols.isEmpty)
      return snap.files.groupBy(plans).toSeq
        .sortBy { case (_, fs) => fs.min }
        .map { case ((plan, _, stale), fs) =>
          readAlignedGroup(spark, snap, fs, plan, stale) }
        .reduce(_ unionAll _)

    // data rows tagged with their file's sequence number, one scan per
    // distinct sequence (files of one commit share it); position deletes
    // additionally need the row's (file, offset) identity — Spark's
    // parquet `_metadata` column provides both without touching row data
    val needPos = snap.posDeletes.nonEmpty || snap.dvs.nonEmpty
    // "file:///x" and "file:/x" both normalize to "/x" so delete-file
    // references match however the writer spelled the URI
    def normUri(c: org.apache.spark.sql.Column) =
      regexp_replace(c, "^file:(//)?", "")
    // files group by (sequence, partition tuple): identity partition
    // columns project back as per-group CONSTANTS from manifest metadata
    // (the spec's Column Projection rule) — correct whether or not the
    // data file stores the column (for identity transforms every row of
    // the file carries exactly the partition value), and it keeps
    // Hive-migrated column-less files readable
    def partsOf(p: String): Seq[(String, Any)] = {
      val m = snap.filePartitions.getOrElse(p, Map.empty)
      snap.partitionCols.map { case (specName, srcCol) =>
        srcCol -> m.getOrElse(specName, null)
      }
    }
    var data = snap.dataSeqs
      .groupBy { case (p, seq) => (seq, partsOf(p), plans(p)) }
      .toSeq.sortBy { case ((seq, parts, plan), _) =>
        (seq, parts.mkString(","), plan.toString) }
      .map { case ((seq, parts, (plan, _, stale)), fs) =>
        var base = readAlignedGroup(spark, snap, fs.map(_._1), plan, stale)
        parts.foreach { case (srcCol, v) =>
          base = base.withColumn(srcCol,
            lit(v).cast(snap.schema(srcCol).dataType))
        }
        val tagged = base.withColumn("_ib_seq", lit(seq))
        if (needPos)
          tagged.withColumn("_ib_file", normUri(col("_metadata.file_path")))
            .withColumn("_ib_pos", col("_metadata.row_index"))
        else tagged
      }.reduce(_ unionAll _)

    if (snap.deletes.nonEmpty) {
      val eqIds = snap.deletes.map(_._3).distinct
      require(eqIds.size == 1,
        s"mixed equality-id sets across delete files ($eqIds) — refusing " +
          "rather than mis-applying deletes")
      // field ids → column names via the current schema's ACTUAL ids (real
      // Iceberg schemas keep original ids after drops/reorders, so an
      // in-range id may not be at position id-1 — positional resolution
      // would apply deletes on the wrong key)
      val eqCols = eqIds.head.map { id =>
        snap.fieldIds.getOrElse(id, throw new IllegalArgumentException(
          s"equality id $id is not a top-level field of the current schema " +
            s"(ids present: ${snap.fieldIds.keys.toSeq.sorted.mkString(", ")}) — " +
            "refusing rather than mis-keying deletes"))
      }
      val keySchema = StructType(snap.schema.fields.filter(f => eqCols.contains(f.name)))
      val delMax = snap.deletes.groupBy(_._2).toSeq.map { case (seq, fs) =>
        spark.read.schema(keySchema).parquet(fs.map(_._1): _*)
          .withColumn("_ib_dseq", lit(seq))
      }.reduce(_ unionAll _)
        .groupBy(eqCols.map(col): _*).agg(max(col("_ib_dseq")).as("_ib_dmax"))
      data = data.join(delMax, eqCols, "left")
        .filter(col("_ib_dmax").isNull || col("_ib_dmax") <= col("_ib_seq"))
        .drop("_ib_dmax")
    }

    if (snap.posDeletes.nonEmpty) {
      // spec position-delete file columns: file_path (2147483546),
      // pos (2147483545); applies to data files with sequence <= S
      val posSchema = StructType(Seq(
        StructField("file_path", StringType, nullable = false),
        StructField("pos", LongType, nullable = false)))
      val posMax = snap.posDeletes.groupBy(_._2).toSeq.map { case (seq, fs) =>
        spark.read.schema(posSchema).parquet(fs.map(_._1): _*)
          .select(normUri(col("file_path")).as("_ib_file"), col("pos").as("_ib_pos"),
            lit(seq).as("_ib_pseq"))
      }.reduce(_ unionAll _)
        .groupBy(col("_ib_file"), col("_ib_pos"))
        .agg(max(col("_ib_pseq")).as("_ib_pmax"))
      data = data.join(posMax, Seq("_ib_file", "_ib_pos"), "left")
        .filter(col("_ib_pmax").isNull || col("_ib_pmax") < col("_ib_seq"))
    }

    if (snap.dvs.nonEmpty) {
      // v3 deletion vectors: each masks exactly ONE data file, and (the
      // position-delete sequence rule) only when its sequence covers the
      // file's — a file re-added AFTER the DV is not masked. Descriptors
      // prune driver-side against the known file sequences, broadcast as
      // O(files) metadata, and the row filter runs MAP-SIDE against
      // per-executor cached bitmaps — the Delta DV import's plan shape,
      // zero extra exchanges.
      val fileSeq = snap.dataSeqs.toMap
      val dvByFile: Map[String, (String, Long, Long)] = snap.dvs.flatMap {
        case (puffin, dvSeq, ref, off, size) =>
          if (fileSeq.get(ref).exists(_ <= dvSeq))
            Some(ref -> (puffin, off, size))
          else None
      }.toMap
      require(snap.dvs.map(_._3).distinct.size == snap.dvs.size,
        "multiple deletion vectors reference one data file — the v3 spec " +
          "allows at most one live DV per file; refusing an invalid table")
      if (dvByFile.nonEmpty) {
        val dvB = spark.sparkContext.broadcast(dvByFile)
        val keep = udf((fp: String, idx: Long) =>
          !IcebergDvCache.isDeleted(dvB.value, fp, idx))
        data = data.filter(keep(col("_ib_file"), col("_ib_pos")))
      }
    }
    data.select(snap.schema.fieldNames.map(col).toSeq: _*)
  }

  /** Commit deletion vectors to a table, upgrading it to format-version 3
    * — the v3 DV write path (and the fixture a foreign v3 reader test
    * needs): one Puffin file holds a `deletion-vector-v1` blob per
    * referenced data file, a new DELETE manifest records each blob with
    * `referenced_data_file`/`content_offset`/`content_size_in_bytes`
    * (spec field-ids 143-145), and a new snapshot carries the prior
    * manifests forward plus the DV manifest at the next sequence number.
    * `dvs` maps ABSOLUTE data-file paths (as [[readTable]] resolves them)
    * to deleted row positions. */
  def attachDeletionVectors(destDir: String,
      dvs: Map[String, Seq[Long]]): Unit = {
    require(dvs.nonEmpty, "no deletion vectors to attach")
    val v = latestMetadataVersion(destDir).getOrElse(
      throw new IllegalArgumentException(s"no Iceberg metadata under $destDir"))
    val root = readMetadata(destDir, v).deepCopy[ObjectNode]()
    val fv = root.get("format-version").asInt()
    require(fv == 2 || fv == 3,
      s"cannot attach deletion vectors to a v$fv table (v2 upgrades to v3)")
    // reads of lineage tables are fine (lineage never alters row content),
    // but a WRITE by a writer that does not maintain first_row_id would
    // corrupt the lineage chain — refuse
    require(!Option(root.get("row-lineage")).exists(_.asBoolean(false)),
      "cannot write into a v3 table with row lineage enabled — this " +
        "writer does not maintain first_row_id, and a lineage-blind " +
        "commit would corrupt _row_id assignment; refusing (reads of " +
        "lineage tables are supported)")
    // same read/write split for v3 column defaults: reads model
    // initial-default (readTable), but this writer does not stamp
    // default-aware metadata on its commits — refuse rather than risk
    // a metadata round-trip dropping the default fields
    Option(root.get("schemas")).foreach(_.elements().asScala.foreach(s =>
      s.get("fields").elements().asScala.foreach { f =>
        require(!f.has("initial-default") && !f.has("write-default"),
          s"cannot write into a v3 table whose field " +
            s"'${f.get("name").asText()}' carries a column default — " +
            "refusing (reads of default-bearing tables are supported)")
      }))
    val location = root.get("location").asText()
    val snaps = root.get("snapshots").elements().asScala.toVector
    require(snaps.nonEmpty, "cannot attach deletion vectors to an empty table")
    val curId = root.get("current-snapshot-id").asLong()
    val cur = snaps.find(_.get("snapshot-id").asLong() == curId).getOrElse(
      throw new IllegalStateException(s"current snapshot $curId not listed"))
    // validate every referenced file is LIVE before any mutation
    val live = readTable(destDir)
    dvs.keys.foreach(f => require(live.files.contains(f),
      s"deletion vector references $f, which is not a live data file"))
    val lastSeq = root.get("last-sequence-number").asLong()
    val newSeq = lastSeq + 1
    val snapshotId = snaps.map(_.get("snapshot-id").asLong()).max + 1
    // v3 spec: a NEW deletion vector for a data file SUPERSEDES the
    // previous one — a table never carries two live DVs for one file.
    // Union any prior live DV's positions into the new vector (the old
    // deletions must survive the replacement), and below carry the
    // superseded manifest entry forward as DELETED in a rewritten
    // manifest instead of live.
    val priorDvByFile: Map[String, (String, Long, Long)] =
      live.dvs.map { case (p, _, ref, off, sz) => ref -> ((p, off, sz)) }.toMap
    val mergedDvs: Seq[(String, Seq[Long])] = dvs.toSeq.sortBy(_._1).map {
      case (f, ps) =>
        f -> (priorDvByFile.get(f) match {
          case Some((p, off, sz)) =>
            (ps ++ IcebergPuffin.readDvBlob(p, off, sz).positions).distinct
          case None => ps
        })
    }
    val superseded: Set[String] = dvs.keySet.intersect(priorDvByFile.keySet)
    val puffinPath = Paths.get(destDir, "data", s"dv-$snapshotId.puffin")
    val placed = IcebergPuffin.writeDvFile(puffinPath, snapshotId, newSeq,
      mergedDvs)
    val schemaId = Option(root.get("current-schema-id")).map(_.asInt()).getOrElse(0)
    val schemaNode = root.get("schemas").elements().asScala
      .find(_.get("schema-id").asInt() == schemaId).get
    val entries = placed.map { case (file, offset, size, card) =>
      Entry(Added, snapshotId, newSeq, puffinPath.toString, card, size,
        content = 1, referencedDataFile = Some(file),
        contentOffset = Some(offset), contentSize = Some(size))
    }
    val mPath = metadataDir(destDir).resolve(s"m-$snapshotId-dv.avro")
    writeManifest(mPath, mapper.writeValueAsString(schemaNode), entries,
      deletes = true)
    val newInfo = ManifestInfo(mPath, Files.size(mPath), newSeq, newSeq,
      snapshotId, entries, content = 1)
    // carry the prior snapshot's manifest list rows forward — untouched,
    // EXCEPT delete manifests holding a DV this commit supersedes: those
    // rewrite with the superseded entries marked DELETED (their prior
    // ADDED siblings downgrade to EXISTING), so exactly one DV per data
    // file stays live
    val priorList = resolvePath(location, cur.get("manifest-list").asText())
    var rwIdx = 0
    val carried = readAvro(priorList).map { r =>
      val mContent = intOr(r, "content", 0)
      lazy val mEntries = readManifest(
        resolvePath(location, str(r, "manifest_path")),
        longOr(r, "sequence_number", 0L))
      def supersedes(e: Entry): Boolean =
        e.status != Deleted && e.referencedDataFile.exists(rf =>
          superseded.contains(resolvePath(location, rf).toString))
      if (superseded.isEmpty || mContent != 1 || !mEntries.exists(supersedes)) {
        val rec = new GenericData.Record(manifestFileSchema)
        manifestFileSchema.getFields.asScala.foreach(f =>
          rec.put(f.name(), r.get(f.name())))
        rec: GenericRecord
      } else {
        val rewritten = mEntries.map { e =>
          require(e.partition.isEmpty,
            s"cannot rewrite a PARTITIONED delete manifest entry " +
              s"(${e.filePath}) while superseding its deletion vector — " +
              "refusing rather than dropping its partition tuple")
          if (supersedes(e)) e.copy(status = Deleted, snapshotId = snapshotId)
          else if (e.status == Added) e.copy(status = Existing)
          else e
        }
        rwIdx += 1
        val np = metadataDir(destDir).resolve(s"m-$snapshotId-dv-rw$rwIdx.avro")
        writeManifest(np, mapper.writeValueAsString(schemaNode), rewritten,
          deletes = true)
        manifestListRecord(ManifestInfo(np, Files.size(np), newSeq,
          rewritten.map(_.seq).min, snapshotId, rewritten, content = 1,
          specId = intOr(r, "partition_spec_id", 0)))
      }
    }
    val listPath = metadataDir(destDir).resolve(s"snap-$snapshotId.avro")
    writeManifestList(listPath, snapshotId, curId, newSeq,
      carried :+ manifestListRecord(newInfo))
    root.put("format-version", 3)
    root.put("last-sequence-number", newSeq)
    root.put("current-snapshot-id", snapshotId)
    val refs = root.withObject("/refs")
    val main = refs.withObject("/main")
    main.put("snapshot-id", snapshotId); main.put("type", "branch")
    root.withArray[ArrayNode]("snapshots").add(
      snapshotNode(snapshotId, curId, newSeq, listPath, schemaId, "delete", None))
    root.withArray[ArrayNode]("snapshot-log")
      .addObject().put("timestamp-ms", 0L).put("snapshot-id", snapshotId)
    writeMetadata(destDir, v + 1, root)
  }

  // ---------------------------------------------------------------- expiry

  /** Expire all but the newest `keepLast` snapshots and delete the files
    * only they reference (manifest lists, manifests, data/delete files) —
    * Iceberg's `expire_snapshots` + `remove_orphan_files` maintenance.
    * Without this a continuous [[mirror]] accrues snapshot history without
    * bound (every commit keeps every file it ever referenced alive). A
    * retained manifest keeps its file only through a LIVE (ADDED or
    * EXISTING) entry: a DELETED entry records a removal and pins nothing,
    * so a file that no retained snapshot can scan is deleted even when a
    * retained manifest still names it as DELETED. Returns (snapshots
    * expired, manifest/list files deleted, data files deleted).
    */
  def expireSnapshots(destDir: String, keepLast: Int): (Int, Int, Int) = {
    require(keepLast >= 1, "must retain at least the current snapshot")
    val v = latestMetadataVersion(destDir).getOrElse(
      throw new IllegalArgumentException(s"no Iceberg metadata under $destDir"))
    val root = readMetadata(destDir, v).deepCopy[ObjectNode]()
    val snaps = root.get("snapshots").elements().asScala
      .map(_.deepCopy[ObjectNode]()).toVector
    if (snaps.size <= keepLast) return (0, 0, 0)
    val retained = snaps.takeRight(keepLast)
    val curId = root.get("current-snapshot-id").asLong()
    require(retained.exists(_.get("snapshot-id").asLong() == curId),
      "the current snapshot must survive expiry")
    val location = root.get("location").asText()

    def listOf(s: JsonNode) = resolvePath(location, s.get("manifest-list").asText())
    def dataOf(entries: Seq[Entry]) = entries.map(e => resolvePath(location, e.filePath))
    val expired = snaps.dropRight(keepLast)
    val (metaDeleted, dataDeleted) = InterchangeMirror.sweepExpired[(Path, Long)](
      retained.map(listOf), expired.map(listOf),
      manifestsOf = lp => readAvro(lp).map(mf =>
        resolvePath(location, str(mf, "manifest_path")) -> long(mf, "sequence_number")),
      manifestPath = _._1,
      keptData = { case (mp, seq) => dataOf(readManifest(mp, seq).filter(_.status != Deleted)) },
      expiredData = { case (mp, seq) => dataOf(readManifest(mp, seq)) })

    val sArr = root.putArray("snapshots")
    retained.foreach(sArr.add)
    val slog = root.putArray("snapshot-log")
    retained.foreach { s =>
      val e = slog.addObject()
      e.put("timestamp-ms", 0L); e.put("snapshot-id", s.get("snapshot-id").asLong())
    }
    writeMetadata(destDir, v + 1, root)
    (expired.size, metaDeleted, dataDeleted)
  }

  // ---------------------------------------------------------------- mirror

  /** Incrementally mirror NEW lakehouse commits, one Iceberg snapshot per
    * lakehouse commit that changed files. Returns the number of snapshots
    * written. */
  def mirror(spark: SparkSession, table: LakehouseTable, destDir: String): Int =
    MirrorFormat.mirror(spark, table, destDir)

  /** The Iceberg side of [[InterchangeMirror]]: one snapshot per version
    * that changed files, ONE metadata version per call (Iceberg metadata
    * versions are per-commit-attempt, not per-snapshot; every snapshot is
    * individually time-travelable from the snapshots list); maintenance
    * is `snapshots.keep` ([[expireSnapshots]] per sync). */
  private[sinks] object MirrorFormat extends InterchangeMirror.Format {
    val maintenance: Set[String] = Set(InterchangeMirror.SnapshotsKeep)

    def open(spark: SparkSession, table: LakehouseTable,
        destDir: String): InterchangeMirror.Writer = new MirrorWriter(spark, table, destDir)

    def maintain(spark: SparkSession, destDir: String, written: Int,
        m: InterchangeMirror.Maintenance): Unit =
      if (m(InterchangeMirror.SnapshotsKeep) > 0)
        expireSnapshots(destDir, m(InterchangeMirror.SnapshotsKeep))
  }

  private final class MirrorWriter(spark: SparkSession, table: LakehouseTable,
      destDir: String) extends InterchangeMirror.Writer {
    // ---- mirror state, recovered from the destination metadata alone
    private val prior = latestMetadataVersion(destDir)
    private var schemas = Vector.empty[ObjectNode]
    private var lastColumnId = 0
    private var snapshots = Vector.empty[ObjectNode] // prior snapshot nodes, carried
    private var lastSeq = 0L
    private var currentSnapshotId = -1L
    private var manifests = Vector.empty[ManifestInfo]
    private var partitionKeys = Seq.empty[String]
    private var written = 0

    val lastMirrored: Long = prior.map { v =>
      val root = readMetadata(destDir, v)
      require(root.get("format-version").asInt() == 2, "mirror target must be v2")
      val recorded = Option(root.get("properties"))
        .flatMap(p => Option(p.get(MirrorProperty))).map(_.asText().toLong)
        .getOrElse(throw new IllegalStateException(
          s"$destDir has Iceberg metadata but no $MirrorProperty property — " +
            "it is not a graft mirror"))
      root.get("schemas").elements().asScala.foreach(s =>
        schemas :+= s.deepCopy[ObjectNode]())
      lastColumnId = root.get("last-column-id").asInt()
      lastSeq = root.get("last-sequence-number").asLong()
      currentSnapshotId = root.get("current-snapshot-id").asLong()
      root.get("snapshots").elements().asScala.foreach(s =>
        snapshots :+= s.deepCopy[ObjectNode]())
      if (currentSnapshotId >= 0) {
        val cur = snapshots.find(_.get("snapshot-id").asLong() == currentSnapshotId).get
        val location = Paths.get(destDir).toAbsolutePath.toString
        manifests = readAvro(resolvePath(location, cur.get("manifest-list").asText())).map { mf =>
          val p = resolvePath(location, str(mf, "manifest_path"))
          // DELETED entries from prior snapshots age out here: a carried
          // manifest re-lists only its live entries
          ManifestInfo(p, long(mf, "manifest_length"), long(mf, "sequence_number"),
            long(mf, "min_sequence_number"), long(mf, "added_snapshot_id"),
            readManifest(p, long(mf, "sequence_number"))
              .filter(_.status != Deleted), int(mf, "content"),
            int(mf, "partition_spec_id"))
        }.toVector
      }
      recorded
    }.getOrElse(-1L)

    def write(d: InterchangeMirror.VersionDiff): Unit = {
      val v = d.version
      partitionKeys = d.partitionKeys
      val partitioned = d.partitioned
      val struct = d.struct
      val partTypes: Seq[(String, DataType)] = partitionKeys.map(c => c -> struct(c).dataType)
      // compare at the Iceberg-schema level (field nodes, schema-id aside):
      // Spark structs do not round-trip exactly through Iceberg types
      // (short → int), so a struct compare would re-append forever after
      // a recovery. Evolution EXTENDS the previous schema node (common
      // fields keep their ids — including nested element-ids — and new
      // fields allocate ids after last-column-id), so the spec's
      // id-stability rule holds across append-only evolution; a fresh
      // positional allocation would shift nested ids whenever a top-level
      // column is appended after an array column.
      val (candNode, candLc) = schemas.lastOption match {
        case None => icebergSchema(struct, 0)
        case Some(prevNode) => extendIcebergSchema(
          prevNode, struct, schemas.size, lastColumnId, v)
      }
      if (schemas.isEmpty || candNode.get("fields") != schemas.last.get("fields")) {
        schemas :+= candNode
        lastColumnId = math.max(lastColumnId, candLc)
      }
      // MERGE-ON-READ delete files map 1:1 onto Iceberg v2 equality
      // deletes (the lakehouse MOR model is built on that spec): a new
      // delete file becomes a delete manifest at this snapshot's sequence
      // number, so it masks exactly the data files of EARLIER snapshots —
      // the lakehouse's own `AddFile.ver < delete.ver` rule
      if (d.filesChanged) {
        val (adds, removes, delAdds, delRemoves) = (d.adds, d.removes, d.delAdds, d.delRemoves)
        val snapshotId = v + 1
        lastSeq += 1
        val schemaJson = mapper.writeValueAsString(schemas.last)
        // identity spec over the CURRENT schema node's field ids (stable
        // across append-only evolution)
        val specJson =
          if (!partitioned) "[]"
          else mapper.writeValueAsString(identitySpecFields(schemas.last, partitionKeys))
        val mdir = metadataDir(destDir)
        Files.createDirectories(mdir)

        // removed files (data AND delete) map to the manifests that hold
        // them: rewrite ONLY those (kept entries → EXISTING at their
        // original sequence numbers, removed → DELETED), carry the rest
        // forward untouched
        val removedNames: Set[String] =
          if (!partitioned)
            (removes.map(_.path) ++ delRemoves.map(_.path))
              .map(_.replace('/', '-')).toSet
          else {
            // partitioned mirrored data files are named
            // `part-s<snap>-b<srcBucket>-<n>`: the source lakehouse bucket
            // (the COW removal granularity — whole buckets rewrite) rides
            // in the NAME, so removals map exactly with no sidecar
            val rb = PartitionedMirror.wholeBucketRemovalSet(d, "Iceberg")
            val deadData = manifests.filter(_.content == 0).flatMap(_.live)
              .map(e => Paths.get(e.filePath).getFileName.toString)
              .filter(n => PartitionedMirror.srcBucketOf(n).exists(rb.contains))
            deadData.toSet ++ delRemoves.map(_.path.replace('/', '-')).toSet
          }
        def holdsRemoved(m: ManifestInfo): Boolean =
          m.live.exists(e => removedNames.contains(Paths.get(e.filePath)
            .getFileName.toString))
        val (affected, carried) = manifests.partition(holdsRemoved)
        val matchedNames = affected.flatMap(_.live.map(e =>
          Paths.get(e.filePath).getFileName.toString)).toSet
        removedNames.foreach(n => require(matchedNames.contains(n),
          s"removed file $n is in no live manifest — mirror state is out of sync"))
        var mNum = 0
        def nextManifest(): Path = {
          val p = mdir.resolve(s"m-$snapshotId-$mNum.avro"); mNum += 1; p
        }
        val rewritten = affected.map { m =>
          val entries = m.live.map { e =>
            val name = Paths.get(e.filePath).getFileName.toString
            if (removedNames.contains(name))
              e.copy(status = Deleted, snapshotId = snapshotId)
            else e.copy(status = Existing)
          }
          val p = nextManifest()
          // rewritten DATA manifests of a partitioned table keep their
          // partition struct (entries parsed it under the writer schema)
          val dataPart = m.content == 0 && partitioned
          writeManifest(p, schemaJson, entries, deletes = m.content == 1,
            partitionTypes = if (dataPart) partTypes else Nil,
            partitionSpecJson = if (dataPart) specJson else "[]",
            specId = m.specId)
          ManifestInfo(p, Files.size(p), m.seq,
            entries.filter(_.status != Deleted).map(_.seq).minOption.getOrElse(m.seq),
            snapshotId, entries, m.content, m.specId)
        }
        val addedManifest =
          if (adds.isEmpty) None
          else if (!partitioned) {
            val rows = InterchangeMirror.resolveRowCounts(spark, table.dir, adds)
            val entries = adds.map { f =>
              val (out, size) = copyFile(table, destDir, f.path)
              Entry(Added, snapshotId, lastSeq, out.toString, rows(f.path), size,
                bounds = boundsOf(f.stats, struct))
            }
            val p = nextManifest()
            writeManifest(p, schemaJson, entries)
            Some(ManifestInfo(p, Files.size(p), lastSeq, lastSeq, snapshotId, entries))
          } else {
            // partitioned: metadata-only when the footers prove every add
            // single-partition (hard-copy, no Spark job); else ONE
            // partitionBy job splits the commit's adds by (partition
            // tuple, source lakehouse bucket) — the bucket rides in the
            // file name for removal mapping; the job path keeps partition
            // columns OUT of the data files (Column Projection restores
            // them), the copy path leaves them in (the constant override
            // on import reads identically). Per-file zone-map bounds are
            // dropped (the lakehouse stats are per source file) — pruning
            // comes from the partition tuple.
            val (moved, rows) = PartitionedMirror.splitOrCopyAdds(
              spark, table.dir, adds, struct, d.schema.primaryKeys,
              d.meta.buckets, destDir, partitionKeys,
              (n, _, srcb) => f"part-s$snapshotId-b${srcb.get}-$n%05d.parquet")
            val entries = moved.map { case (out, part, _) =>
              Entry(Added, snapshotId, lastSeq, out.toString,
                rows(out.toAbsolutePath.toString), Files.size(out),
                partition = part)
            }
            val p = nextManifest()
            writeManifest(p, schemaJson, entries,
              partitionTypes = partTypes, partitionSpecJson = specJson)
            Some(ManifestInfo(p, Files.size(p), lastSeq, lastSeq, snapshotId, entries))
          }
        // new MOR delete files → a delete manifest (manifest content=1,
        // data_file.content=2) whose equality ids are the PK field ids
        val deleteManifest =
          if (delAdds.isEmpty) None
          else {
            val names = struct.fieldNames.toSeq
            val eqIds = d.schema.primaryKeys.map { k =>
              val i = names.indexOf(k)
              require(i >= 0, s"primary key $k not in schema")
              i + 1
            }
            val counts = InterchangeMirror.countRows(spark, delAdds.map(f =>
              Paths.get(table.dir, f.path).toAbsolutePath.toString))
            val entries = delAdds.map { f =>
              val (out, size) = copyFile(table, destDir, f.path)
              Entry(Added, snapshotId, lastSeq, out.toString,
                counts(Paths.get(table.dir, f.path).toAbsolutePath.toString),
                size, content = 2, equalityIds = eqIds)
            }
            val p = nextManifest()
            // equality deletes mask by key GLOBALLY: on a partitioned table
            // they park on the secondary UNPARTITIONED spec (id 1)
            val specId = if (partitioned) 1 else 0
            writeManifest(p, schemaJson, entries, deletes = true, specId = specId)
            Some(ManifestInfo(p, Files.size(p), lastSeq, lastSeq, snapshotId,
              entries, content = 1, specId = specId))
          }
        // a rewritten manifest that became ALL-DELETED still appears in
        // THIS snapshot's list (it records the deletion), then ages out of
        // the carried-forward state below
        val listed = carried ++ rewritten ++ addedManifest ++ deleteManifest
        manifests = listed.filter(_.entries.exists(_.status != Deleted)).toVector
        val listPath = mdir.resolve(s"snap-$snapshotId.avro")
        writeManifestList(listPath, snapshotId, currentSnapshotId, lastSeq,
          listed.map(manifestListRecord))
        val operation =
          if (removes.isEmpty && delRemoves.isEmpty && delAdds.nonEmpty &&
            adds.isEmpty) "delete"
          else if (removes.isEmpty && delRemoves.isEmpty) "append"
          else "overwrite"
        snapshots :+= snapshotNode(snapshotId, currentSnapshotId, lastSeq, listPath,
          schemas.size - 1, operation, Some(v))
        currentSnapshotId = snapshotId
        written += 1
      }
    }

    def finish(head: Long): Int = {
      val curSchemaNode = schemas.last
      val root = baseMetadata(destDir, schemas, schemas.size - 1, lastColumnId, Map(
        "schema.name-mapping.default" -> nameMapping(curSchemaNode),
        MirrorProperty -> head.toString))
      if (partitionKeys.nonEmpty) {
        // spec 0 (default): the identity layout; spec 1: the UNPARTITIONED
        // spec the equality-delete manifests ride on
        val specs = root.putArray("partition-specs")
        val s0 = specs.addObject()
        s0.put("spec-id", 0)
        s0.set[JsonNode]("fields", identitySpecFields(curSchemaNode, partitionKeys))
        val s1 = specs.addObject()
        s1.put("spec-id", 1); s1.putArray("fields")
        root.put("last-partition-id", 999 + partitionKeys.size)
      }
      val metaVersion = prior.getOrElse(0)
      putSnapshots(root, destDir, lastSeq, currentSnapshotId, snapshots, metaVersion)
      writeMetadata(destDir, metaVersion + 1, root)
      written
    }
  }

  /** Identity partition-spec fields over `schemaNode`'s field ids
    * (partition field ids 1000+). */
  private def identitySpecFields(schemaNode: JsonNode,
      partitionKeys: Seq[String]): ArrayNode = {
    val fields = schemaNode.get("fields").elements().asScala.toSeq
    val arr = mapper.createArrayNode()
    partitionKeys.zipWithIndex.foreach { case (c, i) =>
      val id = fields.find(_.get("name").asText() == c).getOrElse(
        throw new IllegalStateException(
          s"partition column '$c' missing from the Iceberg schema"))
        .get("id").asInt()
      val f = arr.addObject()
      f.put("name", c); f.put("transform", "identity")
      f.put("source-id", id); f.put("field-id", 1000 + i)
    }
    arr
  }
}
