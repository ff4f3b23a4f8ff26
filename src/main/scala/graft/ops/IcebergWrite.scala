package graft.ops

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Apache Iceberg APPEND writer, scoped v1 (single-writer,
  * append-only) — the second half of the table-format write story
  * beside [[DeltaWrite]], built on the in-repo from-spec Avro
  * writers the fixture builders already use. From the published
  * Iceberg Table Spec:
  *
  *  - data files are plain parquet holding EVERY column (identity
  *    partitioning records the tuple in metadata but does NOT drop
  *    the column from the files); `partitionBy` (round 18) writes an
  *    identity-partitioned layout — partition tuples in each
  *    manifest entry's `data_file.partition`, an identity spec in
  *    `partition-specs` — so the reader's manifest partition pruning
  *    engages on own-written tables; `clusterBy` range-clusters
  *    files on the given columns so their recorded bounds become
  *    disjoint and the bounds skipper prunes effectively;
  *  - each snapshot's manifest (Avro) lists its data files with
  *    per-column `lower_bounds`/`upper_bounds` +
  *    `null_value_counts`/`value_counts` (Appendix D single-value
  *    serialization) — exactly what [[Iceberg.readTable]]'s
  *    column-bounds skipping consumes;
  *  - an APPEND commit = new manifest + a manifest list carrying ALL
  *    live manifests (previous snapshot's + the new one) + a new
  *    `vN.metadata.json` with the snapshot appended and
  *    `current-snapshot-id`/`snapshot-log` advanced;
  *  - field IDs are the IDENTITY of a column (spec §Schemas): when a
  *    prior schema exists its ids are REUSED verbatim (round 18,
  *    ADVICE r17 — positional re-derivation would silently remap ids
  *    under parquet footers and manifest bound keys written earlier);
  *    table-uuid / schemas / partition-specs carry forward verbatim;
  *  - commit atomicity = exclusive creation of the next metadata
  *    version (hard link, the [[DeltaWrite]] trick — POSIX rename
  *    would silently replace a racing writer's commit); the
  *    version-hint update follows the win. Conflict resolution is
  *    out of the v1 scope, by name.
  *
  * Append-compat gate: format-version 2 exactly (appending v2
  * manifests into a v1 table would silently upgrade it), same schema
  * (names + types), all prior fields optional (this writer cannot
  * prove incoming data satisfies a required-ness invariant for every
  * type), the prior default partition spec must equal the identity
  * spec of this call's `partitionBy`, and no delete manifests in the
  * current snapshot (appending around row-level deletes this writer
  * cannot re-sequence could resurrect deleted rows — refuse rather
  * than risk it).
  *
  * Scale shape: one distributed `df.write` (plus the optional
  * repartitionByRange / partitioned fan-out), one cluster-side
  * per-file stats aggregation; the manifest/metadata walk is
  * metadata-bounded driver work.
  */
object IcebergWrite {

  private def refuse(msg: String): Nothing =
    throw new graft.GraftAnalysisException(s"iceberg write: $msg")

  /** Iceberg type string for a Spark type; None = this writer cannot
    * record the column in the schema (refuse — silently dropping a
    * column is data loss). */
  private def icebergTypeOf(dt: DataType): Option[String] = dt match {
    case IntegerType | ShortType | ByteType => Some("int")
    case LongType => Some("long")
    case FloatType => Some("float")
    case DoubleType => Some("double")
    case StringType => Some("string")
    case BooleanType => Some("boolean")
    case DateType => Some("date")
    case TimestampType => Some("timestamptz")
    case TimestampNTZType => Some("timestamp")
    case BinaryType => Some("binary")
    case d: DecimalType => Some(s"decimal(${d.precision},${d.scale})")
    case _ => None
  }

  /** Avro primitive for an identity-partition column's tuple values.
    * Only types whose RAW Avro value the reader's tuple pruning
    * compares soundly (int/long/string/boolean — a date would cross
    * as a bare epoch-day int and compare wrongly against date
    * literals); None = not writable as a v1 partition column. */
  private def partitionAvroTypeOf(dt: DataType): Option[String] = dt match {
    case IntegerType | ShortType | ByteType => Some("int")
    case LongType => Some("long")
    case StringType => Some("string")
    case BooleanType => Some("boolean")
    case _ => None
  }

  /** Appendix D single-value encode for the bound types the reader's
    * [[Iceberg.decodeBound]] compares; None = bounds not recorded for
    * this type (floats/doubles deliberately — NaN). */
  private def encodeBound(dt: DataType, v: Any): Option[Array[Byte]] = (dt, v) match {
    case (_, null) => None
    case (IntegerType | ShortType | ByteType, n) =>
      Some(java.nio.ByteBuffer.allocate(4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(n.toString.toInt).array())
    case (LongType, n: java.lang.Long) => Some(Iceberg.encodeBoundLong(n))
    case (StringType, s: String) if s.length <= 256 =>
      Some(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    case (BooleanType, b: java.lang.Boolean) =>
      Some(Array[Byte](if (b) 1 else 0))
    case (DateType, d: java.sql.Date) =>
      Some(java.nio.ByteBuffer.allocate(4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        .putInt(d.toLocalDate.toEpochDay.toInt).array())
    // timestamps per Appendix D: microseconds from epoch, 8-byte LE —
    // `WHERE ts BETWEEN …` is the most common pruning predicate and
    // the reader's decodeBound already compares these (round 18)
    case (TimestampType, t: java.sql.Timestamp) =>
      Some(Iceberg.encodeBoundLong(instantMicros(t.toInstant)))
    case (TimestampType, i: java.time.Instant) =>
      Some(Iceberg.encodeBoundLong(instantMicros(i)))
    case (TimestampNTZType, l: java.time.LocalDateTime) =>
      Some(Iceberg.encodeBoundLong(instantMicros(l.toInstant(java.time.ZoneOffset.UTC))))
    case _ => None
  }

  private def instantMicros(i: java.time.Instant): Long =
    Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L), i.getNano / 1000L)

  /** Stats-recordable column types (feed [[encodeBound]]). */
  private def statsRecordable(dt: DataType): Boolean = dt match {
    case IntegerType | ShortType | ByteType | LongType | StringType |
         BooleanType | DateType | TimestampType | TimestampNTZType => true
    case _ => false
  }

  /** Append `df` to the Iceberg table at `tableDir`, creating it when
    * no metadata exists. `partitionBy` writes an identity-partitioned
    * layout (tuple-pruning engages); `clusterBy` range-partitions the
    * write on the given columns (disjoint per-file bounds → bounds
    * skipping engages). `observe` wraps the rows the data write consumes,
    * above the range sampling job. Returns the committed snapshot id. */
  def append(spark: SparkSession, df: DataFrame, tableDir: String,
      clusterBy: Seq[String] = Seq.empty, numFiles: Int = 0,
      partitionBy: Seq[String] = Seq.empty,
      txn: Option[(String, Long)] = None,
      mergeSchema: Boolean = false,
      observe: DataFrame => DataFrame = identity[DataFrame]): Long = {
    val schema = df.schema
    if (schema.fields.isEmpty) refuse("empty schema")
    clusterBy.foreach(c => if (!schema.fieldNames.contains(c))
      refuse(s"cluster column '$c' is not in the data"))
    if (partitionBy.nonEmpty && clusterBy.nonEmpty)
      refuse("partitionBy and clusterBy are mutually exclusive in the v1 scope")
    if (partitionBy.distinct.size != partitionBy.size)
      refuse("duplicate partition columns")
    val partFields: Seq[(StructField, String)] = partitionBy.map { c =>
      val f = schema.fields.find(_.name == c).getOrElse(
        refuse(s"partition column '$c' is not in the data"))
      if (!c.matches("[A-Za-z_][A-Za-z0-9_]*"))
        refuse(s"partition column '$c' is not a legal Avro record field name; " +
          "the manifest's partition tuple could not carry it")
      f -> partitionAvroTypeOf(f.dataType).getOrElse(
        refuse(s"partition column '$c' has type ${f.dataType.simpleString}; v1 " +
          "identity partitioning writes int/long/string/boolean only (a date " +
          "tuple crosses Avro as a bare epoch-day int, which tuple pruning " +
          "cannot soundly compare to date literals)"))
    }
    schema.fields.foreach(f => if (icebergTypeOf(f.dataType).isEmpty)
      refuse(s"column '${f.name}' has type ${f.dataType.simpleString}, which this " +
        "writer cannot record in an Iceberg schema; refusing beats dropping it"))
    if (df.isEmpty) refuse("nothing to append (empty input)")

    val metaDir = s"$tableDir/metadata"
    val existingMeta: Option[(Int, String)] = // (version N of vN.metadata.json, content)
      TableIo.list(metaDir).map(_.name)
        .filter(_.matches("""v\d+\.metadata\.json"""))
        .map(n => n.stripPrefix("v").stripSuffix(".metadata.json").toInt -> n)
        .sortBy(_._1).lastOption
        .map { case (v, n) => v -> TableIo.readString(s"$metaDir/$n") }

    import org.json4s._
    import org.json4s.jackson.JsonMethods
    // prior state: snapshots + schema identity to carry forward, and
    // the append-compat gate
    final case class Prior(metaVersion: Int, snapshots: Seq[JValue],
        currentManifests: Seq[(String, Long, Int)], snapshotLog: Seq[JValue],
        maxSnapshotId: Long, fields: Seq[Iceberg.SchemaField],
        schemasJson: Seq[JValue], currentSchemaId: Int,
        specsJson: Seq[JValue], defaultSpecId: Int, tableUuid: Option[String])
    val prior: Option[Prior] = existingMeta.map { case (mv, content) =>
      val meta = Iceberg.parseMetadata(content).getOrElse(
        refuse("existing metadata is unreadable; cannot append"))
      if (meta.formatVersion > 2) refuse(s"format-version ${meta.formatVersion} unsupported")
      if (meta.formatVersion < 2)
        refuse(s"existing table is format-version ${meta.formatVersion}; this " +
          "writer emits v2 manifests and appending them would silently upgrade " +
          "the table — out of the v1 scope")
      // schema compat (names + types as sets); mergeSchema (round 18)
      // permits ADD-ONLY evolution — the spec's safe subset: new
      // columns get fresh field ids, existing ids/required flags
      // carry forward, drops and retypes refuse (both lose data)
      val existingFields = meta.schemaFields.map(f => (f.name, f.tpe)).sorted
      val newFields = schema.fields.map(f =>
        (f.name, icebergTypeOf(f.dataType).get)).toSeq.sorted
      if (existingFields.nonEmpty && existingFields != newFields) {
        if (!mergeSchema)
          refuse(s"schema mismatch: table has ${existingFields.mkString(",")}, " +
            s"append carries ${newFields.mkString(",")} (mergeSchema = true " +
            "evolves by adding columns)")
        val exT = meta.schemaFields.map(f => f.name -> f.tpe).toMap
        val dropped = meta.schemaFields.map(_.name)
          .filterNot(schema.fieldNames.contains)
        if (dropped.nonEmpty)
          refuse(s"mergeSchema cannot DROP columns (${dropped.mkString(", ")})")
        schema.fields.filter(f => exT.contains(f.name)).foreach { f =>
          val t = icebergTypeOf(f.dataType).get
          if (exT(f.name) != t)
            refuse(s"mergeSchema cannot RETYPE column '${f.name}' " +
              s"(${exT(f.name)} -> $t)")
        }
      }
      meta.schemaFields.filter(_.required) match {
        case Seq() => ()
        case req => refuse(s"existing schema marks ${req.map(_.name).mkString(", ")} " +
          "required; this writer cannot prove incoming data satisfies that " +
          "invariant for every type — out of the v1 scope")
      }
      val jv = JsonMethods.parse(content)
      val snaps = jv \ "snapshots" match { case JArray(xs) => xs; case _ => Nil }
      val slog = jv \ "snapshot-log" match { case JArray(xs) => xs; case _ => Nil }
      val schemasJson = jv \ "schemas" match { case JArray(xs) => xs; case _ => Nil }
      val curSchemaId = jv \ "current-schema-id" match { case JInt(v) => v.toInt; case _ => 0 }
      val specsJson = jv \ "partition-specs" match { case JArray(xs) => xs; case _ => Nil }
      val defaultSpecId = jv \ "default-spec-id" match { case JInt(v) => v.toInt; case _ => 0 }
      val uuid = jv \ "table-uuid" match { case JString(s) => Some(s); case _ => None }
      // the DEFAULT spec must equal this call's identity spec — else
      // the new entries' tuples would not be what the declared spec
      // promises (a reader pruning on it would prune wrong files)
      val defaultSpecFields: Seq[(String, String)] =
        specsJson.find(s => s \ "spec-id" match {
          case JInt(v) => v.toInt == defaultSpecId; case _ => false
        }).orElse(specsJson.headOption).toSeq.flatMap { s =>
          s \ "fields" match {
            case JArray(fs) => fs.flatMap { f =>
              (f \ "name", f \ "transform") match {
                case (JString(n), JString(t)) => Some(n -> t)
                case _ => None
              }
            }
            case _ => Nil
          }
        }
      if (defaultSpecId != 0)
        refuse(s"existing table's default-spec-id is $defaultSpecId; this " +
          "writer's manifest lists declare partition_spec_id 0 — out of the " +
          "v1 scope")
      val askedSpec = partitionBy.map(_ -> "identity")
      if (defaultSpecFields != askedSpec)
        refuse(s"partition spec mismatch: table's default spec is " +
          s"[${defaultSpecFields.map { case (n, t) => s"$t($n)" }.mkString(", ")}], " +
          s"append asked for [${askedSpec.map { case (n, t) => s"$t($n)" }.mkString(", ")}]")
      val curManifests: Seq[(String, Long, Int)] = meta.currentSnapshotId match {
        case None => Seq.empty
        case Some(cur) =>
          val snap = meta.snapshots.find(_.id == cur).getOrElse(
            refuse("current snapshot missing from the snapshots list"))
          val ml = snap.manifestList.getOrElse(
            refuse("current snapshot has no manifest list; cannot carry it forward"))
          val mlPath = Iceberg.resolvePath(tableDir, meta.location, ml)
          if (!TableIo.isFile(mlPath)) refuse(s"manifest list missing: $mlPath")
          val entries = Iceberg.manifestListEntries(
            TableIo.readBytes(mlPath)).getOrElse(
            refuse("unreadable current manifest list"))
          if (entries.exists(_._2 == 1))
            refuse("current snapshot carries delete manifests; appending around " +
              "row-level deletes this writer cannot re-sequence risks resurrecting " +
              "deleted rows — out of the v1 scope")
          entries.map { case (p, c, _) =>
            val mp = Iceberg.resolvePath(tableDir, meta.location, p)
            (p, TableIo.size(mp), c)
          }
      }
      Prior(mv, snaps, curManifests, slog,
        meta.snapshots.map(_.id).foldLeft(0L)(math.max),
        meta.schemaFields, schemasJson, curSchemaId, specsJson, defaultSpecId, uuid)
    }

    // APPLICATION-TRANSACTION idempotence (round 18): an epoch the
    // table already recorded — via the snapshot summary's
    // graft-app-id / graft-epoch properties (Iceberg's summary map is
    // the spec's home for writer-defined commit metadata) — is a
    // REPLAY: succeed without writing anything, the exactly-once
    // contract a restarting streaming sink needs
    txn.foreach { case (appId, epoch) =>
      val replayed = prior.exists(_.snapshots.exists { s =>
        (s \ "summary" \ "graft-app-id", s \ "summary" \ "graft-epoch") match {
          case (JString(a), JString(v)) =>
            a == appId && scala.util.Try(v.toLong).toOption.exists(_ >= epoch)
          case _ => false
        }
      })
      if (replayed) return prior.get.maxSnapshotId
    }

    // FIELD IDS: the spec makes ids the column's identity — reuse the
    // prior schema's mapping verbatim (parquet footers and manifest
    // bound keys written earlier resolve through them); fresh tables
    // number positionally
    val fieldId: Map[String, Int] = prior match {
      case Some(p) if p.fields.nonEmpty =>
        val m = p.fields.map(f => f.name -> f.id).toMap
        if (m.size != p.fields.size)
          refuse("existing schema carries duplicate field names; the name→id " +
            "mapping cannot be reconciled")
        val added = schema.fields.map(_.name).filterNot(m.contains).toSeq
        if (added.nonEmpty && !mergeSchema)
          refuse(s"existing schema has no field id for " +
            s"${added.mkString(", ")}; cannot reconcile")
        // evolution: fresh ids ABOVE every id ever assigned (the
        // spec's last-column-id rule — ids are never reused)
        val base = p.fields.map(_.id).max
        m ++ added.zipWithIndex.map { case (n, i) => n -> (base + 1 + i) }
      case _ => schema.fields.zipWithIndex.map { case (f, i) => f.name -> (i + 1) }.toMap
    }
    // does THIS append evolve the schema?
    val evolvedIb: Boolean = prior.exists(p => p.fields.nonEmpty &&
      schema.fields.exists(f => !p.fields.exists(_.name == f.name)))

    // ONE distributed data write. Identity partitioning fans out via
    // COPY columns (`__graft_p_<c>`) so Spark's partitioned writer
    // splits files per tuple value while the REAL columns stay in the
    // files (Iceberg keeps identity-partitioned columns in the data,
    // unlike Hive layout); range clustering when asked.
    val stage = s"$tableDir/.graft-stage-${java.util.UUID.randomUUID()}"
    val shaped0 = observe(
      if (clusterBy.nonEmpty) {
        val n = if (numFiles > 0) numFiles else spark.sparkContext.defaultParallelism
        df.repartitionByRange(n, clusterBy.map(c => col(s"`$c`")): _*)
      } else df)
    if (partitionBy.isEmpty)
      shaped0.write.mode("overwrite").parquet(stage)
    else {
      val copies = partitionBy.map(c => s"__graft_p_$c")
      val withCopies = partitionBy.zip(copies).foldLeft(shaped0) {
        case (d, (c, cp)) => d.withColumn(cp, col(s"`$c`"))
      }
      withCopies.write.mode("overwrite").partitionBy(copies: _*)
        .parquet(stage)
    }
    val parts = TableIo.walkRel(stage).filter { r =>
      val n = r.split('/').last
      n.startsWith("part-") && n.endsWith(".parquet")
    }
    if (parts.isEmpty) refuse("the data write produced no files")
    TableIo.mkdirs(s"$tableDir/data")
    // publish under names unique across the whole commit — a
    // partitioned Spark write reuses one task's part name under every
    // partition dir, so the source basename cannot key the stats rows
    final case class MovedFile(name: String, path: String, size: Long)
    val moved: Seq[MovedFile] = parts.zipWithIndex.map { case (rel, idx) =>
      val base = rel.split('/').last
      val ext = base.dropWhile(_ != '.') // ".c000.snappy.parquet" etc.
      val name = f"part-$idx%05d-${java.util.UUID.randomUUID()}$ext"
      val dest = s"$tableDir/data/$name"
      TableIo.rename(s"$stage/$rel", dest)
      MovedFile(name, dest, TableIo.size(dest))
    }
    TableIo.delete(stage, recursive = true)

    // per-file stats: one cluster aggregation, bounds for every
    // comparable column (the skipper's food); partition tuple values
    // fall out of the same rows (identity: min == max per file)
    val statsCols = schema.fields.toSeq.filter(f => statsRecordable(f.dataType))
    val aggs: Seq[org.apache.spark.sql.Column] =
      count(lit(1)).as("__n") +: statsCols.flatMap { f =>
        Seq(min(col(s"`${f.name}`")).as(s"${f.name}__lo"),
          max(col(s"`${f.name}`")).as(s"${f.name}__hi"),
          sum(col(s"`${f.name}`").isNull.cast("long")).as(s"${f.name}__nc"))
      }
    val statRowList = spark.read.parquet(moved.map(_.path): _*)
      .groupBy(col("_metadata.file_path").as("__fp"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
    val statRows: Map[String, Row] = statRowList
      .map(r => r.getString(0).substring(r.getString(0).lastIndexOf('/') + 1) -> r).toMap
    if (statRows.size != statRowList.length)
      refuse("per-file stats rows collide by basename; cannot attribute stats safely")

    val statIdx: Map[String, Int] = statsCols.map(_.name).zipWithIndex.toMap
    def partitionTuple(r: Row, fileName: String): Map[String, Any] =
      partFields.map { case (f, _) =>
        val i = statIdx(f.name)
        val lo = r.get(2 + 3 * i); val hi = r.get(3 + 3 * i)
        val nc = r.getLong(4 + 3 * i); val n = r.getLong(1)
        if (nc == n) f.name -> null // the null-partition file
        else if (nc != 0L || lo != hi)
          refuse(s"file $fileName spans more than one value of partition " +
            s"column '${f.name}'; the identity tuple cannot represent it")
        else f.name -> (lo match {
          case b: java.lang.Byte => Int.box(b.toInt)
          case s: java.lang.Short => Int.box(s.toInt)
          case v => v
        })
      }.toMap

    val entries: Seq[Iceberg.Entry] = moved.map { f =>
      val r = statRows.getOrElse(f.name, refuse(s"no stats row for ${f.name}"))
      val lo = Map.newBuilder[Int, Array[Byte]]
      val hi = Map.newBuilder[Int, Array[Byte]]
      val nc = Map.newBuilder[Int, Long]
      val vc = Map.newBuilder[Int, Long]
      statsCols.zipWithIndex.foreach { case (sf, i) =>
        val id = fieldId(sf.name)
        encodeBound(sf.dataType, r.get(2 + 3 * i)).foreach(b => lo += id -> b)
        encodeBound(sf.dataType, r.get(3 + 3 * i)).foreach(b => hi += id -> b)
        nc += id -> r.getLong(4 + 3 * i)
        vc += id -> r.getLong(1)
      }
      Iceberg.Entry(1, s"$tableDir/data/${f.name}", "PARQUET",
        r.getLong(1), f.size,
        partition = if (partFields.isEmpty) Map.empty
          else partitionTuple(r, f.name).filter(_._2 != null),
        lowerBounds = lo.result(), upperBounds = hi.result(),
        nullCounts = nc.result(), valueCounts = vc.result())
    }

    val snapshotId = prior.map(_.maxSnapshotId + 1).getOrElse(1L)
    val metaVersion = prior.map(_.metaVersion + 1).getOrElse(1)
    val manifestName = f"m-$snapshotId%05d.avro"
    val manifest =
      if (partFields.isEmpty) Iceberg.writeManifestBounds(entries, s"graft-ib-w-$snapshotId")
      else Iceberg.writeManifestPartBounds(entries,
        partFields.map { case (f, avroT) => f.name -> avroT }, s"graft-ib-w-$snapshotId")
    TableIo.mkdirs(metaDir)
    TableIo.writeBytes(s"$metaDir/$manifestName", manifest)
    val allManifests: Seq[(String, Long, Int)] =
      prior.map(_.currentManifests).getOrElse(Seq.empty) :+
        ((s"$tableDir/metadata/$manifestName", manifest.length.toLong, 0))
    val mlName = f"snap-$snapshotId%05d.avro"
    val ml = Iceberg.writeManifestListV2(allManifests.map { case (p, l, c) => (p, l, c) },
      s"graft-ib-ml-$snapshotId")
    TableIo.writeBytes(s"$metaDir/$mlName", ml)

    // the new metadata document — schema identity (ids, required
    // flags, schema-id), partition specs and the table uuid carry
    // forward VERBATIM from the prior table; fresh tables mint them
    import org.json4s.JsonDSL._
    val now = System.currentTimeMillis()
    val priorMaxSchemaId: Int = prior.map(p => p.schemasJson
      .flatMap(sj => sj \ "schema-id" match {
        case JInt(v) => Some(v.toInt); case _ => None })
      .foldLeft(p.currentSchemaId)(math.max)).getOrElse(0)
    val schemaId =
      if (evolvedIb) priorMaxSchemaId + 1
      else prior.map(_.currentSchemaId).getOrElse(0)
    val schemasJson: List[JValue] =
      if (evolvedIb) {
        // a NEW schema document: prior fields verbatim (ids, required,
        // order), added fields appended with their fresh ids; the
        // prior schemas stay in the list (the spec keeps history)
        val pr = prior.get
        val addedF = schema.fields.toList
          .filterNot(f => pr.fields.exists(_.name == f.name))
        val fields = pr.fields.toList.map(f =>
          (("id" -> f.id) ~ ("name" -> f.name) ~ ("required" -> f.required) ~
            ("type" -> f.tpe)): JValue) ++
          addedF.map(f =>
            (("id" -> fieldId(f.name)) ~ ("name" -> f.name) ~
              ("required" -> false) ~
              ("type" -> icebergTypeOf(f.dataType).get)): JValue)
        pr.schemasJson.toList :+
          ((("type" -> "struct") ~ ("schema-id" -> schemaId) ~
            ("fields" -> fields)): JValue)
      } else prior.filter(_.schemasJson.nonEmpty)
      .map(_.schemasJson.toList).getOrElse {
        val fields = prior.filter(_.fields.nonEmpty).map(_.fields.toList.map(f =>
          (("id" -> f.id) ~ ("name" -> f.name) ~ ("required" -> f.required) ~
            ("type" -> f.tpe)): JValue))
          .getOrElse(schema.fields.toList.map(f =>
            (("id" -> fieldId(f.name)) ~ ("name" -> f.name) ~
              ("required" -> false) ~ ("type" -> icebergTypeOf(f.dataType).get)): JValue))
        List(("type" -> "struct") ~ ("schema-id" -> schemaId) ~ ("fields" -> fields))
      }
    val specId = prior.map(_.defaultSpecId).getOrElse(0)
    val specsJson: List[JValue] = prior.filter(_.specsJson.nonEmpty)
      .map(_.specsJson.toList).getOrElse {
        List(("spec-id" -> specId) ~
          ("fields" -> partFields.toList.zipWithIndex.map { case ((f, _), i) =>
            (("name" -> f.name) ~ ("transform" -> "identity") ~
              ("source-id" -> fieldId(f.name)) ~ ("field-id" -> (1000 + i))): JValue
          }))
      }
    val tableUuid = prior.flatMap(_.tableUuid).getOrElse(
      java.util.UUID.nameUUIDFromBytes(
        s"graft-iceberg:$tableDir".getBytes(
          java.nio.charset.StandardCharsets.UTF_8)).toString)
    val newSnap: JValue =
      ("snapshot-id" -> snapshotId) ~ ("timestamp-ms" -> now) ~
        ("manifest-list" -> s"$tableDir/metadata/$mlName") ~
        ("summary" -> (txn match {
          // summary values are strings by the spec's summary-map shape
          case Some((a, v)) => ("operation" -> "append") ~
            ("graft-app-id" -> a) ~ ("graft-epoch" -> v.toString)
          case None => ("operation" -> "append"): JObject
        }))
    val metaJson = JsonMethods.pretty(JsonMethods.render(
      ("format-version" -> 2) ~
        ("table-uuid" -> tableUuid) ~
        ("location" -> tableDir) ~
        ("last-updated-ms" -> now) ~
        ("last-column-id" -> fieldId.values.max) ~
        ("current-schema-id" -> schemaId) ~
        ("schemas" -> schemasJson) ~
        ("default-spec-id" -> specId) ~
        ("partition-specs" -> specsJson) ~
        ("last-partition-id" -> (999 + partFields.length)) ~
        ("current-snapshot-id" -> snapshotId) ~
        ("snapshots" -> (prior.map(_.snapshots).getOrElse(Nil) :+ newSnap)) ~
        ("snapshot-log" -> (prior.map(_.snapshotLog).getOrElse(Nil) :+
          ((("timestamp-ms" -> now) ~ ("snapshot-id" -> snapshotId)): JValue)))))

    // EXCLUSIVE publish of vN.metadata.json ([[TableIo.writeExclusive]]
    // — locally the atomic hard-link protocol); the version hint
    // follows the win
    if (!TableIo.writeExclusive(s"$metaDir/v$metaVersion.metadata.json",
        metaJson.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
      refuse(s"metadata version $metaVersion already exists (concurrent " +
        "writer?); conflict resolution is out of the v1 append scope")
    TableIo.writeBytes(s"$metaDir/version-hint.text",
      metaVersion.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    snapshotId
  }
}
