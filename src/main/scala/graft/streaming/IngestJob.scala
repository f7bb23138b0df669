package graft.streaming

import java.nio.file.{Files, Paths, StandardOpenOption}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{StructField, StructType}

/** A3 — the continuous JSON→columnar ingest operator (the role Redpanda's
  * datalake translator plays in the reference: validate against the topic
  * schema, flatten to columns, write parquet, commit a snapshot every
  * `iceberg_target_lag_ms` — `redpanda/redpanda.yaml:1-12`, `CLAUDE.md:160-177`).
  *
  * Spark-first shape: readStream(topic) → from_json → required-field filter →
  * foreachBatch { date-partitioned parquet append + snapshot-log commit }.
  *
  *  - Exactly-once: foreachBatch is wrapped in a batchId check against the
  *    snapshot log (the reference gets this from Iceberg's atomic commit,
  *    `README.md:752-757`); a replayed batch after restart is skipped.
  *  - Schema enforcement (A7): rows whose JSON fails to parse or misses a
  *    required field are diverted to a reject count, not dropped silently
  *    (the registry's "schema must exist before data" contract,
  *    `CLAUDE.md:350-351`).
  *  - 100 TB design: the table is partitioned by event date so downstream
  *    time-range queries prune partitions; within a micro-batch we do NOT
  *    coalesce — file count per trigger = shuffle parallelism, compaction is
  *    a separate concern.
  */
object IngestJob {
  /** Snapshot-log line: our mini-Iceberg commit record. Appends under the
    * shared [[CommitLock]] so a maintenance writer's compare-and-append
    * (Maintenance.commitIfUnmoved) can never interleave with this append —
    * the ingest-races-merge window is closed, not merely narrowed. */
  private def commitSnapshot(tableDir: String, batchId: Long, rows: Long, rejects: Long): Unit =
    CommitLock.withLogLock(tableDir) {
      val log = Paths.get(tableDir, "_snapshots.jsonl")
      val line = s"""{"batch":$batchId,"rows":$rows,"rejects":$rejects,"committed":true}""" + "\n"
      Files.write(log, line.getBytes, StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    }

  def committedBatches(tableDir: String): Set[Long] = {
    val log = Paths.get(tableDir, "_snapshots.jsonl")
    if (!Files.exists(log)) Set.empty
    else {
      import scala.jdk.CollectionConverters._
      Files.readAllLines(log).asScala
        .flatMap(l => "\"batch\":(\\d+)".r.findFirstMatchIn(l).map(_.group(1).toLong)).toSet
    }
  }

  /** Start the ingest stream: topic → parquet table at tableDir.
    * @param required names that must be non-null post-parse (A7 enforcement)
    * @param tsCol event-time column used for date partitioning
    */
  def start(
      spark: SparkSession,
      source: TopicSource,
      tableDir: String,
      schema: StructType,
      required: Seq[String],
      tsCol: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("10 seconds")) = {
    val parsed = source.readStream(spark)
      .select(col("key"), from_json(col("value"), schema).as("data"))
      .select(col("key"), col("data.*"))
    parsed.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!committedBatches(tableDir).contains(batchId))
          writeBatch(batch, tableDir, batchId, required, tsCol)
        ()
      }
      .start()
  }

  /** A7 complete — registry-backed ingest (`value_schema_latest`,
    * CLAUDE.md:165-171): the stream carries the raw envelope and each
    * micro-batch decodes with the LATEST registered schema at that moment,
    * so a v2 registered mid-stream applies from the next batch without a
    * restart; rows already written under v1 read null for v2-only columns
    * (mergeSchema in readPartitioned). Refuses to start for an unregistered
    * subject — the registry's "schema must exist before data" contract
    * (validation/e2e.sh:67-105, CLAUDE.md:350-351). */
  def startWithRegistry(
      spark: SparkSession,
      source: TopicSource,
      tableDir: String,
      registry: SchemaRegistry,
      subject: String,
      required: Seq[String],
      tsCol: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("10 seconds")) = {
    registry.latestOrThrow(subject) // schema-before-data
    source.readStream(spark).writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!committedBatches(tableDir).contains(batchId)) {
          val (_, schema) = registry.latestOrThrow(subject)
          val parsed = batch
            .select(col("key"), from_json(col("value"), schema).as("data"))
            .select(col("key"), col("data.*"))
          writeBatch(parsed, tableDir, batchId, required, tsCol)
        }
        ()
      }
      .start()
  }

  /** `key_value` topic mode (CLAUDE.md:165-171): NO decode — the raw
    * key/value pair lands as two BinaryType columns, partitioned by
    * processing date (a raw dump has no event time; this is the Kafka
    * connector convention for opaque topics). Same idempotent
    * write + snapshot-commit protocol as the decoded modes, so
    * exactly-once, time travel, and maintenance all apply unchanged.
    * Casting string→binary is UTF-8 on the file topic; a real Kafka
    * source hands binary natively and the casts are no-ops. */
  def startKeyValue(
      spark: SparkSession,
      source: TopicSource,
      tableDir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("10 seconds")) =
    source.readStream(spark).writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!committedBatches(tableDir).contains(batchId)) {
          val raw = batch.select(
            col("key").cast("binary").as("key"),
            col("value").cast("binary").as("value"))
          writeBatch(raw, tableDir, batchId, Seq("value"), current_date(),
            keepKey = true)
        }
        ()
      }
      .start()

  /** `value_schema_id_prefix` topic mode (CLAUDE.md:165-171): each value is
    * magic 0x00 + 4-byte schema id + Avro binary, decoded per batch through
    * [[AvroCodec]] with the REGISTRY schema named by the embedded id — so a
    * batch can mix versions (v1 rows decode under v1 mid-upgrade) and a v2
    * registered mid-stream applies to v2-stamped records with no restart.
    * Values that fail the envelope or Avro decode divert to the reject
    * count, same contract as JSON parse failure.
    *
    * The decode is a per-partition kernel (mapPartitions): one
    * GenericDatumReader per (partition, schema id), not per row — the same
    * codec-seam placement as the multimodal decoders; there is no
    * spark-avro DataSource in this build and a codec is not a Catalyst
    * Expression. Decoded columns follow the LATEST registered schema
    * (rows of older versions read null for later-added fields — BACKWARD
    * compat guarantees they're nullable). */
  def startAvroWithRegistry(
      spark: SparkSession,
      source: TopicSource,
      tableDir: String,
      registry: SchemaRegistry,
      subject: String,
      required: Seq[String],
      tsCol: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("10 seconds")) = {
    registry.latestOrThrow(subject) // schema-before-data
    source.readStream(spark).writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!committedBatches(tableDir).contains(batchId)) {
          val parsed = decodeAvroBatch(batch, registry, subject)
          writeBatch(parsed, tableDir, batchId, required,
            to_date(col(tsCol)))
        }
        ()
      }
      .start()
  }

  /** Decode one micro-batch of (key, base64-or-binary value) rows under the
    * registry's schemas. Exposed for tests; the streaming path calls it per
    * batch. Undecodable values become all-null rows (rejected by the
    * required-field filter downstream, counted as rejects). */
  private[streaming] def decodeAvroBatch(
      batch: DataFrame, registry: SchemaRegistry, subject: String): DataFrame = {
    val (latestV, latestSt) = registry.latestOrThrow(subject)
    // writer schemas resolve on the DRIVER (the registry dir may not exist
    // on executors); versions are few — ship them in the closure
    val writers: Map[Int, StructType] =
      registry.versions(subject).flatMap(v => registry.get(subject, v).map(v -> _)).toMap
    val latestFields = latestSt.fieldNames.toIndexedSeq
    // all-nullable output: reject rows are all-null (the required-field
    // filter drops them); declared non-null fields would make the encoder
    // throw on exactly the rows the reject path exists for
    val outSchema = StructType(
      StructField("key", org.apache.spark.sql.types.StringType) +:
        latestSt.fields.toIndexedSeq.map(_.copy(nullable = true)))
    val raw = batch.select(col("key").cast("string"),
      unbase64(col("value").cast("string")).as("raw"))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    raw.mapPartitions { it =>
      // per-partition reader cache: one Avro Schema + reader per schema id
      val cache = scala.collection.mutable.HashMap.empty[Int, (StructType, org.apache.avro.Schema)]
      it.map { r =>
        val key = r.getString(0)
        val decoded: Option[Row] =
          try {
            val bytes = r.getAs[Array[Byte]](1)
            val id = AvroCodec.schemaIdOf(bytes)
            val (wSt, wAvro) = cache.getOrElseUpdate(id, {
              val st = writers.getOrElse(id, throw new IllegalStateException(
                s"schema id $id not registered for subject '$subject'"))
              (st, AvroCodec.avroSchema(subject, st))
            })
            val row = AvroCodec.decode(bytes, wSt, wAvro)
            val byName = wSt.fieldNames.zip(row.toSeq).toMap
            Some(Row.fromSeq(latestFields.map(byName.getOrElse(_, null))))
          } catch { case scala.util.control.NonFatal(_) => None }
        decoded match {
          case Some(d) => Row.fromSeq(key +: d.toSeq)
          case None => Row.fromSeq(key +: latestFields.map(_ => null))
        }
      }
    }(enc)
  }

  /** The idempotent per-batch table write + snapshot commit, shared by the
    * fixed-schema and registry-backed ingest paths. `partCol` is the
    * partition-date expression (event date for decoded modes, processing
    * date for key_value); `keepKey` retains the topic key column
    * (key_value's whole point; decoded modes drop it). */
  private def writeBatch(
      batch: DataFrame, tableDir: String, batchId: Long,
      required: Seq[String], tsCol: String): Unit =
    writeBatch(batch, tableDir, batchId, required, to_date(col(tsCol)))

  private def writeBatch(
      batch: DataFrame, tableDir: String, batchId: Long,
      required: Seq[String], partCol: org.apache.spark.sql.Column,
      keepKey: Boolean = false): Unit = {
    val ok = required.foldLeft(batch)((df, c) => df.filter(col(c).isNotNull))
    val good = ok.withColumn("p_date", partCol).cache()
    val nGood = good.count()
    val nAll = batch.count()
    (if (keepKey) good else good.drop("key"))
      // OVERWRITE of this batch's directory, not append: a replay
      // after a crash between data write and snapshot commit rewrites
      // the same files instead of duplicating them — the write is
      // idempotent per batch id, the commit-log check makes it
      // exactly-once, and readTable filters to committed batches so
      // a torn write is never visible
      .write.mode("overwrite").partitionBy("p_date")
      // D2 flush-threshold analog (redpanda.yaml:31-32 caps Parquet
      // file size by bytes; Spark's file sink caps by records)
      .option("maxRecordsPerFile", 1000000L)
      // batch=<id> directory = the snapshot boundary: time-travel
      // reads prune on it (Iceberg's VERSION AS OF equivalent)
      .parquet(s"$tableDir/data/batch=$batchId")
    commitSnapshot(tableDir, batchId, nGood, nAll - nGood)
    good.unpersist()
  }

  /** Read the ingested table at its current snapshot (A4 scan stand-in —
    * resolves through the data dir; real Iceberg REST catalog swaps in
    * behind this call). Only COMMITTED batches are visible — a batch whose
    * data landed but whose snapshot commit didn't is invisible until its
    * replay completes (the snapshot log is the source of truth, as in
    * Iceberg). batch/p_date stay available for pruned reads via
    * readPartitioned. */
  def readTable(spark: SparkSession, tableDir: String): DataFrame = {
    // visible = committed − compacted-away (Maintenance.compact rewrites
    // small snapshots into one and records what it replaced); live
    // equality-delete files (merge-on-read MERGE) are applied on top — a
    // no-op unless an un-rewritten MOR merge exists.
    val cms = Maintenance.commits(tableDir)
    val visible = Maintenance.visibleBatches(tableDir).toSeq
    val raw = readPartitioned(spark, tableDir)
      .filter(col("batch").isInCollection(visible))
    Maintenance.applyDeletes(spark, tableDir, raw, cms)
      .drop("p_date").drop("batch")
  }

  /** Partition-pruning read: filters on batch / p_date prune directories.
    * mergeSchema unions column sets across snapshots — the schema-evolution
    * contract of the reference's `value_schema_latest` mode (CLAUDE.md:
    * 165-171): a column added in a later registered schema reads as null for
    * rows ingested before it existed. */
  def readPartitioned(spark: SparkSession, tableDir: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(s"$tableDir/data")

  /** Time travel (A5: "snapshot-id ≈ our snapshot-log head"; Iceberg
    * `VERSION AS OF` equivalent): the table as of snapshot `batchId` —
    * directory-level partition pruning on batch=<id>, no data read beyond
    * the requested snapshots. */
  def readTableAsOf(spark: SparkSession, tableDir: String, batchId: Long): DataFrame = {
    // Replay the snapshot log IN APPEND ORDER up to and including batchId's
    // commit: each ingest line adds its batch, each compaction line adds its
    // consolidated batch and retires the ones it replaced. Ids are not
    // comparable across ingest/maintenance namespaces, so lineage position —
    // not id order — defines "as of" (Iceberg's snapshot-lineage contract).
    val lin = Maintenance.commits(tableDir)
    require(lin.exists(_.id == batchId),
      s"snapshot $batchId not in the commit log of $tableDir")
    val upTo = lin.take(lin.indexWhere(_.id == batchId) + 1)
    val asOf = upTo.foldLeft(Set.empty[Long]) { case (vis, c) =>
      vis -- c.compacts + c.id
    }.toSeq
    // expireSnapshots physically deletes replaced dirs but the log still
    // lists them; an as-of read spanning an expired snapshot must fail
    // loudly (Iceberg: "Cannot find snapshot"), not silently return the
    // surviving subset of rows.
    val expired = asOf.filterNot(b => Files.isDirectory(Paths.get(s"$tableDir/data/batch=$b")))
    require(expired.isEmpty,
      s"snapshot $batchId expired: data for batch(es) ${expired.sorted.mkString(",")} " +
        s"deleted by expireSnapshots; time travel to this version is no longer possible")
    // apply only the delete files and retirements INSIDE the prefix: the
    // as-of view is exactly what a reader at that commit would have seen
    val raw = readPartitioned(spark, tableDir)
      .filter(col("batch").isInCollection(asOf))
    Maintenance.applyDeletes(spark, tableDir, raw, upTo)
      .drop("p_date").drop("batch")
  }
}
