package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.constraint.ConstraintSet
import graft.engine.{EngineOptions, ValidationEngine}
import graft.table.{Manifest, SnapshotLog}

/** Streaming face of the gate. The reference is an unbounded intake loop in
  * which each HTTP batch is processed independently
  * (/root/reference/routes/events.js:43-145, no cross-batch state) — the
  * exact shape of Structured Streaming `foreachBatch`: every micro-batch
  * goes through the same validate→triage→produce gate and its outputs are
  * appended under a per-batch snapshot id. Checkpointing gives the restart
  * semantics the reference gets from Kafka delivery confirmation.
  */
object StreamingValidation {

  /** Validate a file stream; write valid/violations/rollups per micro-batch. */
  def start(
      spark: SparkSession,
      sourceDir: String,
      schema: StructType,
      cs: ConstraintSet,
      outDir: String,
      checkpointDir: String
  ): StreamingQuery = {
    val stream = spark.readStream.schema(schema).parquet(sourceDir)
    stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val res = new ValidationEngine(cs, EngineOptions(snapshotId = s"batch-$batchId")).process(batch)
        res.valid.write.mode("append").parquet(s"$outDir/valid")
        res.violations.write.mode("append").parquet(s"$outDir/violations")
        res.rollups.write.mode("append").parquet(s"$outDir/rollups")
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Snapshot-committed micro-batch gate: all three outputs of a batch
    * become visible atomically through ONE SnapshotLog manifest — a crash
    * mid-batch leaves no partially visible output, the same all-or-nothing
    * the batch path provides (round-1 advisory: three independent appends
    * could surface a half-written batch). Idempotent on micro-batch replay:
    * a batch id already in the chain is skipped, so foreachBatch's
    * at-least-once re-delivery after restart stays exactly-once-visible.
    * An empty batch (the 400 analog: nothing to produce) commits nothing
    * and returns None.
    */
  def processAndCommit(
      log: SnapshotLog,
      cs: ConstraintSet,
      batch: DataFrame,
      batchId: Long,
      checkpointId: String = "default"
  ): Option[Manifest] = {
    val head = log.head
    // Replay idempotency keys on (checkpoint identity, Long batch id): a
    // recreated checkpoint dir restarts batch ids at 0 — give it a new
    // checkpointId and its batches commit instead of aliasing old ones.
    if (head.exists(m => log.committedStreamBatches(m, checkpointId).contains(batchId))) return None
    val snapshotId = s"batch-$batchId"
    val res = new ValidationEngine(cs, EngineOptions(snapshotId = snapshotId)).process(batch)
    produceAndCommit(log, head, res.annotated.drop("_decode"), None, cs.version, batchId, checkpointId,
      Some(ValidationEngine.violationRowSchema))(ValidationEngine.violationRows(_, snapshotId, "image_id"))
  }

  /** Snapshot-committed MULTI-STREAM micro-batch gate — the closest analog
    * of the reference service itself: an unbounded intake of heterogeneous
    * events, each validated against its own declared constraint set and
    * produced to its stream's destination
    * (/root/reference/lib/factories/default-eventgate.js:132-152 routing +
    * :242-278 per-topic produce), with each micro-batch's fan-out made
    * atomic through one manifest. Idempotent on replay, and empty batches
    * commit nothing, like [[processAndCommit]].
    */
  def processAndCommitMultiStream(
      log: graft.table.SnapshotLog,
      registry: graft.engine.ConstraintRegistry,
      batch: DataFrame,
      batchId: Long,
      streamCol: String = "stream",
      idField: String = "image_id",
      checkpointId: String = "default"
  ): Option[Manifest] = {
    val head = log.head
    if (head.exists(m => log.committedStreamBatches(m, checkpointId).contains(batchId))) return None
    val snapshotId = s"batch-$batchId"
    val res = new graft.engine.MultiStreamEngine(
      registry,
      EngineOptions(snapshotId = snapshotId, idField = idField),
      streamCol
    ).process(batch)
    val version = registry.sets.map(_.version).sorted.mkString(",")
    produceAndCommit(log, head, res.annotated, Some(streamCol), version, batchId, checkpointId, None)(
      graft.engine.MultiStreamEngine.violationRows(_, snapshotId, idField, streamCol))
  }

  /** The produce half both stream gates share, in 2 Spark jobs (a caller's
    * own input planning aside):
    *  1. ONE pass writes `annotated` routed by statusd (and streamd) while
    *     an Observation counts success/invalid/error per (stream,
    *     partition_id) in the same job ([[SnapshotLog.writeAnnotated]]).
    *     Zero observed rows means an empty batch: its uncommitted data
    *     directory is deleted and nothing commits. Emptiness is read from
    *     these totals, so it costs no Spark job of its own.
    *  2. The rollup rows ARE those counts, written by the driver as one
    *     parquet file ([[SnapshotLog.writeRollups]]) — no re-read of the
    *     written table, no Spark job.
    *  3. Violations derive from the written failing slice only. When no
    *     row failed, `emptyViolations` (if set) is the schema of the empty
    *     violations file; otherwise `violations` runs over an empty read.
    *     Then one manifest commit.
    */
  private def produceAndCommit(
      log: SnapshotLog,
      head: Option[Manifest],
      annotated: DataFrame,
      streamCol: Option[String],
      constraintVersion: String,
      batchId: Long,
      checkpointId: String,
      emptyViolations: Option[StructType]
  )(violations: DataFrame => DataFrame): Option[Manifest] = {
    val spark = annotated.sparkSession
    val tag = s"stream-$checkpointId-$batchId"
    val annotatedPath = log.dataDir(tag, "annotated")
    val vioPath = log.dataDir(tag, "violations")
    val rollPath = log.dataDir(tag, "rollups")

    val counts = SnapshotLog.writeAnnotated(annotated, annotatedPath, s"sv_$tag", streamCol)
    val (nS, nI, nE) = SnapshotLog.totals(counts)
    if (nS + nI + nE == 0) { // empty body -> 400 analog: nothing to produce
      log.discardData(tag)
      return None
    }
    val rollupSchema = log.writeRollups(rollPath, s"batch-$batchId", counts, withStream = streamCol.isDefined)

    // known file schema: no footer sampling
    def written(dirs: Seq[String]) = log.readPaths(spark, dirs, Some(annotated.schema))
    val failingDirs = SnapshotLog.failingDirs(annotatedPath, nI, nE)
    val vio =
      if (failingDirs.nonEmpty) violations(written(failingDirs))
      else emptyViolations.fold(violations(written(Seq(annotatedPath)).limit(0)))(
        spark.createDataFrame(java.util.Collections.emptyList[Row](), _))
    vio.write.mode("overwrite").parquet(vioPath)

    val validPaths =
      if (nS > 0) Seq(SnapshotLog.validDir(annotatedPath)) else Seq.empty[String]
    val prev = head.map(_.metrics).getOrElse(Map.empty)
    Some(log.commit(Manifest(
      snapshotId = "",
      sequence = 0L,
      parentId = head.map(_.snapshotId),
      constraintVersion = constraintVersion,
      partitionSpec = "stream-batch",
      partitionsDelta = Seq.empty,
      complete = false, // a stream is never complete
      tables = Map(
        "valid" -> validPaths,
        "annotated" -> Seq(annotatedPath),
        "violations" -> Seq(vioPath), // empty unpartitioned writes still leave a schema-bearing file
        "rollups" -> Seq(rollPath)
      ),
      tableSchemas = SnapshotLog.tableSchemasFor(annotated.schema, vio.schema, rollupSchema),
      metrics = Map(
        "n_success" -> (prev.getOrElse("n_success", 0L) + nS),
        "n_invalid" -> (prev.getOrElse("n_invalid", 0L) + nI),
        "n_error" -> (prev.getOrElse("n_error", 0L) + nE)
      ),
      sketches = head.map(_.sketches).getOrElse(Map.empty),
      createdAtMs = System.currentTimeMillis(),
      streamBatches = Map(checkpointId -> Seq(batchId))
    )))
  }

  /** Durable identity of a streaming checkpoint INSTANCE: a UUID minted on
    * first use and stored inside the checkpoint dir. Deleting and
    * recreating the dir (which restarts batch ids at 0) mints a new
    * identity, so replay-idempotency never aliases the old id space.
    */
  def checkpointIdentity(spark: SparkSession, checkpointDir: String): String = {
    val p = new org.apache.hadoop.fs.Path(checkpointDir, "graft-identity")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) {
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in).mkString.trim
      finally in.close()
    } else {
      val id = java.util.UUID.randomUUID().toString
      val out = fs.create(p, false)
      try out.write(id.getBytes("UTF-8"))
      finally out.close()
      id
    }
  }

  /** File stream of heterogeneous events → multi-stream snapshotted gate. */
  def startMultiStream(
      spark: SparkSession,
      sourceDir: String,
      schema: StructType,
      registry: graft.engine.ConstraintRegistry,
      log: graft.table.SnapshotLog,
      checkpointDir: String,
      streamCol: String = "stream",
      idField: String = "image_id"
  ): StreamingQuery = {
    val ckId = checkpointIdentity(spark, checkpointDir)
    spark.readStream.schema(schema).parquet(sourceDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processAndCommitMultiStream(log, registry, batch, batchId, streamCol, idField, ckId)
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** File stream → snapshot-committed gate (the durable streaming face). */
  def startSnapshotted(
      spark: SparkSession,
      sourceDir: String,
      schema: StructType,
      cs: ConstraintSet,
      log: SnapshotLog,
      checkpointDir: String
  ): StreamingQuery = {
    val ckId = checkpointIdentity(spark, checkpointDir)
    val stream = spark.readStream.schema(schema).parquet(sourceDir)
    stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processAndCommit(log, cs, batch, batchId, ckId)
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Watermarked windowed metrics over an event stream (the streaming
    * rollup analog: counts per window per key, late data bounded by the
    * watermark).
    */
  def windowedCounts(stream: DataFrame, tsCol: String, keyCol: String, window_ : String, watermark: String): DataFrame =
    stream
      .withColumn("_ts", col(tsCol).cast("timestamp"))
      .withWatermark("_ts", watermark)
      .groupBy(window(col("_ts"), window_), col(keyCol))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("win_start"), col(keyCol), col("n"))

  /** Custom-state example: running per-key totals across micro-batches via
    * mapGroupsWithState (KeyValueGroupedDataset), the engine's stateful
    * extension point.
    */
  def runningTotals(ds: Dataset[(String, Long)]): Dataset[(String, Long)] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) { (key: String, rows: Iterator[(String, Long)], state: GroupState[Long]) =>
        val total = state.getOption.getOrElse(0L) + rows.map(_._2).sum
        state.update(total)
        (key, total)
      }
  }
}
