package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.engine.{EngineOptions, ImageConstraints, ValidationEngine}
import graft.gen.SyntheticImages
import graft.streaming.StreamingValidation

class StreamingSpec extends SparkSpec {

  test("foreachBatch gate: streaming output == batch engine output") {
    val src = Files.createTempDirectory("graft_stream_src").toString
    val out = Files.createTempDirectory("graft_stream_out").toString
    val ckpt = Files.createTempDirectory("graft_stream_ckpt").toString
    val imgs = SyntheticImages.images(spark, 1500, 3).toDF()
    imgs.write.mode("overwrite").parquet(src)

    val q = StreamingValidation.start(spark, src, imgs.schema, ImageConstraints.v1, out, ckpt)
    q.awaitTermination()

    val streamValid = spark.read.parquet(s"$out/valid")
    val batchValid = new ValidationEngine(ImageConstraints.v1, EngineOptions()).process(spark.read.parquet(src)).valid
    assert(streamValid.count() == batchValid.count())
    val a = streamValid.select("image_id").collect().map(_.toString).sorted
    val b = batchValid.select("image_id").collect().map(_.toString).sorted
    assert(a.sameElements(b))
    assert(spark.read.parquet(s"$out/rollups").agg(sum("n_invalid")).collect()(0).getLong(0) > 0)
  }

  test("restart with same checkpoint does not duplicate output") {
    val src = Files.createTempDirectory("graft_stream_src2").toString
    val out = Files.createTempDirectory("graft_stream_out2").toString
    val ckpt = Files.createTempDirectory("graft_stream_ckpt2").toString
    val imgs = SyntheticImages.images(spark, 500, 2).toDF()
    imgs.write.mode("overwrite").parquet(src)
    val q1 = StreamingValidation.start(spark, src, imgs.schema, ImageConstraints.v1, out, ckpt)
    q1.awaitTermination()
    val n1 = spark.read.parquet(s"$out/valid").count()
    // restart: no new files → no new micro-batch → no duplicates
    val q2 = StreamingValidation.start(spark, src, imgs.schema, ImageConstraints.v1, out, ckpt)
    q2.awaitTermination()
    assert(spark.read.parquet(s"$out/valid").count() == n1)
  }

  test("snapshot-committed stream: batch outputs visible only through one atomic manifest") {
    val src = Files.createTempDirectory("graft_stream_src3").toString
    val ckpt = Files.createTempDirectory("graft_stream_ckpt3").toString
    val logDir = Files.createTempDirectory("graft_stream_log3").toString
    val log = new graft.table.SnapshotLog(logDir, spark.sparkContext.hadoopConfiguration)
    val imgs = SyntheticImages.images(spark, 800, 2).toDF()
    imgs.write.mode("overwrite").parquet(src)

    val q = StreamingValidation.startSnapshotted(spark, src, imgs.schema, ImageConstraints.v1, log, ckpt)
    q.awaitTermination()

    val head = log.head.get
    val streamValid = log.readTable(spark, head, "valid")
    val batchValid = new ValidationEngine(ImageConstraints.v1, EngineOptions()).process(spark.read.parquet(src)).valid
    assert(streamValid.count() == batchValid.count())
    assert(head.metrics("n_success") == batchValid.count())
    assert(log.readTable(spark, head, "violations").count() > 0)

    // restart on the same checkpoint: no new micro-batch, no new commits
    val seqBefore = head.sequence
    val q2 = StreamingValidation.startSnapshotted(spark, src, imgs.schema, ImageConstraints.v1, log, ckpt)
    q2.awaitTermination()
    assert(log.head.get.sequence == seqBefore)
  }

  test("mid-batch failure leaves NO partially visible output; replay is exactly-once-visible") {
    val logDir = Files.createTempDirectory("graft_stream_log4").toString
    val log = new graft.table.SnapshotLog(logDir, spark.sparkContext.hadoopConfiguration)
    val imgs = SyntheticImages.images(spark, 400, 2).toDF()

    // batch 0 commits cleanly
    assert(StreamingValidation.processAndCommit(log, ImageConstraints.v1, imgs, 0L).isDefined)
    val head0 = log.head.get
    val validBefore = log.readTable(spark, head0, "valid").count()

    // batch 1 dies mid-job (a poisoned row throws during evaluation):
    // some files may have landed on disk, but no manifest was committed —
    // readers see EXACTLY the pre-crash state.
    val poisoned = imgs.withColumn(
      "caption",
      when(col("w") % 97 === 0, raise_error(lit("simulated mid-batch crash"))).otherwise(col("caption"))
    )
    intercept[Exception](StreamingValidation.processAndCommit(log, ImageConstraints.v1, poisoned, 1L))
    assert(log.head.get.snapshotId == head0.snapshotId, "crash must not advance HEAD")
    assert(log.readTable(spark, log.head.get, "valid").count() == validBefore)

    // retry of batch 1 (foreachBatch re-delivery) succeeds and commits once
    assert(StreamingValidation.processAndCommit(log, ImageConstraints.v1, imgs, 1L).isDefined)
    val afterRetry = log.head.get
    // a SECOND replay of batch 1 is a no-op: exactly-once visibility
    assert(StreamingValidation.processAndCommit(log, ImageConstraints.v1, imgs, 1L).isEmpty)
    assert(log.head.get.snapshotId == afterRetry.snapshotId)
    assert(log.readTable(spark, log.head.get, "valid").count() == 2 * validBefore)
  }

  test("recreated checkpoint gets a fresh identity: restarted batch ids do not alias old ones") {
    // ADVICE r2: batch ids restart at 0 when a checkpoint dir is recreated
    // while the snapshot log is kept — keyed on the OLD identity they would
    // be silently skipped as already-committed.
    val logDir = Files.createTempDirectory("graft_stream_log5").toString
    val log = new graft.table.SnapshotLog(logDir, spark.sparkContext.hadoopConfiguration)
    val imgs = SyntheticImages.images(spark, 200, 1).toDF()

    val ckptDir = Files.createTempDirectory("graft_stream_ckpt5").toString
    val id1 = StreamingValidation.checkpointIdentity(spark, ckptDir)
    assert(StreamingValidation.checkpointIdentity(spark, ckptDir) == id1) // stable

    assert(StreamingValidation.processAndCommit(log, ImageConstraints.v1, imgs, 0L, id1).isDefined)
    assert(StreamingValidation.processAndCommit(log, ImageConstraints.v1, imgs, 0L, id1).isEmpty) // replay skipped

    // recreate the checkpoint dir: new identity, so batch 0 commits again
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ckptDir))
    val id2 = StreamingValidation.checkpointIdentity(spark, ckptDir)
    assert(id2 != id1)
    assert(StreamingValidation.processAndCommit(log, ImageConstraints.v1, imgs, 0L, id2).isDefined)

    // batch ids are compared as Long — no 2^31 truncation aliasing
    val bigId = (1L << 33) + 5L
    assert(StreamingValidation.processAndCommit(log, ImageConstraints.v1, imgs, bigId, id2).isDefined)
    assert(StreamingValidation.processAndCommit(log, ImageConstraints.v1, imgs, bigId, id2).isEmpty)
    assert(log.committedStreamBatches(log.head.get, id2) == Set(0L, bigId))
  }

  /** A micro-batch over 4 input partitions with invalid rows planted in
    * every partition (null captions).
    */
  private def plantedBatch(n: Int) =
    SyntheticImages.images(spark, n, 4).toDF()
      .withColumn("caption", when(pmod(hash(col("image_id")), lit(10)) === 0, lit(null: String)).otherwise(col("caption")))

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** Rollup rows recomputed from the annotated rows committed by each of
    * the log's commits (stream gates name snapshot `batch-<id>`).
    */
  private def statusCounts(log: graft.table.SnapshotLog, batchIds: Long*) =
    batchIds.zip(1L to batchIds.size).map { case (id, seq) =>
      log.readTableChanges(spark, seq - 1, seq, "annotated").withColumn("snapshot_id", lit(s"batch-$id"))
    }.reduce(_.unionByName(_))
      .groupBy(col("snapshot_id"), col("partition_id"))
      .agg(
        count(when(col("status") === "success", 1)).as("n_success"),
        count(when(col("status") === "invalid", 1)).as("n_invalid"),
        count(when(col("status") === "error", 1)).as("n_error"))

  /** Runs `body` on another thread and fails the test instead of hanging
    * if it does not return in time (e.g. an Observation that never fires).
    */
  private def withinTimeout[T](body: => T): T = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    Await.result(Future(body), 2.minutes)
  }

  test("stream gate rollups = counts over the committed annotated table; footer schema; compaction parity") {
    import graft.table.{Maintenance, SnapshotLog}
    val log = new SnapshotLog(
      Files.createTempDirectory("graft_stream_roll").toString, spark.sparkContext.hadoopConfiguration)
    val batch = plantedBatch(1200)
    assert(batch.rdd.getNumPartitions >= 3)
    assert(StreamingValidation.processAndCommit(log, ImageConstraints.v1, batch, 0L).isDefined)
    assert(StreamingValidation.processAndCommit(log, ImageConstraints.v1, batch, 1L).isDefined)
    val head = log.head.get

    // the observed rollups equal a groupBy over what was actually committed
    val roll = log.readTable(spark, head, "rollups")
    assert(rows(roll) == rows(statusCounts(log, 0L, 1L)))
    assert(roll.filter(col("n_invalid") > 0).select("partition_id").distinct().count() >= 3)
    assert(roll.agg(sum("n_invalid")).collect()(0).getLong(0) == head.metrics("n_invalid"))

    // the driver-written file's footer reads back as the recorded schema
    val recorded = log.tableSchema(head, "rollups").get
    assert(recorded == SnapshotLog.rollupSchema())
    assert(spark.read.parquet(log.tablePaths(head, "rollups"): _*).schema == recorded)

    // compaction of the rollups keeps every read identical
    val before = rows(roll)
    Maintenance.compact(spark, log, "rollups")
    val compacted = log.head.get
    assert(compacted.sequence == head.sequence + 1)
    assert(rows(log.readTable(spark, compacted, "rollups")) == before)
    assert(rows(log.readTableAsOf(spark, head.sequence, "rollups")) == before)
    for (p <- 0 until 4)
      assert(rows(log.readTableForPartitions(spark, compacted, "rollups", Set(p))) ==
        rows(roll.filter(col("partition_id") === p)))
  }

  test("empty micro-batch commits nothing and leaves no data directory; the id still commits later") {
    import graft.engine.ConstraintRegistry
    import graft.constraint.{ConstraintSet, NonNull}
    import graft.table.SnapshotLog
    val log = new SnapshotLog(
      Files.createTempDirectory("graft_stream_empty").toString, spark.sparkContext.hadoopConfiguration)
    val imgs = plantedBatch(400)
    def tagDir(l: SnapshotLog, ck: String, id: Long) = new java.io.File(new java.io.File(l.root), s"data/p-stream-$ck-$id")
    assert(StreamingValidation.processAndCommit(log, ImageConstraints.v1, imgs, 0L, "single").isDefined)
    val head0 = log.head.get

    val empties = Seq(imgs.limit(0), imgs.filter(lit(false)),
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], imgs.schema))
    for ((empty, i) <- empties.zipWithIndex) {
      assert(withinTimeout(StreamingValidation.processAndCommit(log, ImageConstraints.v1, empty, 1L, "single")).isEmpty,
        s"empty batch shape $i")
      assert(log.head.get.snapshotId == head0.snapshotId)
      assert(!tagDir(log, "single", 1L).exists(), s"empty batch shape $i left its data directory")
    }
    assert(StreamingValidation.processAndCommit(log, ImageConstraints.v1, imgs, 1L, "single").isDefined)
    assert(log.committedStreamBatches(log.head.get, "single") == Set(0L, 1L))

    // the multi-stream gate (its own log: its tables have other schemas)
    val msLog = new SnapshotLog(
      Files.createTempDirectory("graft_stream_empty_ms").toString, spark.sparkContext.hadoopConfiguration)
    val reg = ConstraintRegistry(Seq(ConstraintSet("a/1", Seq.empty, Seq(NonNull("image_id")))), Map("alpha" -> "a/1"))
    val events = imgs.withColumn("stream", lit("alpha"))
    assert(withinTimeout(StreamingValidation.processAndCommitMultiStream(msLog, reg, events.limit(0), 7L)).isEmpty)
    assert(msLog.head.isEmpty)
    assert(!tagDir(msLog, "default", 7L).exists())
    assert(StreamingValidation.processAndCommitMultiStream(msLog, reg, events, 7L).isDefined)
    assert(msLog.committedStreamBatches(msLog.head.get, "default") == Set(7L))
  }

  test("retried batch replaces a crashed attempt's rollup file") {
    import graft.table.SnapshotLog
    val log = new SnapshotLog(
      Files.createTempDirectory("graft_stream_retry").toString, spark.sparkContext.hadoopConfiguration)
    // a crashed attempt of batch 0 left a file in its rollup directory
    val rollDir = new java.io.File(log.dataDir("stream-default-0", "rollups").stripPrefix("file:"))
    assert(rollDir.mkdirs())
    val junk = new java.io.File(rollDir, "part-00000-crashed.snappy.parquet")
    java.nio.file.Files.write(junk.toPath, "not parquet".getBytes("UTF-8"))

    val m = StreamingValidation.processAndCommit(log, ImageConstraints.v1, plantedBatch(600), 0L).get
    assert(!junk.exists())
    assert(rows(log.readTable(spark, m, "rollups")) == rows(statusCounts(log, 0L)))
  }

  test("multi-stream streaming gate: heterogeneous micro-batches, per-stream atomic fan-out") {
    import spark.implicits._
    import graft.constraint._
    import graft.engine.ConstraintRegistry
    val src = Files.createTempDirectory("graft_ms_src").toString
    val ckpt = Files.createTempDirectory("graft_ms_ckpt").toString
    val log = new graft.table.SnapshotLog(
      Files.createTempDirectory("graft_ms_log").toString, spark.sparkContext.hadoopConfiguration)
    val reg = ConstraintRegistry(
      Seq(ConstraintSet("a/1", Seq.empty, Seq(NonNull("id"), MinLength("text", 5))),
        ConstraintSet("b/1", Seq.empty, Seq(NonNull("id")))),
      Map("alpha" -> "a/1", "beta" -> "b/1")
    )
    val rows = (0 until 300).map(i =>
      (s"id$i", if (i % 10 == 0) "ab" else "long enough", if (i % 3 == 0) "alpha" else if (i % 3 == 1) "beta" else "gamma"))
      .toDF("id", "text", "stream")
    rows.write.mode("overwrite").parquet(src)

    val q = StreamingValidation.startMultiStream(spark, src, rows.schema, reg, log, ckpt, idField = "id")
    q.awaitTermination()

    val head = log.head.get
    // gamma is unrouted → schema-load errors; alpha short texts → invalid
    assert(head.metrics("n_error") == 100) // i%3==2 count
    assert(head.metrics("n_invalid") == 10) // i%10==0 && i%3==0
    assert(head.metrics("n_success") == 190)
    val ann = log.readTable(spark, head, "annotated")
    val validStreams = ann.filter(col("status") === "success")
      .select("stream").distinct().collect().map(_.getString(0)).toSet
    assert(validStreams == Set("alpha", "beta"))
    val vio = log.readTable(spark, head, "violations")
    assert(vio.filter(col("stream") === "gamma").count() == 100)

    // restart on same checkpoint: no duplicate commits
    val seqBefore = head.sequence
    val q2 = StreamingValidation.startMultiStream(spark, src, rows.schema, reg, log, ckpt, idField = "id")
    q2.awaitTermination()
    assert(log.head.get.sequence == seqBefore)
  }

  test("streaming dedup gate: cross-batch pairs, exactly-once signatures on replay, ledger survives checkpoint") {
    import spark.implicits._
    import graft.streaming.StreamingDedup
    import graft.table.SnapshotLog
    val sigLog = new SnapshotLog(
      Files.createTempDirectory("graft_sdedup").toString, spark.sparkContext.hadoopConfiguration)
    def doc(i: Long) = {
      val rnd = new scala.util.Random(i * 2654435761L)
      (i, (0 until 40).map(_ => f"w${rnd.nextInt(5000)}%04d").mkString(" "))
    }
    val b1 = (0L until 8L).map(doc).toDF("doc_id", "text")
    val b2 = Seq((100L, doc(2L)._2 + " xx"), doc(200L)).toDF("doc_id", "text")

    var pairs = Vector.empty[Set[(Long, Long)]]
    def run(df: org.apache.spark.sql.DataFrame, id: Long) =
      StreamingDedup.processAndCommit(sigLog, df, id)(p =>
        pairs :+= p.select("corpus_id", "incoming_id").as[(Long, Long)].collect().toSet)

    assert(run(b1, 0L).isDefined)
    assert(run(b2, 1L).isDefined)
    assert(pairs == Vector(Set.empty, Set((2L, 100L))), pairs.toString)
    // replay of a committed micro-batch: no pairs re-delivered, no commit
    assert(run(b2, 1L).isEmpty && pairs.length == 2)
    assert(sigLog.readTable(spark, sigLog.head.get, StreamingDedup.SigTable).count() == 10)
    // the ledger rides a checkpoint squash, same as the validation gate
    sigLog.checkpoint(sigLog.head.get)
    assert(run(b1, 0L).isEmpty)
    assert(run(b2.filter(col("doc_id") === 200L), 2L).isDefined) // fresh batch still commits
    assert(sigLog.readTable(spark, sigLog.head.get, StreamingDedup.SigTable).count() == 11)
  }

  test("watermarked windowed counts over an event stream") {
    val src = Files.createTempDirectory("graft_stream_ev").toString
    spark.read.parquet("/root/testdata/sf0.001/events.parquet").write.mode("overwrite").parquet(src)
    val schema = spark.read.parquet(src).schema
    val stream = spark.readStream.schema(schema).parquet(src)
    val agg = StreamingValidation.windowedCounts(stream, "ts", "event_type", "1 hour", "10 minutes")
    val q = agg.writeStream.outputMode(OutputMode.Complete()).format("memory").queryName("win_counts").start()
    q.processAllAvailable(); q.stop()
    val rows = spark.sql("SELECT * FROM win_counts")
    assert(rows.count() > 0)
    val total = rows.agg(sum("n")).collect()(0).getLong(0)
    assert(total == spark.read.parquet(src).count())
  }

  test("mapGroupsWithState accumulates per-key totals across batches") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Long)]
    val q = StreamingValidation
      .runningTotals(mem.toDS())
      .writeStream
      .outputMode(OutputMode.Update())
      .format("memory")
      .queryName("totals")
      .start()
    mem.addData(("a", 1L), ("b", 2L)); q.processAllAvailable()
    mem.addData(("a", 10L)); q.processAllAvailable()
    q.stop()
    val last = spark.sql("SELECT * FROM totals").collect().map(r => (r.getString(0), r.getLong(1)))
    assert(last.contains(("a", 11L)), s"state not accumulated: ${last.mkString(",")}")
    assert(last.contains(("b", 2L)))
  }
}
