package perfbench

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame

import graft.engine.{EngineOptions, ImageConstraints, ValidationEngine}
import graft.streaming.StreamingValidation
import graft.table.{Maintenance, SnapshotLog}

/** `gate_micro`: small batches through `StreamingValidation
  * .processAndCommit` on one growing log, then a read of the fragmented
  * `valid` table, `Maintenance.compact("annotated")` and the same read
  * again. Per-batch fixed cost dominates (planning, several Spark jobs,
  * the `head` listing, the ledger walk, small-file writes), so row-kernel
  * speedups should leave it flat.
  */
object GateMicro extends Workload {

  val RowsPerBatch = 2000L
  /** Batches generated per run; a run stops early when its time is up. */
  val MaxBatches = 24
  /** Untimed batches before measuring; batch time still falls through the
    * first ten or so batches of a run (JIT).
    */
  val WarmBatches = 10
  val CheckpointId = "perfbench"

  private def batches(ctx: Ctx): String = ctx.path("micro_input")
  private def root(ctx: Ctx): String = ctx.path("micro_log")

  def setup(ctx: Ctx): Unit =
    Inputs.writeImages(ctx.spark, Inputs.windowBase(ctx.seed), RowsPerBatch * MaxBatches, MaxBatches, batches(ctx))

  /** Batch b is the b-th generator task's file: rows [b*R, (b+1)*R) of the window. */
  private def batch(ctx: Ctx, files: IndexedSeq[String], b: Int): DataFrame = ctx.spark.read.parquet(files(b))

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val conf = spark.sparkContext.hadoopConfiguration
    val rootPath = new Path(root(ctx))
    rootPath.getFileSystem(conf).delete(rootPath, true)
    val files = ctx.parquetFiles(batches(ctx))
    require(files.size == MaxBatches, s"expected $MaxBatches batch files, found ${files.size}")
    val base = Inputs.windowBase(ctx.seed)
    val log = new SnapshotLog(root(ctx), conf)

    def commit(b: Int): Option[(Long, Long)] = ctx.attempt(s"batch $b") {
      val m = ctx.timedOp(ctx.trace.span("micro.batch") {
        StreamingValidation.processAndCommit(log, ImageConstraints.v1, batch(ctx, files, b), b, CheckpointId)
      })
      val jobs = ctx.opCounters.jobs
      val exp = Inputs.expected(base + b * RowsPerBatch, RowsPerBatch)
      val (_, batchFiles) = ctx.du(log.tablePaths(m.get, "annotated").last.stripSuffix("/annotated"))
      val prev = log.chain(m.get).drop(1).nextOption().map(_.metrics).getOrElse(Map.empty[String, Long])
      def delta(k: String): Long = m.get.metrics(k) - prev.getOrElse(k, 0L)
      ((jobs, batchFiles), Seq(
        ("committed", m.isDefined),
        ctx.expect(s"batch $b n_success", exp.valid, delta("n_success")),
        ctx.expect(s"batch $b n_invalid", exp.invalid, delta("n_invalid"))))
    }

    ctx.warmUp((0 until WarmBatches).foreach(commit))
    val counts = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    var committed = WarmBatches
    // 11 batches give the traced run a tail (ten samples beyond it)
    val samples = ctx.loop(if (ctx.trace.enabled) 11 else 6, MaxBatches - WarmBatches) { _ =>
      val r = commit(committed)
      committed += 1
      r.foreach(counts += _)
      r
    }
    ctx.recordLoop(samples, RowsPerBatch)
    val expValid = (0 until committed).map(b => Inputs.expected(base + b * RowsPerBatch, RowsPerBatch).valid).sum

    // read the fragmented table, compact, read again: same rows
    def readValid(): (Long, Long) = ctx.fingerprint(log.readTable(spark, log.head.get, "valid"))
    val compacted = ctx.attempt("read, compact, read") {
      val (before, readS) = ctx.trace.timed("micro.read")(readValid())
      val (stats, compactS) = ctx.trace.timed("micro.compact")(Maintenance.compact(spark, log, "annotated"))
      val (after, readCompactedS) = ctx.trace.timed("micro.read_compacted")(readValid())
      ((stats, readS, compactS, readCompactedS), Seq(
        ctx.expect("valid rows before compaction", expValid, before._1),
        ctx.expect("valid (rows, fingerprint) unchanged by compaction", before, after),
        ("compaction reduced files", stats.filesAfter < stats.filesBefore)))
    }
    if (!ctx.trace.enabled) return

    Main.tail(samples).foreach(t => ctx.layer("micro.batch_tail_ms", t * 1000, "ms"))
    ctx.layer("micro.batches", samples.size, "count")
    compacted.foreach { case (stats, readS, compactS, readCompactedS) =>
      ctx.layer("micro.read_s", readS, "s")
      ctx.layer("micro.compact_s", compactS, "s")
      ctx.layer("micro.read_compacted_s", readCompactedS, "s")
      ctx.layer("micro.table.compact_files_before", stats.filesBefore, "count")
      ctx.layer("micro.table.compact_files_after", stats.filesAfter, "count")
      ctx.layer("micro.table.compact_bytes_rewritten", stats.bytesRewritten, "bytes")
    }
    if (counts.nonEmpty) {
      ctx.layer("micro.spark.jobs_per_batch", Main.median(counts.map(_._1.toDouble).toSeq), "count")
      ctx.layer("micro.table.files_per_batch", Main.median(counts.map(_._2.toDouble).toSeq), "count")
    }

    // metadata costs at the final chain length, medians of repeated calls
    def medMs(name: String, n: Int)(body: => Any): Double =
      Main.median((1 to n).map(_ => ctx.trace.timed(name)(body)._2)) * 1000
    ctx.layer("micro.table.head_ms", medMs("micro.table.head", 21)(log.head), "ms")
    val head = log.head.get
    ctx.layer("micro.table.ledger_ms", medMs("micro.table.ledger", 21)(log.committedStreamBatches(head, CheckpointId)), "ms")
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    val engine = new ValidationEngine(ImageConstraints.v1, EngineOptions(snapshotId = "micro"))
    ctx.layer("micro.engine.annotate_ms", medMs("micro.engine.annotate", 5)(noop(engine.process(batch(ctx, files, 0)).annotated)), "ms")
  }
}
