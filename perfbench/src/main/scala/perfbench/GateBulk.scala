package perfbench

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._

import graft.drift.Drift
import graft.engine.{EngineOptions, ImageConstraints, ValidationEngine}
import graft.integrity.Referential
import graft.model.Status
import graft.sketch.Sketches
import graft.table.{Manifest, SnapshotLog, ValidationJob}

/** `gate_bulk`: `ValidationJob.run` into a fresh `SnapshotLog` with large
  * commit batches, then the reads a downstream user makes of the committed
  * snapshot. The table layer's write path (annotated write with its
  * Observation sketches, failing-slice re-read, re-ingest gate, rollups,
  * commit) does most of the work; the read-back shows what the written
  * layout costs readers.
  */
object GateBulk extends Workload {

  val Partitions = 4
  val RowsPerPartition = 6000L
  /** Every partition in one commit: the large-batch shape. */
  val CommitBatch = Partitions
  val Phases = Seq("write_annotated", "write_violations", "write_rollups")

  private def inputDir(ctx: Ctx): String = ctx.path("gate_input")
  private def captions(ctx: Ctx): String = ctx.path("gate_captions")
  private def rows: Long = Partitions * RowsPerPartition

  /** One generator task per source partition, so partition p is the p-th file. */
  def setup(ctx: Ctx): Unit = {
    val base = Inputs.windowBase(ctx.seed)
    Inputs.writeImages(ctx.spark, base, rows, Partitions, inputDir(ctx))
    Inputs.writeCaptions(ctx.spark, base, rows, captions(ctx))
  }

  private def delete(ctx: Ctx, dir: String): Unit = {
    val path = new Path(dir)
    path.getFileSystem(ctx.spark.sparkContext.hadoopConfiguration).delete(path, true)
  }

  final case class Outcome(traced: Boolean, runS: Double, readS: Double, m: Manifest, jobs: Option[Long],
      phasesS: Map[String, Double], reads: Map[String, Double], bytes: Map[String, Long], files: Long,
      storedBytes: Long)

  /** One op: the gate run into a fresh log, then the read-back. Only those
    * library calls are timed; the checks against the planted-anomaly
    * counts and the byte counts follow the timed region.
    */
  private def gate(ctx: Ctx, k: Int, files: IndexedSeq[String], baseline: Option[Manifest], exp: Inputs.Expected,
      ref: (Long, Long)): Option[Outcome] = {
    val root = ctx.path(s"gate_log_$k")
    delete(ctx, root)
    val spark = ctx.spark
    val out = ctx.attempt("gate") {
      val log = new SnapshotLog(root, spark.sparkContext.hadoopConfiguration)
      val job = new ValidationJob(spark, log, ImageConstraints.v1, commitBatch = CommitBatch)
      val (m, runS, valid, vio, drift, refs, reads, readS) = ctx.timedOp {
        val (m, runS) = ctx.trace.timed("gate.run")(job.run(p => spark.read.parquet(files(p)), 0 until Partitions))
        val t0 = System.nanoTime()
        val (valid, validS) = ctx.trace.timed("gate.table.read_valid") {
          log.readTable(spark, m, "valid")
            .agg(count(lit(1)), sum("w"), sum(length(col("caption"))), sum(length(col("bytes")))).collect()(0).getLong(0)
        }
        val (vio, vioS) = ctx.trace.timed("gate.table.read_violations") {
          log.readTable(spark, m, "violations").groupBy("constraint_id").count().collect()
            .map(r => r.getString(0) -> r.getLong(1)).toMap
        }
        val (drift, driftS) = ctx.trace.timed("gate.drift.report")(Drift.reportFromManifests(baseline.getOrElse(m), m))
        val (refs, refS) = ctx.trace.timed("gate.integrity.referential") {
          val r = Referential.check(log.readTable(spark, m, "annotated").select("image_id"), spark.read.parquet(captions(ctx)))
          (r.orphanImages, r.danglingCaptions)
        }
        (m, runS, valid, vio, drift, refs,
          Map("read_valid" -> validS, "read_violations" -> vioS, "drift" -> driftS, "referential" -> refS),
          (System.nanoTime() - t0) / 1e9)
      }
      val jobs = ctx.trace.jobsUnderLast("gate.run")
      val invalidBack = log.readTable(spark, m, "annotated").filter(col("status") === Status.Invalid).count()
      val annBytes = log.tablePaths(m, "annotated").map(ctx.du(_)._1).sum
      val vioBytes = log.tablePaths(m, "violations").map(ctx.du(_)._1).sum
      val (stored, dataFiles) = ctx.du(s"$root/data")
      val o = Outcome(ctx.trace.active, runS, readS, m, jobs,
        Phases.map(p => p -> m.metrics.getOrElse(s"wall_ms_$p", 0L) / 1000.0).toMap, reads,
        Map("annotated" -> annBytes, "violations" -> vioBytes), dataFiles, stored)
      (o, Seq(
        ctx.expect("manifest n_success", exp.valid, m.metrics("n_success")),
        ctx.expect("manifest n_invalid", exp.invalid, m.metrics("n_invalid")),
        ctx.expect("manifest n_error", 0L, m.metrics("n_error")),
        ctx.expect("violations_rejected", 0L, m.metrics("violations_rejected")),
        ctx.expect("valid rows read back vs manifest", m.metrics("n_success"), valid),
        ctx.expect("invalid rows read back vs manifest", m.metrics("n_invalid"), invalidBack),
        ctx.expect("violation rows read back", exp.violations, vio.values.sum),
        ctx.expect("commits", 1, log.chain(m).size),
        ctx.expect("referential (orphans, dangling)", ref, refs),
        ("drift report has scores", drift.scores.nonEmpty),
        ("no drift against the same window", drift.pass),
        ("annotated bytes written", annBytes > 0)))
    }
    if (k >= 0) delete(ctx, root)
    out
  }

  def run(ctx: Ctx): Unit = {
    val base = Inputs.windowBase(ctx.seed)
    val exp = Inputs.expected(base, rows)
    val ref = Inputs.expectedReferential(base, rows)
    val files = ctx.parquetFiles(inputDir(ctx))
    require(files.size == Partitions, s"expected $Partitions input files, found ${files.size}")
    // the warm-up's snapshot stays as the drift baseline of every measured run
    val baseline = ctx.warmUp(gate(ctx, -1, files, None, exp, ref)).map(_.m)
    val outcomes = scala.collection.mutable.ArrayBuffer[Outcome]()
    // an op takes about as long as the measuring window: take at least two
    val samples = ctx.loop(2) { k =>
      val o = gate(ctx, k, files, baseline, exp, ref)
      o.foreach(outcomes += _)
      o
    }
    ctx.recordLoop(samples, rows)
    // rows_per_s counts the gate run alone; op_p50_ms also covers the read-back
    if (outcomes.nonEmpty) ctx.e2e("rows_per_s", rows / Main.median(outcomes.map(_.runS).toSeq), "rows/s")
    if (!ctx.trace.enabled || outcomes.isEmpty) return

    def med(f: Outcome => Double): Double = Main.median(outcomes.map(f).toSeq)
    Phases.foreach(p => ctx.layer(s"gate.table.${p}_s", med(_.phasesS(p)), "s"))
    ctx.layer("gate.table.commit_s", med(o => o.runS - o.phasesS.values.sum), "s")
    ctx.layer("gate.table.bytes_annotated", med(_.bytes("annotated").toDouble), "bytes")
    ctx.layer("gate.table.bytes_violations", med(_.bytes("violations").toDouble), "bytes")
    ctx.layer("gate.table.files", med(_.files.toDouble), "count")
    ctx.layer("gate.spark.jobs", Main.median(outcomes.flatMap(_.jobs).map(_.toDouble).toSeq), "count")
    ctx.layer("gate.stored_bytes_per_row", med(_.storedBytes.toDouble) / rows, "bytes")
    ctx.layer("gate.table.read_valid_s", med(_.reads("read_valid")), "s")
    ctx.layer("gate.table.read_violations_s", med(_.reads("read_violations")), "s")
    ctx.layer("gate.drift.report_s", med(_.reads("drift")), "s")
    ctx.layer("gate.integrity.referential_s", med(_.reads("referential")), "s")
    ctx.layer("gate.read_s", med(_.readS), "s")

    // The manifest's per-phase wall_ms must cover the Spark jobs the trace
    // saw in that phase's job group (and the phases must fit in the run).
    ctx.trace.drain()
    val jobS = ctx.trace.jobSecondsByGroup("gate.run")
    val traced = outcomes.filter(_.traced)
    ctx.attempt("phase cross-check") {
      ((), Phases.map { p =>
        val manifestS = traced.map(_.phasesS(p)).sum
        val spanS = jobS.getOrElse(p, 0.0)
        (f"$p: traced job time $spanS%.3f s within manifest wall $manifestS%.3f s",
          spanS > 0 && spanS <= manifestS * 1.05 + 0.05)
      } :+ ("phases within run", outcomes.forall(o => o.phasesS.values.sum <= o.runS + 0.01)))
    }

    // cumulative prefixes to the noop sink: annotate, then + sketches
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    def annotated: DataFrame = {
      val tagged = (0 until Partitions).map(p => ctx.spark.read.parquet(files(p)).withColumn("_pid", lit(p)))
        .reduce(_ unionByName _)
      new ValidationEngine(ImageConstraints.v1, EngineOptions(snapshotId = "bulk", partitionIdCol = col("_pid")))
        .process(tagged).annotated.drop("_pid")
    }
    ctx.layer("gate.engine.annotate_s", ctx.trace.timed("gate.engine.annotate")(noop(annotated))._2, "s")
    val ok = col("status") === Status.Success
    val sketches = Seq(
      Sketches.hllString(when(ok, col("image_id"))), Sketches.hllLong(when(ok, col("phash"))),
      Sketches.tdigest(when(ok, col("w"))), Sketches.tdigest(when(ok, col("h"))),
      Sketches.tdigest(when(ok, length(col("bytes")))), Sketches.freqString(when(ok, col("fmt"))),
      Sketches.freqLong(when(ok, col("phash")))).zipWithIndex.map { case (c, i) => c.as(s"sk$i") }
    ctx.layer("gate.sketch.observe_s", ctx.trace.timed("gate.sketch.observe") {
      noop(annotated.observe(Observation("perfbench_sketches"), count(lit(1)).as("n"), sketches: _*))
    }._2, "s")
  }
}
