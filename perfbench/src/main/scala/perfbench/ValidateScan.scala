package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

import graft.engine.{EngineOptions, ImageConstraints, ValidationEngine}

/** `validate_scan`: `ValidationEngine(v1).process(df).rollups` over a
  * stored image table that carries `bytes`, which the plan never reads
  * (no pixel checks). The engine, constraint and functions layers do the
  * work; nothing is written. The frozen `Bench` gate measures the same
  * pipeline at 2 vs 8 cores on a 32-core host; here one op runs on all
  * cores and the traced run adds a single-task pass for the 1-core rate.
  */
object ValidateScan extends Workload {

  /** Generated rows; the scanned table holds `Repeat` hard-linked copies
    * of each generated file, so one op reads `Rows * Repeat` rows through
    * a single scan (no union to plan) while setup writes only `Rows`.
    */
  val Rows = 125000L
  val Repeat = 8
  /** Untimed ops before measuring: op time still falls through the first
    * ten or so ops of a run (JIT), so fewer warm-ups leave the measured
    * median depending on how far the JIT got.
    */
  val WarmOps = 8

  private def generated(ctx: Ctx): String = ctx.path("scan_generated")
  private def table(ctx: Ctx): String = ctx.path("scan_input")

  def setup(ctx: Ctx): Unit = {
    // one split per file: with the session's 16 MB splits a ~90 MB file of
    // a single row group would yield six splits of which five read nothing
    ctx.spark.conf.set("spark.sql.files.maxPartitionBytes", (128L * 1024 * 1024).toString)
    Inputs.writeImages(ctx.spark, Inputs.windowBase(ctx.seed), Rows, ctx.cores, generated(ctx))
    val out = Paths.get(table(ctx))
    if (Files.exists(out)) Files.list(out).forEach(f => Files.delete(f)) else Files.createDirectories(out)
    Files.list(Paths.get(generated(ctx))).filter(_.getFileName.toString.endsWith(".parquet")).forEach { f =>
      (0 until Repeat).foreach(k => Files.createLink(out.resolve(s"copy$k-${f.getFileName}"), f))
    }
  }

  /** The table, or only its first `copies` copies (for the single-task rate). */
  private def input(ctx: Ctx, copies: Int = Repeat): DataFrame =
    if (copies == Repeat) ctx.spark.read.parquet(table(ctx))
    else ctx.spark.read.parquet((0 until copies).map(k => s"${table(ctx)}/copy$k-*"): _*)

  private def engine = new ValidationEngine(ImageConstraints.v1, EngineOptions(snapshotId = "scan"))

  /** One op: every row validated, the rollups collected and checked
    * against the planted-anomaly counts. A fresh frame per op, so no
    * materialized stage is reused.
    */
  private def validate(ctx: Ctx, df: DataFrame, repeat: Int, exp: Inputs.Expected): Option[Unit] =
    ctx.attempt("validate") {
      val r = ctx.timedOp(engine.process(df).rollups.agg(sum("n_success"), sum("n_invalid"), sum("n_error")).collect()(0))
      ((), Seq(
        ctx.expect("n_success", exp.valid * repeat, r.getLong(0)),
        ctx.expect("n_invalid", exp.invalid * repeat, r.getLong(1)),
        ctx.expect("n_error", 0L, r.getLong(2))))
    }

  def run(ctx: Ctx): Unit = {
    val exp = Inputs.expected(Inputs.windowBase(ctx.seed), Rows)
    ctx.warmUp((1 to WarmOps).foreach(_ => validate(ctx, input(ctx), Repeat, exp)))
    val samples = ctx.loop(1)(_ => validate(ctx, input(ctx), Repeat, exp))
    ctx.recordLoop(samples, Rows * Repeat)
    if (!ctx.trace.enabled) return

    val rowsPerOp = (Rows * Repeat).toDouble
    val nproc = rowsPerOp / Main.median(samples)
    // one task scans a quarter of the op's rows: the 1-core rate
    val oneRepeat = math.max(Repeat / 4, 1)
    val one = ctx.trace.timed("scan.one_core")(validate(ctx, input(ctx, oneRepeat).coalesce(1), oneRepeat, exp))._2
    val oneRate = Rows * oneRepeat / one
    ctx.layer("scan.rows_per_s_1core", oneRate, "rows/s")
    ctx.layer("scan.scaling_efficiency", nproc / (ctx.cores * oneRate), "ratio")

    // cumulative prefixes to the noop sink: scan -> annotate -> rollup
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    val cols = engine.process(input(ctx, 1)).rollups.queryExecution.sparkPlan
      .collect { case s: FileSourceScanExec => s.requiredSchema.fieldNames.toSeq }.flatten.distinct
    ctx.layer("scan.read_s", ctx.trace.timed("scan.read")(noop(input(ctx).select(cols.map(col): _*)))._2, "s")
    ctx.layer("engine.annotate_s",
      ctx.trace.timed("engine.annotate")(noop(engine.process(input(ctx).select(cols.map(col): _*)).annotated))._2, "s")
    ctx.layer("engine.rollup_s", Main.median(samples), "s")

    ctx.trace.drain()
    val c0 = ctx.trace.counters
    val (_, wall) = ctx.trace.timed("scan.counted")(validate(ctx, input(ctx), Repeat, exp))
    ctx.trace.drain()
    val c = ctx.trace.counters - c0
    ctx.layer("scan.tasks", c.tasks, "count")
    ctx.layer("scan.task_busy_s", c.taskBusyNs / 1e9, "s")
    ctx.layer("scan.sched_idle_s", ctx.cores * wall - c.taskBusyNs / 1e9, "s")
  }
}
