package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.BenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Benchmark entry point: one workload, one seed, one process.
  *
  * `--workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir> --data <dir>`
  *
  * One client drives the library in a closed loop from this driver at
  * `local[nproc]`: the next operation is submitted only after the previous
  * one returned. The last stdout line is the result object; progress and
  * the self-time report go to stderr.
  */
object Main {

  val Workloads: Map[String, Workload] = Map(
    "validate_scan" -> ValidateScan,
    "gate_bulk" -> GateBulk,
    "gate_micro" -> GateMicro,
    "near_dup" -> NearDup
  )

  /** Input generations per run; setup_s reports their median. */
  val SetupRepeats = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def arg(k: String): String = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = Workloads.getOrElse(arg("workload"), sys.error(s"unknown workload ${arg("workload")}"))
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toDouble
    val traced = arg("trace") == "1"
    val work = new File(arg("work")).getAbsoluteFile
    val data = new File(arg("data")).getAbsoluteFile

    val cores = Runtime.getRuntime.availableProcessors()
    val t0 = System.nanoTime()
    val spark = session(cores, work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val trace = new Trace(spark, traced, s"${arg("workload")}-$seed-${ProcessHandle.current().pid()}")
    val ctx = new Ctx(spark, trace, cores, seed, seconds, work, data)
    try {
      val gens = (1 to SetupRepeats).map(_ => ctx.time(workload.setup(ctx)))
      ctx.e2e("setup_s", sessionS + median(gens), "s")
      ctx.log(f"session $sessionS%.2f s, input generations ${gens.map(g => f"$g%.2f").mkString(" ")} s")
      workload.run(ctx)
      ctx.e2e("retained_heap_mb", retainedHeapMb(trace), "MB")
      if (traced) {
        ctx.layer("trace.spans", trace.spanCount, "count")
        trace.writeOut(new File(work, s"trace-${trace.run}.jsonl"))
      }
      ctx.log(f"done in ${(System.nanoTime() - t0) / 1e9}%.1f s")
      println(ctx.resultJson(traced))
    } finally {
      trace.close()
      spark.stop()
    }
  }

  def session(cores: Int, work: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", math.max(cores, 8).toString)
      .config("spark.sql.files.maxPartitionBytes", (16L * 1024 * 1024).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      // bounded status-store history, so retained heap measures the
      // library's state rather than how many jobs the run fitted in
      .config("spark.ui.retainedJobs", "1")
      .config("spark.ui.retainedStages", "1")
      .config("spark.ui.retainedTasks", "1")
      .config("spark.sql.ui.retainedExecutions", "1")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Heap in use after a full GC, not counting broadcast blocks (transient:
    * Spark's cleaner thread drops them at its own pace once unreferenced).
    * Cached and persisted blocks do count. A reading is kept only if no
    * broadcast was dropped while it was taken; the least of three is
    * reported.
    */
  private def retainedHeapMb(trace: Trace): Double = {
    trace.drain()
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    def reading(): Option[Long] = {
      val before = BenchBus.broadcastBytes()
      System.gc()
      val used = mem.getHeapMemoryUsage.getUsed
      val after = BenchBus.broadcastBytes()
      if (before == after) Some(used - after) else None
    }
    val stable = Iterator.continually(reading()).take(20).flatten.take(3).toSeq
    (if (stable.nonEmpty) stable.min else mem.getHeapMemoryUsage.getUsed) / (1024.0 * 1024.0)
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val m = s.size / 2
    if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }

  /** Highest percentile with at least ten samples beyond it: the 11th
    * largest sample (None below 11 samples).
    */
  def tail(xs: Seq[Double]): Option[Double] =
    if (xs.size < 11) None else Some(xs.sorted.apply(xs.size - 11))
}

/** A benchmark workload: `setup` generates its inputs (run several times;
  * the last generation is the one measured), `run` warms up, measures and
  * records metrics into the context.
  */
trait Workload {
  def setup(ctx: Ctx): Unit
  def run(ctx: Ctx): Unit
}

/** Per-run state shared by the workloads: the session, the recorder, the
  * seed, the scratch (`work`) and fixed-input (`data`) directories and the
  * result being built.
  */
final class Ctx(val spark: SparkSession, val trace: Trace, val cores: Int, val seed: Long,
    val seconds: Double, val work: File, val data: File) {

  private var attempted = 0L
  private var failed = 0L
  private val e2eMetrics = mutable.LinkedHashMap[String, (Double, String)]()
  private val layerMetrics = mutable.LinkedHashMap[String, (Double, String)]()
  private var busyNs = 0L
  private var opNs = 0L

  def path(name: String): String = new File(work, name).getPath

  /** The `.parquet` files directly under `dir`, sorted by name (a writer's
    * task order). */
  def parquetFiles(dir: String): IndexedSeq[String] = {
    val d = new File(dir)
    Option(d.listFiles()).getOrElse(Array.empty[File]).map(_.getPath).filter(_.endsWith(".parquet")).sorted.toIndexedSeq
  }

  /** (bytes, files) under `dir`, recursively; (0, 0) if it does not exist. */
  def du(dir: String): (Long, Long) = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) (0L, 0L) else { val s = fs.getContentSummary(p); (s.getLength, s.getFileCount) }
  }

  def time(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  /** One attempted operation: counted as failed when it throws or any of
    * the checks it returns is false (each failing check is logged).
    */
  def attempt[T](name: String)(body: => (T, Seq[(String, Boolean)])): Option[T] = {
    attempted += 1
    try {
      val (v, checks) = body
      val bad = checks.filterNot(_._2)
      bad.foreach { case (what, _) => log(s"CHECK FAILED in $name: $what") }
      if (bad.nonEmpty) { failed += 1; None } else Some(v)
    } catch {
      case e: Exception =>
        failed += 1
        log(s"$name threw: $e")
        e.printStackTrace()
        None
    }
  }

  /** `expected == actual`, labelled for the failure log. */
  def expect(what: String, expected: Any, actual: Any): (String, Boolean) =
    (s"$what: expected $expected, got $actual", expected == actual)

  /** Wall time and Spark counters of the last [[timedOp]] region. */
  final case class OpSample(ns: Long, counters: Counters)
  private var lastOp: Option[OpSample] = None

  /** The timed region of an op. Only calls into the library go inside;
    * the op's checks and byte counts run after it returns, so they count
    * in `failed` but not in the op's time.
    */
  def timedOp[T](body: => T): T = {
    trace.drain()
    val c0 = trace.counters
    val t0 = System.nanoTime()
    val v = trace.span("op")(body)
    val dt = System.nanoTime() - t0
    trace.drain()
    lastOp = Some(OpSample(dt, trace.counters - c0))
    v
  }

  /** Counters of the last [[timedOp]] region. */
  def opCounters: Counters = lastOp.get.counters

  /** Closed-loop measurement: runs `op` back to back until `seconds` have
    * passed and at least `minOps` ran (never more than `maxOps`); returns
    * the seconds of each successful op's [[timedOp]] region. Task time of
    * those regions feeds `core_util`.
    *
    * In a traced run every other op runs with span recording off; the
    * difference of the two medians is reported as the tracing overhead.
    */
  def loop(minOps: Int, maxOps: Int = Int.MaxValue)(op: Int => Option[Any]): Seq[Double] = {
    val samples = mutable.ArrayBuffer[Double]()
    val byMode = Map(true -> mutable.ArrayBuffer[Double](), false -> mutable.ArrayBuffer[Double]())
    val need = if (trace.enabled) math.max(minOps, 2) else minOps
    val start = System.nanoTime()
    var k = 0
    while (k < maxOps && (k < need || (System.nanoTime() - start) / 1e9 < seconds)) {
      trace.active = trace.enabled && k % 2 == 0
      lastOp = None
      val ok = op(k).isDefined
      val timed = lastOp.filter(_ => ok)
      log(f"op $k ${if (trace.active) "traced" else ""} ${timed.map(_.ns / 1e9).getOrElse(Double.NaN)}%.3f s ok=$ok")
      timed.foreach { t =>
        samples += t.ns / 1e9
        byMode(trace.active) += t.ns / 1e9
        busyNs += t.counters.taskBusyNs
        opNs += t.ns
        tracedOps += (if (trace.active) 1 else 0)
      }
      k += 1
    }
    trace.active = trace.enabled
    if (trace.enabled && byMode.values.forall(_.nonEmpty)) {
      layer("trace.overhead_ms", (Main.median(byMode(true).toSeq) - Main.median(byMode(false).toSeq)) * 1000, "ms")
      layer("trace.op_driver_ms", trace.driverSeconds("op") / tracedOps * 1000, "ms")
    }
    samples.toSeq
  }
  private var tracedOps = 0

  /** Runs an untimed warm-up with span recording off. */
  def warmUp[T](body: => T): T = {
    trace.active = false
    try body finally trace.active = trace.enabled
  }

  /** Share of the cores' time during measured ops that tasks were busy. */
  def coreUtil: Double = if (opNs == 0) 0.0 else busyNs.toDouble / (cores.toDouble * opNs)

  def e2e(name: String, value: Double, unit: String): Unit = e2eMetrics(name) = (value, unit)
  def layer(name: String, value: Double, unit: String): Unit = layerMetrics(name) = (value, unit)

  /** Records the four loop-derived end-to-end metrics. */
  def recordLoop(samples: Seq[Double], rowsPerOp: Long): Unit = {
    if (samples.isEmpty) return
    e2e("op_p50_ms", Main.median(samples) * 1000, "ms")
    e2e("rows_per_s", rowsPerOp / Main.median(samples), "rows/s")
    e2e("core_util", coreUtil, "ratio")
  }

  /** Order-independent content fingerprint of a frame: (rows, sum of
    * 31-bit row hashes). Two frames holding the same multiset of rows give
    * the same pair whatever their order or partitioning.
    */
  def fingerprint(df: DataFrame): (Long, Long) = {
    val h = pmod(xxhash64(df.columns.toIndexedSeq.map(c => col(s"`$c`")): _*), lit(2147483647L))
    val r = df.agg(count(lit(1)), coalesce(sum(h), lit(0L))).collect()(0)
    (r.getLong(0), r.getLong(1))
  }

  /** Every metric, in the order the workloads recorded them. Per-layer
    * metrics no layer of this workload produced read 0.
    */
  def resultJson(traced: Boolean): String = {
    val metrics =
      if (traced) Metrics.perLayer.map { case (n, u) => n -> layerMetrics.getOrElse(n, (0.0, u)) }
      else e2eMetrics.toSeq
    val missing = if (traced) layerMetrics.keySet -- Metrics.perLayer.map(_._1) else Set.empty
    require(missing.isEmpty, s"per-layer metrics not declared in Metrics.perLayer: $missing")
    val body = metrics.map { case (n, (v, u)) =>
      s""""$n": {"value": ${num(v)}, "unit": "$u"}"""
    }.mkString(", ")
    s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": {$body}}"""
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
}
