package perfbench

import java.io.File
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkEntry

/** `near_dup`: the near-duplicate family of `SparkEntry.queries` over the
  * repository's sf0.1 `documents` and `embeddings` tables, each query sent
  * to the noop sink. The ops layer (Dedup, MinHash, Similarity) is measured
  * nowhere else, and none of these queries touches the gate.
  *
  * The tables are fixed, read in place from `<data>/sf0.1`; the seed plays
  * no part in this workload.
  */
object NearDup extends Workload {

  val Family: Seq[String] = Seq("img_near_dup", "q20_minhash_dedup", "q21_simhash_dedup", "q22_ngram_jaccard",
    "q35_phash_near_dup", "q36_dedup_components", "q37_semantic_dedup", "q44_incremental_near_dup",
    "q45_incremental_text_dedup")

  def dir(data: File): String = new File(data, "sf0.1").getPath

  /** Rows of the two tables; setup checks them. */
  val Documents = 5000L
  val Embeddings = 2000L

  /** Input rows one pass reads: the documents, the embeddings and
    * img_near_dup's 3000 generated images.
    */
  val RowsPerPass: Long = Documents + Embeddings + 3000L

  /** Nothing to generate: setup opens both tables and checks their row
    * counts.
    */
  def setup(ctx: Ctx): Unit = {
    def rows(table: String): Long = ctx.spark.read.parquet(s"${dir(ctx.data)}/$table.parquet").count()
    require(rows("documents") == Documents && rows("embeddings") == Embeddings,
      s"unexpected sf0.1 tables under ${dir(ctx.data)}")
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Runs one query to the noop sink with an Observation of its output;
    * returns (rows, order-independent hash).
    */
  def digest(ctx: Ctx, name: String, dir: String): (Long, Long) = {
    val obs = Observation(s"perfbench_$name")
    val df = SparkEntry.queries(name)(ctx.spark, dir)
    val h = pmod(xxhash64(df.columns.toIndexedSeq.map(c => col(s"`$c`")): _*), lit(2147483647L))
    noop(df.observe(obs, count(lit(1)).as("n"), coalesce(sum(h), lit(0L)).as("h")))
    val r = obs.get
    (r("n").asInstanceOf[Long], r("h").asInstanceOf[Long])
  }

  /** Expected (rows, hash) per query, recorded with `RecordNearDup`. */
  lazy val expected: Map[String, (Long, Long)] = {
    val src = scala.io.Source.fromResource("expected_near_dup.tsv")
    try src.getLines().filterNot(_.startsWith("#")).map(_.split('\t')).collect {
      case Array(q, n, h) => q -> (n.toLong, h.toLong)
    }.toMap
    finally src.close()
  }

  /** Sums `lsh_dropped_rows` over every observed LSH bucket cap. */
  private final class DropListener extends QueryExecutionListener {
    val dropped = new AtomicLong()
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      qe.observedMetrics.foreach { case (name, row) =>
        if (name.startsWith("lsh_buckets") && !row.isNullAt(0)) dropped.addAndGet(row.getLong(0))
      }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  def run(ctx: Ctx): Unit = {
    val drops = new DropListener
    ctx.spark.listenerManager.register(drops)
    val perQuery = scala.collection.mutable.Map[String, Seq[Double]]().withDefaultValue(Nil)
    var shuffleBytes = Seq.empty[Long]
    var dropped = Seq.empty[Long]

    // The first pass warms up, untimed, with every query's result checked.
    // Measured passes run the bare queries; each must drop exactly as many
    // rows at the LSH bucket caps as the checked pass did.
    val checkedDrops = ctx.warmUp(ctx.attempt("near_dup checked pass") {
      val d0 = drops.dropped.get
      val checks = Family.map(q => ctx.expect(s"$q (rows, hash)", expected.get(q), Some(digest(ctx, q, dir(ctx.data)))))
      ctx.trace.drain()
      (drops.dropped.get - d0, checks)
    })
    val samples = ctx.loop(1) { _ =>
      ctx.attempt("near_dup pass") {
        val d0 = drops.dropped.get
        val secs = ctx.timedOp(Family.map { q =>
          q -> ctx.trace.timed(s"ops.$q")(noop(SparkEntry.queries(q)(ctx.spark, dir(ctx.data))))._2
        })
        if (ctx.trace.active) secs.foreach { case (q, s) => perQuery(q) :+= s }
        shuffleBytes :+= ctx.opCounters.shuffleBytes
        dropped :+= drops.dropped.get - d0
        ((), Seq(ctx.expect("lsh dropped rows vs the checked pass", checkedDrops, Some(dropped.last))))
      }
    }
    ctx.recordLoop(samples, RowsPerPass)
    ctx.spark.listenerManager.unregister(drops)
    if (!ctx.trace.enabled) return

    Family.foreach(q => if (perQuery(q).nonEmpty) ctx.layer(s"ops.${q}_s", Main.median(perQuery(q)), "s"))
    if (shuffleBytes.nonEmpty) ctx.layer("ops.shuffle_bytes", shuffleBytes.head, "bytes")
    if (dropped.nonEmpty) ctx.layer("ops.lsh_dropped_rows", dropped.head, "count")
    ctx.log(s"shuffle bytes per pass: $shuffleBytes")
  }
}

/** Prints `expected_near_dup.tsv` — (query, rows, hash) for every query of
  * the family — on stdout: `RecordNearDup --work <dir> --data <dir>`.
  */
object RecordNearDup {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> new File(v).getAbsoluteFile }.toMap
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = Main.session(cores, opts("work"))
    val trace = new Trace(spark, false, "record")
    val ctx = new Ctx(spark, trace, cores, 0L, 0, opts("work"), opts("data"))
    println("# query\trows\thash")
    try NearDup.Family.foreach { q =>
      val (n, h) = NearDup.digest(ctx, q, NearDup.dir(ctx.data))
      println(s"$q\t$n\t$h")
    } finally { trace.close(); spark.stop() }
  }
}
