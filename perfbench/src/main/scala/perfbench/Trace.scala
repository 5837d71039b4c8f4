package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One timed interval. `parent` is the enclosing span's id (0 = none);
  * every span of one benchmark process shares `run`.
  */
final case class Span(id: Long, parent: Long, name: String, startNs: Long, endNs: Long, run: String) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spark-side counters for one measured interval, summed over the tasks
  * and jobs the listener saw.
  */
final case class Counters(tasks: Long, taskBusyNs: Long, jobs: Long, shuffleBytes: Long) {
  def -(o: Counters): Counters =
    Counters(tasks - o.tasks, taskBusyNs - o.taskBusyNs, jobs - o.jobs, shuffleBytes - o.shuffleBytes)
}

/** The benchmark's recorder. Spans are taken around calls into the
  * library's public API, from the benchmark's own code; nothing inside the
  * library is instrumented.
  *
  * The listener is always registered: its task counters feed the
  * end-to-end `core_util` metric. Only while `active` does it also record
  * every Spark job as a child span of the benchmark span that submitted it
  * (via a local property), which is what makes a span's self time — its
  * duration minus the time its Spark jobs cover — readable as driver-side
  * work (planning, listing, commit).
  */
final class Trace(spark: SparkSession, val enabled: Boolean, val run: String) {
  /** Whether spans are being recorded right now; the loop switches it off
    * for every other operation of a traced run to measure the overhead. */
  @volatile var active: Boolean = enabled
  private val ids = new AtomicLong(0)
  private val stack = mutable.Stack[Long]()
  private val spans = mutable.ArrayBuffer[Span]()
  private val PropKey = "perfbench.span"

  private val tasks = new AtomicLong()
  private val taskBusyNs = new AtomicLong()
  private val jobs = new AtomicLong()
  private val shuffleBytes = new AtomicLong()
  // job id -> (start ns on the driver's nanoTime clock, parent span, job group)
  private val openJobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long, String)]()
  private val jobSpans = new java.util.concurrent.ConcurrentLinkedQueue[(Span, String)]()
  // listener event times are wall-clock ms; convert onto the nanoTime axis
  private val clockOffsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L

  private val listener = new SparkListener {
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      Option(e.taskMetrics).foreach { m =>
        taskBusyNs.addAndGet(m.executorRunTime * 1000000L)
        shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      }
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet()
      if (active) {
        val props = Option(e.properties)
        val parent = props.flatMap(p => Option(p.getProperty(PropKey))).map(_.toLong).getOrElse(0L)
        val group = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
        openJobs.put(e.jobId, (e.time * 1000000L + clockOffsetNs, parent, group))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(openJobs.remove(e.jobId)).foreach { case (start, parent, group) =>
        val s = Span(ids.incrementAndGet(), parent, "spark.job", start, e.time * 1000000L + clockOffsetNs, run)
        jobSpans.add((s, group))
      }
  }
  spark.sparkContext.addSparkListener(listener)

  /** Waits until the listener has seen every event posted so far. */
  def drain(): Unit = BenchBus.drain(spark.sparkContext)

  /** Counters as of now; call [[drain]] first for an exact reading. */
  def counters: Counters = Counters(tasks.get, taskBusyNs.get, jobs.get, shuffleBytes.get)

  /** Runs `body`; with tracing on, records it as a span nested in the
    * current one. Returns the body's value and its duration in seconds.
    */
  def timed[T](name: String)(body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    if (!active) {
      val v = body
      return (v, (System.nanoTime() - t0) / 1e9)
    }
    val id = ids.incrementAndGet()
    val parent = stack.headOption.getOrElse(0L)
    val sc = spark.sparkContext
    val prevProp = sc.getLocalProperty(PropKey)
    stack.push(id)
    sc.setLocalProperty(PropKey, id.toString)
    try {
      val v = body
      val t1 = System.nanoTime()
      spans += Span(id, parent, name, t0, t1, run)
      (v, (t1 - t0) / 1e9)
    } finally {
      stack.pop()
      sc.setLocalProperty(PropKey, prevProp)
    }
  }

  def span[T](name: String)(body: => T): T = timed(name)(body)._1

  /** Seconds of Spark job time (by job group) recorded under spans named
    * `spanName`; requires tracing and a prior [[drain]].
    */
  def jobSecondsByGroup(spanName: String): Map[String, Double] = {
    val roots = spans.filter(_.name == spanName).map(_.id).toSet
    val under = descendantsOf(roots)
    jobSpansSeq.filter { case (s, _) => under(s.parent) }
      .groupMapReduce(_._2)(_._1.seconds)(_ + _)
  }

  /** Spark jobs recorded under the latest span named `spanName`, or None
    * while recording is off. Requires a prior [[drain]].
    */
  def jobsUnderLast(spanName: String): Option[Long] =
    if (!active) None
    else spans.reverseIterator.find(_.name == spanName).map { s =>
      val under = descendantsOf(Set(s.id))
      jobSpansSeq.count { case (j, _) => under(j.parent) }.toLong
    }

  private def jobSpansSeq: Seq[(Span, String)] = {
    import scala.jdk.CollectionConverters._
    jobSpans.asScala.toSeq
  }

  private def descendantsOf(roots: Set[Long]): Set[Long] = {
    var all = roots
    var grew = true
    while (grew) {
      val next = all ++ spans.filter(s => all(s.parent)).map(_.id)
      grew = next.size > all.size
      all = next
    }
    all
  }

  /** Self time per span name: each span's duration minus the part of its
    * interval covered by its children (benchmark spans and Spark jobs),
    * summed over spans of that name.
    */
  def selfSeconds: Map[String, Double] = {
    val all = spans.toSeq ++ jobSpansSeq.map(_._1)
    val kids = all.groupBy(_.parent)
    all.groupMapReduce(_.name)(s => uncovered(s, kids.getOrElse(s.id, Nil)))(_ + _)
  }

  /** Driver time of spans named `spanName`: their duration minus the part
    * of it any Spark job below them covers — planning, listing, commit and
    * other work that leaves the executors idle. Summed over those spans.
    */
  def driverSeconds(spanName: String): Double = {
    val jobs = jobSpansSeq.map(_._1)
    spans.filter(_.name == spanName).map { s =>
      val under = descendantsOf(Set(s.id))
      uncovered(s, jobs.filter(j => under(j.parent)))
    }.sum
  }

  private def uncovered(s: Span, children: Seq[Span]): Double =
    (s.endNs - s.startNs - union(children.map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs))))) / 1e9

  private def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    total + (curE - curS)
  }

  def spanCount: Int = spans.size + jobSpans.size

  /** Writes every span as one JSON line (benchmark spans, then Spark
    * jobs), followed by the self-time report on stderr.
    */
  def writeOut(path: java.io.File): Unit = {
    drain()
    path.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(path, "UTF-8")
    try {
      def line(s: Span, group: String): Unit =
        w.println(s"""{"run":"${s.run}","id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
          s""""group":"$group","start_ns":${s.startNs},"end_ns":${s.endNs}}""")
      spans.foreach(line(_, ""))
      jobSpansSeq.foreach { case (s, g) => line(s, g) }
    } finally w.close()
    System.err.println(s"[perfbench] ${spanCount} spans -> $path; self time by span name:")
    selfSeconds.toSeq.sortBy(-_._2).foreach { case (n, t) => System.err.println(f"  $n%-40s $t%10.4f s") }
  }

  def close(): Unit = spark.sparkContext.removeSparkListener(listener)
}
