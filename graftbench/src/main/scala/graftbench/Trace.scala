package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** One timed call into a layer, with the Spark work its job group did. */
final case class Span(id: Int, parent: Int, name: String, run: String, job: Int,
                      probe: Boolean, startNs: Long, endNs: Long, totals: Totals,
                      peakMb: Double, memoBuilds: Long, memoTouches: Long) {
  def json: String =
    s"""{"id":$id,"parent":$parent,"name":"$name","run":"$run","job":$job,"probe":$probe,""" +
      s""""start_ns":$startNs,"end_ns":$endNs,"peak_storage_mb":$peakMb,""" +
      s""""memo_builds":$memoBuilds,"memo_touches":$memoTouches,${totals.json}}"""
}

/** What one job of the closed loop did. Only the first job keeps its
  * outputs (for the oracle compare); every job keeps their digest. */
final case class JobRecord(index: Int, kind: String, traced: Boolean, wallS: Double,
                           outputs: Seq[Output], digest: Option[String],
                           error: Option[String],
                           totals: Totals, peakMb: Double,
                           memoBuilds: Long, memoTouches: Long)

/** Runs jobs under their own Spark job group and, in a traced job,
  * records a span around each layer call. Spans stay in memory until the
  * run ends. Inside a traced job every layer call gets its own job group
  * `j<job>/<layer>`, so its stages are counted apart from its neighbours'. */
final class Tracer(spark: SparkSession, meter: Meter, run: String) {
  private val sc = spark.sparkContext
  val spans = ArrayBuffer.empty[Span]
  private var job = -1
  private var kind = ""
  private var rootId = -1
  private var tracing = false
  private var nextId = 0
  private val notes = scala.collection.mutable.LinkedHashMap.empty[String, Double]

  /** Whether this job may make probe calls: traced jobs may. The first
    * job is never traced, so its time is the workload's own. */
  def probing: Boolean = tracing

  /** The running job's kind: "first", "cold" or "warm". */
  def jobKind: String = kind

  /** A count a layer call produced (edges kept, pairs scored, ...),
    * stored with the job's spans. */
  def note(name: String, value: Double): Unit = if (tracing) notes(name) = value

  def notesJson: String = notes.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")

  def runJob(index: Int, kind: String, trace: Boolean)(f: => Seq[Output]): JobRecord = {
    job = index
    this.kind = kind
    tracing = trace
    val group = s"j$index"
    meter.settle()
    meter.resetJobPeak()
    val (b0, t0c) = (MemoCounters.builds, MemoCounters.touches)
    rootId = nextId
    nextId += 1
    sc.setJobGroup(group, group, interruptOnCancel = false)
    val t0 = System.nanoTime()
    val result =
      try Right(f)
      catch { case e: Throwable => Left(s"${e.getClass.getName}: ${e.getMessage}") }
    val t1 = System.nanoTime()
    sc.clearJobGroup()
    meter.settle()
    val totals = meter.totals(group)
    val (b1, t1c) = (MemoCounters.builds, MemoCounters.touches)
    if (trace) spans += Span(rootId, -1, "job", run, index, probe = false, t0, t1, totals,
      meter.jobPeakMb, b1 - b0, t1c - t0c)
    tracing = false
    val outputs = result.getOrElse(Nil)
    JobRecord(index, kind, trace, (t1 - t0) / 1e9, if (index == 0) outputs else Nil,
      result.toOption.map(Output.digest), result.left.toOption,
      totals, meter.jobPeakMb, b1 - b0, t1c - t0c)
  }

  /** Times one call into the layer `name` (`<layer>.<call>`). Outside a
    * traced job this only runs `f`. */
  def span[T](name: String)(f: => T): T = record(name, probe = false)(f)

  /** A layer call a traced job makes only to time that layer on its own;
    * untraced jobs never make it. */
  def probe[T](name: String)(f: => T): T = {
    require(probing, s"probe $name outside a traced job")
    record(name, probe = true)(f)
  }

  private def record[T](name: String, probe: Boolean)(f: => T): T =
    if (!tracing) f
    else {
      val group = s"j$job/$name.$nextId"
      val id = nextId
      nextId += 1
      meter.settle()
      meter.resetSpanPeak()
      val (b0, t0c) = (MemoCounters.builds, MemoCounters.touches)
      sc.setJobGroup(group, group, interruptOnCancel = false)
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        sc.setJobGroup(s"j$job", s"j$job", interruptOnCancel = false)
        meter.settle()
        spans += Span(id, rootId, name, run, job, probe, t0, t1, meter.totals(group),
          meter.spanPeakMb, MemoCounters.builds - b0, MemoCounters.touches - t0c)
      }
    }
}

/** graft's SessionCache build and touch counters. They are internal to
  * graft, so they are read by reflection: if a later version renames
  * them the benchmark still runs and reports -1. */
object MemoCounters {
  private def counter(name: String): Option[java.util.concurrent.atomic.AtomicLong] =
    try {
      val module = Class.forName("graft.SessionCache$").getField("MODULE$").get(null)
      Some(module.getClass.getMethod(name).invoke(module)
        .asInstanceOf[java.util.concurrent.atomic.AtomicLong])
    } catch { case _: ReflectiveOperationException | _: ClassCastException => None }

  private val buildCounter = counter("builds")
  private val touchCounter = counter("touches")

  def builds: Long = buildCounter.fold(-1L)(_.get)
  def touches: Long = touchCounter.fold(-1L)(_.get)
}
