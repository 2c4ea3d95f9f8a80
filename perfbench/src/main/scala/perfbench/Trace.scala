package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. `parent` is the enclosing span's id
  * (-1 at the root); spans of one unit operation share `op`. */
final case class Span(id: Int, name: String, startNs: Long, endNs: Long,
    parent: Int, op: Long) {
  def ms: Double = (endNs - startNs) / 1e6
  /** The layer is the span name's first dotted part (`store.read` → `store`). */
  def layer: String = name.takeWhile(_ != '.')
}

/** How one deck of unit ops runs. An untraced run has only [[Mode.Public]]
  * decks; a traced run cycles through all three. */
sealed trait Mode
object Mode {
  /** The bench's mirror of the public calls, each call inside a span. */
  case object Traced extends Mode
  /** The same mirror with every span off: the base of the tracing overhead. */
  case object Mirror extends Mode
  /** The public API exactly as a user calls it. */
  case object Public extends Mode
  val Cycle: Seq[Mode] = Seq(Traced, Mirror, Public)
}

/** Span recorder kept in memory for the whole run. Disabled, every call
  * is a plain pass-through.
  *
  * Enabled, the workload interleaves [[Mode.Traced]] decks with
  * [[Mode.Mirror]] decks, which run the same code with the spans off, so
  * the tracing overhead is measured against the same code at the same
  * point of JIT warm-up. A traced op runs under its own job group, so the
  * bench's listeners attribute jobs, tasks and shuffle bytes to it rather
  * than by timing.
  *
  * A probe tracer runs the workload's loop as a single traced deck with
  * no warm-up (see [[Main.loop]]). */
final class Tracer(spark: SparkSession, val enabled: Boolean, val probe: Boolean = false) {
  private val done = ArrayBuffer.empty[Span]
  private var stack = List.empty[(Int, String, Long)]
  private var nextId = 0
  private var currentOp = -1L
  private var inPlainOp = false
  private val opWallNs = TrieMap.empty[Long, Long]
  private val opName = TrieMap.empty[Long, String]
  private val opWallMs = ArrayBuffer.empty[(Long, Long)]
  val counters = new SparkCounters
  private var gc0 = 0L

  def start(): Unit = if (enabled) {
    spark.sparkContext.addSparkListener(counters)
    spark.listenerManager.register(counters)
    gc0 = Proc.gcMs()
  }

  /** Drain the asynchronous listener bus, then detach the counters. */
  def stop(): Unit = if (enabled) {
    counters.drain()
    spark.sparkContext.removeSparkListener(counters)
    spark.listenerManager.unregister(counters)
  }

  def gcMsSinceStart: Double = (Proc.gcMs() - gc0).toDouble

  /** One unit operation of the workload (a store op, a pass, a batch),
    * traced or plain. */
  def op[T](id: Long, name: String, traced: Boolean)(body: => T): T =
    if (!traced) {
      inPlainOp = true
      try body finally inPlainOp = false
    } else {
      require(enabled, "a traced op needs an enabled tracer")
      currentOp = id
      spark.sparkContext.setJobGroup(SparkCounters.groupOf(id), name, interruptOnCancel = false)
      val t0 = System.nanoTime()
      val w0 = System.currentTimeMillis()
      try span(name)(body)
      finally {
        opWallNs(id) = System.nanoTime() - t0
        opName(id) = name
        opWallMs += ((w0, System.currentTimeMillis()))
        spark.sparkContext.clearJobGroup()
        currentOp = -1L
      }
    }

  def span[T](name: String)(body: => T): T =
    if (!enabled || inPlainOp) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.map(_._1).getOrElse(-1)
      val t0 = System.nanoTime()
      stack ::= ((id, name, t0))
      try body
      finally {
        stack = stack.tail
        done += Span(id, name, t0, System.nanoTime(), parent, currentOp)
      }
    }

  def spans: Seq[Span] = done.toSeq
  def ops: Int = opWallNs.size

  /** Mean duration of the spans called `name`, per call (0 if none). */
  def meanMs(name: String): Double = Stats.mean(done.filter(_.name == name).map(_.ms).toSeq)

  /** Self time per layer, per unit op: a span's duration minus the part
    * its direct children cover (children run sequentially here). Spans
    * outside any op (an index build, a reference search) are left out. */
  def selfMsPerOp: Map[String, Double] = {
    val inOps = done.filter(_.op >= 0)
    val childMs = inOps.groupBy(_.parent).view.mapValues(_.map(_.ms).sum).toMap
    val n = math.max(1, ops)
    inOps.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(s => s.ms - childMs.getOrElse(s.id, 0.0)).sum / n
    }
  }

  /** Engine-side counters per unit op, from the bench's listeners. */
  def sparkPerOp: Map[String, Double] = {
    val n = math.max(1, ops).toDouble
    val jobMs = opWallNs.keys.toSeq.map(id => counters.unionJobMs(SparkCounters.groupOf(id))).sum
    val wallMs = opWallNs.values.map(_ / 1e6).sum
    Map(
      "spark.jobs" -> counters.jobs.get / n,
      "spark.tasks" -> counters.tasks.get / n,
      "spark.job_ms" -> jobMs / n,
      "spark.gap_ms" -> (wallMs - jobMs) / n,
      "spark.plan_ms" -> counters.planMsWithin(opWallMs.toSeq) / n,
      "spark.shuffle_bytes" -> counters.shuffleBytes.get / n,
      "spark.spill_bytes" -> counters.spillBytes.get / n)
  }

  /** Jobs, job time and gap per traced op of each op name (a store op
    * kind, a curation pass, a search batch), for the results file. */
  def sparkByOpName: Map[String, Double] =
    opWallNs.keys.toSeq.groupBy(opName).flatMap { case (name, ids) =>
      val jobMs = ids.map(id => counters.unionJobMs(SparkCounters.groupOf(id))).sum
      val wallMs = ids.map(opWallNs(_) / 1e6).sum
      val jobs = ids.map(id => counters.jobsOf(SparkCounters.groupOf(id))).sum
      Map(s"$name.spark_jobs" -> jobs.toDouble / ids.size, s"$name.spark_job_ms" -> jobMs / ids.size,
        s"$name.spark_gap_ms" -> (wallMs - jobMs) / ids.size)
    }
}

object SparkCounters {
  val Prefix = "perfbench-op-"
  def groupOf(op: Long): String = s"$Prefix$op"
}

/** Bench-registered engine counters: a [[SparkListener]] for jobs,
  * tasks, shuffle and spill, and a [[QueryExecutionListener]] for the
  * planning phases of every action. Only jobs that ran under a bench
  * job group count; the planning listener is attached only while the
  * traced loop runs. */
final class SparkCounters extends SparkListener with QueryExecutionListener {
  private val jobStart = TrieMap.empty[Int, (String, Long)]
  private val stageGroup = TrieMap.empty[Int, String]
  private val intervals = TrieMap.empty[String, List[(Long, Long)]]
  val jobs = new AtomicLong
  val jobsEnded = new AtomicLong
  val tasks = new AtomicLong
  val shuffleBytes = new AtomicLong
  val spillBytes = new AtomicLong
  private val phases = ArrayBuffer.empty[(Long, Long)]
  val actions = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith(SparkCounters.Prefix)).foreach { g =>
        jobs.incrementAndGet()
        jobStart(e.jobId) = (g, e.time)
        e.stageIds.foreach(stageGroup(_) = g)
      }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobStart.remove(e.jobId).foreach { case (g, t0) =>
      intervals.synchronized {
        intervals(g) = (t0, e.time) :: intervals.getOrElse(g, Nil)
      }
      jobsEnded.incrementAndGet()
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (stageGroup.contains(e.stageId) && e.taskMetrics != null) {
      tasks.incrementAndGet()
      shuffleBytes.addAndGet(e.taskMetrics.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(e.taskMetrics.memoryBytesSpilled + e.taskMetrics.diskBytesSpilled)
    }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    phases.synchronized {
      qe.tracker.phases.values.foreach(p => phases += ((p.startTimeMs, p.durationMs)))
    }
    actions.incrementAndGet()
  }

  /** Planning time (analysis, optimization, physical planning) of the
    * actions whose phases started inside one of the given wall-clock
    * intervals: the listener has no job group to go by. */
  def planMsWithin(intervals: Seq[(Long, Long)]): Double = phases.synchronized {
    phases.toSeq.collect { case (start, ms) if intervals.exists { case (a, b) =>
      start >= a && start <= b } => ms.toDouble }.sum
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def jobsOf(group: String): Int = intervals.getOrElse(group, Nil).size

  /** Wall time during which at least one of the group's jobs ran. */
  def unionJobMs(group: String): Double = {
    val iv = intervals.getOrElse(group, Nil).sortBy(_._1)
    var total = 0L
    var (s, e) = (Long.MinValue, Long.MinValue)
    iv.foreach { case (a, b) =>
      if (a > e) { if (e > s) total += e - s; s = a; e = b }
      else e = math.max(e, b)
    }
    if (e > s) total += e - s
    total.toDouble
  }

  /** The listener bus is asynchronous: wait until every started job has
    * ended and no counter has moved for a few polls. */
  def drain(): Unit = {
    def sig = (jobs.get, jobsEnded.get, tasks.get, actions.get)
    val deadline = System.nanoTime() + 10000000000L
    var last = sig
    var quiet = 0
    while (quiet < 3 && System.nanoTime() < deadline) {
      Thread.sleep(100)
      val now = sig
      if (now == last && jobStart.isEmpty) quiet += 1 else quiet = 0
      last = now
    }
  }
}

/** Process-level readings: peak RSS, GC time, Hadoop FS statistics. */
object Proc {
  /** VmHWM of this JVM (Spark local mode runs in-process), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum

  final case class FsStats(ops: Long, bytesWritten: Long) {
    def minus(o: FsStats): FsStats = FsStats(ops - o.ops, bytesWritten - o.bytesWritten)
  }

  /** FileSystem calls counted by [[CountingLocalFileSystem]] (0 when it
    * is not installed) and bytes written per the Hadoop statistics. */
  def fsStats(): FsStats = {
    val all = org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.iterator().asScala.toSeq
    FsStats(CountingLocalFileSystem.ops.get,
      all.map(s => Option(s.getLong("bytesWritten")).map(_.longValue).getOrElse(0L)).sum)
  }

  /** Bytes of the regular files under `dir`. */
  def duBytes(dir: java.nio.file.Path): Long =
    if (!java.nio.file.Files.exists(dir)) 0L
    else {
      val s = java.nio.file.Files.walk(dir)
      try s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(java.nio.file.Files.size).sum
      finally s.close()
    }
}

object Stats {
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Linear-interpolated percentile, `p` in [0, 100]. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = (s.size - 1) * p / 100.0
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)
}
