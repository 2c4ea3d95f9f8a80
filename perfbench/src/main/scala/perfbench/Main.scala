package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Entry point of the benchmark JVM.
  *
  * `--workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  * --out <file>`: starts one local Spark session, sets the workload up
  * [[SetupReps]] times from the seed (timing each), measures the last
  * set-up for `--seconds` in a single-client closed loop, checks every
  * output and writes the results to `--out` (perfbench/run.py turns
  * them into the contract line).
  *
  * With `--trace 1` the loop runs three times as long and cycles its
  * decks through the [[Mode]]s: the per-layer numbers come from the
  * traced decks, the tracing overhead from the traced against the
  * mirror decks, and the mirror's drift from the public API from the
  * mirror against the public decks. */
object Main {
  /** Set-up repetitions per run; `setup_s` is their median. The first
    * one runs on a cold JVM, so the median is a warm set-up. Session
    * start is Spark's own cost and drifts with the box by seconds, so
    * it is reported apart (`session_s` in the results file). */
  val SetupReps = 3
  /** Fewest decks an untraced loop measures, so that a slow stretch of
    * the box cannot leave a run with one deck. */
  val MinDecks = 2

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: Path, out: Path)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(
        s"expected --key value pairs, got ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    val trace = need("trace") match {
      case "0" => false
      case "1" => true
      case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $t")
    }
    val seconds = need("seconds").toDouble
    require(seconds > 0, s"--seconds must be positive, got $seconds")
    Args(need("workload"), need("seed").toLong, seconds, trace,
      Paths.get(need("work")).toAbsolutePath, Paths.get(need("out")).toAbsolutePath)
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val workloads = Map("store_ops" -> StoreOps, "curate_search" -> CurateSearch)
    val workload: Workload = workloads.getOrElse(args.workload,
      throw new IllegalArgumentException(s"unknown workload: ${args.workload}"))
    Files.createDirectories(args.work)
    val t0 = System.nanoTime()
    val spark = session(args.work, args.trace)
    val sessionS = secondsSince(t0)
    try Report.write(args, runWorkload(spark, workload, args, sessionS,
      workloads.values.filter(_ ne workload).toSeq))
    finally spark.stop()
  }

  /** One local session, N = min(4, cores − 1) worker threads, so that
    * one core is left to the driver thread: about half of an op's wall
    * time is driver-side planning and scheduling. Everything the session
    * writes is kept under the run's work directory. A traced run counts
    * local FileSystem calls through [[CountingLocalFileSystem]]. */
  def session(work: Path, countFs: Boolean): SparkSession = {
    val cpus = math.max(1, math.min(4, Runtime.getRuntime.availableProcessors - 1)).toString
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    val spark = (if (countFs) b.config("spark.hadoop.fs.file.impl",
      classOf[CountingLocalFileSystem].getName) else b).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count() // finish lazy session start-up inside the timed span
    spark
  }

  private def runWorkload(spark: SparkSession, w: Workload, args: Args,
      sessionS: Double, others: Seq[Workload]): Outcome = {
    val setupTimes = scala.collection.mutable.ArrayBuffer.empty[Double]
    var state: w.State = null.asInstanceOf[w.State]
    for (rep <- 0 until SetupReps) {
      val dir = args.work.resolve(s"data-$rep")
      val t = System.nanoTime()
      state = w.setup(spark, dir, args.seed)
      setupTimes += secondsSince(t)
      if (rep > 0) Files.walk(args.work.resolve(s"data-${rep - 1}")).sorted(
        java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.deleteIfExists(p))
    }
    val phase =
      if (args.trace) w.measure(spark, state, Mode.Cycle.size * args.seconds, new Tracer(spark, enabled = true))
      else w.measure(spark, state, args.seconds, new Tracer(spark, enabled = false))
    val checks = w.finish(spark, state)
    Outcome(args.workload, args.seed, Stats.median(setupTimes.toSeq), sessionS, setupTimes.toSeq,
      if (args.trace) others.foldLeft(phase)((p, o) => p.withProbe(probe(spark, o, args))) else phase,
      args.trace, checks, Proc.peakRssMb())
  }

  /** The other workloads' layers, so that a traced run measures every
    * per-layer metric: one set-up and one traced deck of each other
    * workload, after the measured loop. */
  private def probe(spark: SparkSession, w: Workload, args: Args): Phase = {
    val state = w.setup(spark, args.work.resolve("probe"), args.seed)
    w.measure(spark, state, 0.0, new Tracer(spark, enabled = true, probe = true))
  }

  /** The closed loop: whole decks, one after another, until `seconds`
    * have passed. Untraced, every deck is [[Mode.Public]] and at least
    * [[MinDecks]] run; traced, the decks cycle through [[Mode.Cycle]]
    * and each mode runs at least once; a probe runs one traced deck. */
  def loop(seconds: Double, tr: Tracer)(deck: Mode => Unit): Unit =
    if (tr.probe) deck(Mode.Traced)
    else {
      val t0 = System.nanoTime()
      val atLeast = if (tr.enabled) Mode.Cycle.size else MinDecks
      var decks = 0
      while (secondsSince(t0) < seconds || decks < atLeast) {
        deck(if (tr.enabled) Mode.Cycle(decks % Mode.Cycle.size) else Mode.Public)
        decks += 1
      }
    }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9
}

/** A workload: seeded set-up, a measured closed loop, a final check. */
trait Workload {
  type State <: AnyRef
  /** Generate the inputs from `seed` and load them under `dir`. */
  def setup(spark: SparkSession, dir: Path, seed: Long): State
  /** Run the closed loop for `seconds`, checking every output. */
  def measure(spark: SparkSession, state: State, seconds: Double, tracer: Tracer): Phase
  /** Checks that need the whole run (store_ops: the final snapshot). */
  def finish(spark: SparkSession, state: State): Checks
}

/** One timed unit op of the measured loop: its mode, its kind, its
  * latency. */
final case class Sample(mode: Mode, kind: String, ms: Double)

/** One measured loop: the timed ops, the kinds that make up the
  * workload's heavy class of ops (the rest are its light class),
  * failures, check problems, and the figures the workload reports.
  * `layers` is filled only when the tracer was enabled. */
final case class Phase(
    samples: Seq[Sample],
    heavy: Set[String],
    attempted: Long,
    failed: Long,
    problems: Seq[String],
    figures: Map[String, Double],
    layers: Map[String, Double] = Map.empty,
    spans: Seq[Span] = Nil) {
  /** Typical latency of the mode's ops: the geometric mean of the
    * light and the heavy class's mean latency. The loop runs whole
    * decks, so each class holds the same mix of kinds in every run.
    * Doubling either class's latency raises the result by 41%; in a
    * plain mean over all ops the heavy class would hide the light one. */
  def latencyMs(mode: Mode): Double = {
    val (h, l) = samples.filter(_.mode == mode).partition(x => heavy(x.kind))
    val means = Seq(h, l).filter(_.nonEmpty).map(xs => Stats.mean(xs.map(_.ms)))
    if (means.isEmpty) 0.0 else math.exp(means.map(math.log).sum / means.size)
  }

  /** This loop with a probe's ops and checks added, and the probe's
    * per-layer figures for the layers this loop does not reach. The
    * probe's latencies and spans stay out of the loop's own. */
  def withProbe(p: Phase): Phase = copy(
    attempted = attempted + p.attempted,
    failed = failed + p.failed,
    problems = problems ++ p.problems.map("probe: " + _),
    layers = p.layers ++ layers)
}

final case class Checks(problems: Seq[String], figures: Map[String, Double])

final case class Outcome(
    workload: String,
    seed: Long,
    setupS: Double,
    sessionS: Double,
    setupRepsS: Seq[Double],
    phase: Phase,
    traced: Boolean,
    checks: Checks,
    peakRssMb: Double)
