package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.Files

/** Turns an [[Outcome]] into the results file. The runner reads this
  * file and prints the contract line; the JVM's own stdout carries no
  * result, so nothing the launcher or logger prints can corrupt it. */
object Report {

  /** End-to-end metrics, read from the untraced loop. Every workload
    * reports every name; what the unit operation is differs per
    * workload (see perfbench/NOTES.md). */
  def endToEnd(o: Outcome): Map[String, Double] = {
    val p = o.phase
    Map(
      "setup_s" -> o.setupS,
      "success_rate" -> (1.0 - p.failed.toDouble / math.max(1L, p.attempted)),
      "peak_rss_mb" -> o.peakRssMb,
      "latency_ms" -> p.latencyMs(Mode.Public),
      "throughput" -> p.figures("throughput"),
      "quality" -> o.checks.figures.getOrElse("quality", p.figures("quality")))
  }

  /** Per-layer metrics of the traced loop, plus the tracing overhead
    * (traced decks against mirror decks: the same code, spans on and
    * off) and the mirror's gap to the public API (mirror decks against
    * public decks), both on [[Phase.latencyMs]]. */
  def perLayer(o: Outcome): Map[String, Double] =
    if (!o.traced) Map.empty
    else {
      val t = o.phase
      val traced = t.latencyMs(Mode.Traced)
      val mirror = t.latencyMs(Mode.Mirror)
      val public = t.latencyMs(Mode.Public)
      def pct(a: Double, b: Double) = if (b > 0) 100.0 * (a - b) / b else 0.0
      t.layers ++ Map(
        "trace.overhead_ms" -> (traced - mirror),
        "trace.overhead_pct" -> pct(traced, mirror),
        "trace.mirror_gap_pct" -> pct(mirror, public),
        "trace.spans" -> t.spans.size.toDouble)
    }

  def problems(o: Outcome): Seq[String] =
    o.phase.problems ++ o.checks.problems

  def write(args: Main.Args, o: Outcome): Unit = {
    val attempted = o.phase.attempted
    val failed = o.phase.failed
    val probs = problems(o)
    val e2e = endToEnd(o)
    val bad = (e2e ++ perLayer(o)).collect { case (k, v) if v.isNaN || v.isInfinite => k }
    val allProblems = probs ++ bad.map(k => s"metric $k is not finite")
    val correct = allProblems.isEmpty && failed == 0
    val fields = Seq(
      "workload" -> Json.str(o.workload),
      "seed" -> o.seed.toString,
      "correct" -> correct.toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "problems" -> Json.arr(allProblems.take(50).map(Json.str)),
      "end_to_end" -> Json.obj(e2e),
      "per_layer" -> Json.obj(perLayer(o)),
      "figures" -> Json.obj(o.phase.figures ++ o.checks.figures),
      "setup" -> Json.obj(Map("session_s" -> o.sessionS) ++
        o.setupRepsS.zipWithIndex.map { case (s, i) => s"rep${i}_s" -> s }),
      "samples" -> Json.arr(o.phase.samples.map(x => Json.objRaw(Seq(
        "mode" -> Json.str(x.mode.toString), "kind" -> Json.str(x.kind), "ms" -> Json.num(x.ms))))))
    Files.createDirectories(args.out.getParent)
    Files.write(args.out, Json.objRaw(fields).getBytes(StandardCharsets.UTF_8))
    if (o.traced) {
      val spans = o.phase.spans.map(s => Json.objRaw(Seq(
        "id" -> s.id.toString, "name" -> Json.str(s.name),
        "start_ns" -> s.startNs.toString, "end_ns" -> s.endNs.toString,
        "parent" -> s.parent.toString, "op" -> s.op.toString)))
      val name = args.out.getFileName.toString.stripSuffix(".json") + ".spans.json"
      Files.write(args.out.resolveSibling(name),
        Json.arr(spans).getBytes(StandardCharsets.UTF_8))
    }
  }
}

/** Minimal JSON writer: numbers keep every digit of the double. */
object Json {
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(m: Map[String, Double]): String =
    objRaw(m.toSeq.sortBy(_._1).map { case (k, v) => k -> num(v) })
  def objRaw(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
