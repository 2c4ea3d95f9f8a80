package perfbench

import java.nio.file.Path

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.ext.Similarity

/** curate_search: the library's LLM-data operators on one session. A
  * deck is one curation pass ([[CurateDocs]]) and two 100-query IVF
  * search batches ([[AnnSearch]]) against an index built once per loop.
  * Neither touches the TableStore, so this workload bypasses the
  * store's metadata path that store_ops exercises.
  *
  * One pass and [[WarmBatches]] batches run untimed first (in a traced
  * run, one pass of each pipeline), so the measured decks run on
  * compiled code; then whole decks until `seconds` have passed. */
object CurateSearch extends Workload {
  private val Deck = Seq("pass", "batch", "batch")
  /** Batch latency keeps falling over the first few batches while the
    * JIT compiles the search. */
  val WarmBatches = 2

  final class State(val corpus: CurateDocs.Corpus, val vecs: AnnSearch.Vecs) {
    var nextOp = 0L
    var nextBatch = 0L
  }

  def setup(spark: SparkSession, dir: Path, seed: Long): State =
    new State(CurateDocs.setup(spark, dir, seed), AnnSearch.setup(spark, dir, seed))

  def measure(spark: SparkSession, s: State, seconds: Double, tr: Tracer): Phase = {
    val problems = mutable.ArrayBuffer.empty[String]
    val samples = mutable.ArrayBuffer.empty[Sample]
    val recalls, leftovers = mutable.ArrayBuffer.empty[Double]
    val searched = mutable.ArrayBuffer.empty[(Long, Seq[Long])]
    var attempted, failed, verified = 0L

    val b0 = System.nanoTime()
    val index = Similarity.ivfBuild(spark.read.parquet(s.vecs.path), "id", "vec", AnnSearch.Clusters)
    val buildMs = (System.nanoTime() - b0) / 1e6
    val indexRdds = spark.sparkContext.getPersistentRDDs.keySet.toSet

    def one(kind: String, mode: Mode, timed: Boolean): Unit = {
      val id = s.nextOp
      s.nextOp += 1
      attempted += 1
      val traced = mode == Mode.Traced
      kind match {
        case "pass" =>
          val t0 = System.nanoTime()
          val res = try Right(tr.op(id, "curate.pass", traced) {
              if (mode == Mode.Public) CurateDocs.pass(spark, s.corpus)
              else {
                val (ids, v) = CurateDocs.tracedPass(spark, s.corpus, tr)
                if (traced) verified = v
                ids
              }
            }) catch { case NonFatal(e) => Left(e) }
          val ms = (System.nanoTime() - t0) / 1e6
          // the pass has called release(): what it persisted and is still
          // persisted was left behind by the library
          leftovers += (spark.sparkContext.getPersistentRDDs.keySet.toSet -- indexRdds).size
          res match {
            case Left(e) => failed += 1; problems += s"pass failed: $e"
            case Right(ids) =>
              if (timed) samples += Sample(mode, kind, ms)
              val (p, recall) = CurateDocs.check(s.corpus, ids)
              problems ++= p
              recalls += recall
          }
        case "batch" =>
          val b = s.nextBatch
          s.nextBatch += 1
          val (qids, qdf) = AnnSearch.queries(spark, s.vecs, b)
          val t0 = System.nanoTime()
          val res = try Right(tr.op(id, "ann.batch", traced)(tr.span("similarity.ivf_search")(
              Similarity.ivfSearch(index, qdf, "id", "vec", AnnSearch.K, AnnSearch.NProbe).collect())))
            catch { case NonFatal(e) => Left(e) }
          val ms = (System.nanoTime() - t0) / 1e6
          res match {
            case Left(e) => failed += 1; problems += s"batch failed: $e"
            case Right(rows) =>
              if (timed) samples += Sample(mode, kind, ms)
              val got = AnnSearch.topK(rows)
              problems ++= AnnSearch.wellFormed(qids, got)
              if (timed) searched ++= qids.map(q => q -> got.getOrElse(q, Nil).map(_._2))
          }
      }
    }

    if (!tr.probe) {
      one("pass", Mode.Public, timed = false)
      if (tr.enabled) one("pass", Mode.Mirror, timed = false)
      (1 to WarmBatches).foreach(_ => one("batch", Mode.Public, timed = false))
    }
    tr.start()
    Main.loop(seconds, tr)(mode => Deck.foreach(one(_, mode, timed = true)))
    tr.stop()
    val assign = if (tr.enabled) AnnSearch.assignMs(index) else 0.0
    val candidates =
      if (tr.enabled) AnnSearch.candidatesPerQuery(spark, s.vecs, index, searched.toSeq) else 0.0
    index.unpersist()
    val (recall10, exactMs, p) = AnnSearch.recall(spark, s.vecs, searched.toSeq)
    problems ++= p

    def public(kind: String) = samples.filter(x => x.mode == Mode.Public && x.kind == kind).map(_.ms).toSeq
    val (passes, batches) = (public("pass"), public("batch"))
    val dupRecall = Stats.median(recalls.toSeq)
    val leftover = leftovers.maxOption.getOrElse(0.0)
    val figures = Map(
      "throughput" -> (passes.size + batches.size) / math.max(1e-9, (passes.sum + batches.sum) / 1000.0),
      "quality" -> math.min(dupRecall, recall10),
      "docs_per_s" -> s.corpus.docs / math.max(1e-9, Stats.mean(passes) / 1000.0),
      "dup_recall" -> dupRecall,
      "pass_p50_ms" -> Stats.median(passes),
      "search_p50_ms" -> Stats.median(batches),
      "queries_per_s" -> AnnSearch.Batch / math.max(1e-9, Stats.mean(batches) / 1000.0),
      "recall_at_10" -> recall10,
      "build_s" -> buildMs / 1000.0,
      "rdds_after_release" -> leftover,
      "error_rate" -> failed.toDouble / math.max(1L, attempted)) ++ tr.sparkByOpName
    val layers =
      if (!tr.enabled) Map.empty[String, Double]
      else {
        val lsh = CurateDocs.lshCandidates(spark, s.corpus)
        val tracedPasses = math.max(1, tr.spans.count(_.name == "curate.pass")).toDouble
        Map(
          "textops.quality_ms" -> tr.meanMs("textops.quality"),
          "dedup.exact_ms" -> tr.meanMs("dedup.exact"),
          "dedup.minhash_ms" -> tr.spans.filter(_.name == "dedup.minhash").map(_.ms).sum / tracedPasses,
          "dedup.cc_ms" -> tr.meanMs("dedup.cc"),
          "dedup.lsh_candidates" -> lsh.toDouble,
          "dedup.pair_yield" -> verified.toDouble / math.max(1L, lsh),
          "similarity.build_ms" -> buildMs,
          "similarity.ivf_search_ms" -> tr.meanMs("similarity.ivf_search"),
          "similarity.assign_ms" -> assign,
          "similarity.exact_search_ms" -> exactMs,
          "similarity.candidates_per_query" -> candidates,
          "cache.rdds_after_release" -> leftover,
          "jvm.gc_ms" -> tr.gcMsSinceStart / math.max(1, samples.size)) ++
          tr.sparkPerOp ++
          tr.selfMsPerOp.map { case (l, v) => s"self.${l}_ms" -> v }
      }
    Phase(samples.toSeq, Set("pass"), attempted, failed, problems.toSeq,
      figures, layers, tr.spans)
  }

  def finish(spark: SparkSession, s: State): Checks = Checks(Nil, Map.empty)
}
