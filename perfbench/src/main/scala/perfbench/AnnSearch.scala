package perfbench

import java.nio.file.Path

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.ext.Similarity

/** The search half of curate_search: one `Similarity.ivfBuild` over
  * seeded clustered vectors, then fixed-size query batches through
  * `ivfSearch`, with `bruteForceTopK` as the exact reference for
  * `recall_at_10`. It stresses the native dot-product and top-k
  * expressions and the broadcast joins, and bypasses text and store.
  *
  * The index is used exactly as the API hands it back: `assigned` is
  * not persisted by the bench, so each search pays whatever assignment
  * work the library leaves lazy, and `unpersist()` is the only release. */
object AnnSearch {
  val Vectors = 10000
  val Dim = 64
  val Clusters = 256
  val Batch = 100
  val K = 10
  val NProbe = 4
  val Noise = 1.0
  val RecallQueries = 2 * Batch

  final class Vecs(val path: String, val centers: Array[Array[Double]], val seed: Long)

  private val Schema = StructType.fromDDL("id BIGINT, vec ARRAY<DOUBLE>")

  private def unit(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / n)
  }

  private def around(r: Random, c: Array[Double]): Array[Double] =
    c.map(x => x + Noise * r.nextGaussian() / math.sqrt(Dim))

  def setup(spark: SparkSession, dir: Path, seed: Long): Vecs = {
    val r = new Random(seed)
    val centers = Array.fill(Clusters)(unit(Array.fill(Dim)(r.nextGaussian())))
    val rows = (0 until Vectors).map(i => Row(i.toLong, around(r, centers(r.nextInt(Clusters))).toSeq))
    val path = dir.resolve("vectors.parquet").toString
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), Schema).write.parquet(path)
    new Vecs(path, centers, seed)
  }

  /** Time to compute the index's corpus-to-centroid assignment once, as
    * every search does while `assigned` stays lazy: median of three. */
  def assignMs(index: Similarity.IvfIndex): Double =
    Stats.median((1 to 3).map { _ =>
      val t0 = System.nanoTime()
      index.assigned.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e6
    })

  /** Batch `b`'s queries: drawn around the same centers, seeded by (seed, b). */
  def queries(spark: SparkSession, s: Vecs, b: Long): (Seq[Long], DataFrame) = {
    val r = new Random(s.seed * 1000003L + b)
    val rows = (0 until Batch).map(i => Row(b * Batch + i,
      around(r, s.centers(r.nextInt(Clusters))).toSeq))
    (rows.map(_.getLong(0)), spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), Schema))
  }

  def topK(rows: Array[Row]): Map[Long, Seq[(Int, Long, Double)]] =
    rows.toSeq.map(r => (r.getAs[Long]("query_id"), (r.getAs[Int]("rank"),
      r.getAs[Long]("nn_id"), r.getAs[Double]("cosine"))))
      .groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2).sortBy(_._1) }

  /** Each query has exactly k hits, ranked 1..k by descending cosine. */
  def wellFormed(qids: Seq[Long], got: Map[Long, Seq[(Int, Long, Double)]]): Seq[String] =
    qids.flatMap { q =>
      val hits = got.getOrElse(q, Nil)
      if (hits.map(_._1) != (1 to K)) Some(s"query $q: ranks ${hits.map(_._1)}")
      else if (hits.map(_._3).sliding(2).exists(p => p.size == 2 && p(0) < p(1)))
        Some(s"query $q: scores not descending")
      else if (hits.map(_._2).distinct.size != K) Some(s"query $q: repeated ids")
      else None
    }

  /** Mean |IVF top-k ∩ exact top-k| / k over the first [[RecallQueries]]
    * searched queries (every batch is checked for shape), and the time
    * of the exact search. */
  def recall(spark: SparkSession, s: Vecs,
      searched: Seq[(Long, Seq[Long])]): (Double, Double, Seq[String]) = {
    val checked = searched.take(RecallQueries)
    val rows = checked.map(_._1).grouped(Batch).map(g => g.head / Batch).toSeq
      .flatMap(b => queries(spark, s, b)._2.collect())
    val qdf = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), Schema)
    val t0 = System.nanoTime()
    val exact = topK(Similarity.bruteForceTopK(
      spark.read.parquet(s.path), "id", "vec", qdf, "id", "vec", K).collect())
    val exactMs = (System.nanoTime() - t0) / 1e6
    val problems = wellFormed(checked.map(_._1), exact).map("exact " + _)
    val hits = checked.map { case (q, ids) =>
      (ids.toSet & exact.getOrElse(q, Nil).map(_._2).toSet).size.toDouble / K }
    (Stats.mean(hits), exactMs, problems)
  }

  /** Summed size of the buckets each query probes, per query: the
    * bucket sizes come from one extra pass over `assigned`, the probes
    * from the same nearest-centroid rule the search applies. */
  def candidatesPerQuery(spark: SparkSession, s: Vecs,
      index: Similarity.IvfIndex, searched: Seq[(Long, Seq[Long])]): Double = {
    val sizes = index.assigned.groupBy("centroid_id").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val cents = index.centroids.collect().map(r => r.getInt(0) -> r.getSeq[Double](1).toArray)
    val qs = searched.map(_._1).grouped(Batch).map(_.head / Batch).toSeq
      .flatMap(b => queries(spark, s, b)._2.collect())
    val per = qs.map { r =>
      val q = unit(r.getSeq[Double](1).toArray)
      cents.sortBy { case (id, c) => (-q.indices.map(i => q(i) * c(i)).sum, id) }
        .take(NProbe).map { case (id, _) => sizes.getOrElse(id, 0L) }.sum.toDouble
    }
    Stats.mean(per)
  }

}
