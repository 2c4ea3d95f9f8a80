package perfbench

import java.nio.file.Path

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

import graft.ext.{Dedup, TextOps}

/** The curation half of curate_search: passes of the pipeline quality
  * filter → exact dedup → MinHash near-dup pairs → cluster removal →
  * release, over a seeded corpus written to parquet once. A pass runs
  * shingling, LSH, connected components and shuffles and never touches
  * the TableStore.
  *
  * The corpus plants exact copies, near copies one word away (3-shingle
  * Jaccard ≈ 0.9, above the 0.8 threshold) and near copies four words
  * away (≈ 0.65, below it), plus docs that fail the quality rules. The
  * generator computes each planted pair's exact Jaccard, so every pass
  * is checked: no exact duplicate survives, every original and every
  * below-threshold copy survives, no low-quality doc survives, and
  * `dup_recall` is the share of above-threshold copies removed. */
object CurateDocs {
  val Docs = 1500
  val WordsPerDoc = 60
  val Threshold = 0.8
  val MinQuality = 0.5

  private val FunctionWords = Seq("the", "be", "to", "of", "and", "that", "have",
    "with", "a", "in", "is", "it", "for", "on", "as", "at", "by", "from", "this")

  final class Corpus(val path: String, val docs: Int, val texts: Array[String],
      val originals: Set[Long], val keptCopies: Set[Long], val removable: Set[Long],
      val lowQuality: Set[Long])

  // ------------------------------------------------------------ set-up

  def setup(spark: SparkSession, dir: Path, seed: Long): Corpus = {
    val r = new Random(seed)
    val vocab = Array.fill(6000)(r.alphanumeric.filter(_.isLetter)
      .take(4 + r.nextInt(5)).mkString.toLowerCase)
    def word(): String =
      if (r.nextDouble() < 0.3) FunctionWords(r.nextInt(FunctionWords.size))
      else vocab(r.nextInt(vocab.length))
    def doc(n: Int): Array[String] = {
      var w = Array.fill(n)(word())
      while (TextOps.GopherRequiredWords.count(w.contains) < 2) w = Array.fill(n)(word())
      w
    }
    def edited(w: Array[String], changes: Int): Array[String] = {
      val out = w.clone()
      val step = w.length / changes
      (0 until changes).foreach { i =>
        // content words only: replacing a function word could take the
        // copy below the quality rules' required-word count
        var pos = i * step + 1 + r.nextInt(step - 2)
        while (FunctionWords.contains(out(pos))) pos = i * step + 1 + r.nextInt(step - 2)
        var repl = vocab(r.nextInt(vocab.length))
        while (repl == out(pos)) repl = vocab(r.nextInt(vocab.length))
        out(pos) = repl
      }
      out
    }
    val nCopy = Docs / 25
    val nLow = Docs * 3 / 100
    val nBase = Docs - 3 * nCopy - nLow
    val base = Array.fill(nBase)(doc(WordsPerDoc))
    val sources = r.shuffle((0 until nBase).toVector).take(3 * nCopy)
    val texts = mutable.ArrayBuffer.empty[String]
    base.foreach(w => texts += w.mkString(" "))
    val keptCopies, removable, low = mutable.Set.empty[Long]
    sources.zipWithIndex.foreach { case (src, i) =>
      val w = base(src)
      val copy = i / nCopy match {
        case 0 => w
        case 1 => edited(w, 1)
        case _ => edited(w, 4)
      }
      val id = texts.size.toLong
      (if (jaccard(w, copy) >= Threshold) removable else keptCopies) += id
      texts += copy.mkString(" ")
    }
    (0 until nLow).foreach { i =>
      low += texts.size.toLong
      texts += (if (i % 2 == 0) doc(20).mkString(" ") else doc(WordsPerDoc).map("#" + _).mkString(" "))
    }
    val path = dir.resolve("corpus.parquet").toString
    val rows = texts.zipWithIndex.map { case (t, i) => Row(i.toLong, t) }.toSeq
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4),
      StructType.fromDDL("id BIGINT, text STRING")).write.parquet(path)
    new Corpus(path, texts.size, texts.toArray, (0L until nBase).toSet,
      keptCopies.toSet, removable.toSet, low.toSet)
  }

  private def shingles(w: Array[String]): Set[String] =
    w.sliding(3).map(_.mkString(" ")).toSet

  private def jaccard(a: Array[String], b: Array[String]): Double = {
    val (sa, sb) = (shingles(a), shingles(b))
    (sa & sb).size.toDouble / (sa | sb).size
  }

  // ------------------------------------------------------------ a pass

  private def goodDocs(docs: DataFrame): DataFrame =
    docs.filter(TextOps.gopherQuality(col("text")).getField("pass") === 1L &&
      TextOps.qualityScore(col("text")) >= MinQuality)

  /** The pipeline as a user writes it: lazy frames, one action at the end. */
  def pass(spark: SparkSession, s: Corpus): Array[Long] = {
    val exact = Dedup.exact(goodDocs(spark.read.parquet(s.path)), Seq("text"), "id")
    val near = Dedup.minhashNearDupsReleasable(exact, "id", "text", Threshold)
    try Dedup.removeNearDuplicates(exact, "id", near.result, "a", "b")
      .select("id").collect().map(_.getLong(0))
    finally near.release()
  }

  /** The same calls with each stage materialised at its boundary, so
    * the data work of a stage lands in that stage's span: the mirror of
    * [[pass]] that [[Mode.Traced]] and [[Mode.Mirror]] decks run. The
    * stage outputs are the bench's own caches and are dropped at the
    * end. Returns the surviving ids and the verified pair count. */
  def tracedPass(spark: SparkSession, s: Corpus, tr: Tracer): (Array[Long], Long) = {
    val own = mutable.ArrayBuffer.empty[DataFrame]
    def keep(df: DataFrame): DataFrame = { own += df.persist(); df.count(); df }
    try {
      val good = tr.span("textops.quality")(keep(goodDocs(spark.read.parquet(s.path))))
      val exact = tr.span("dedup.exact")(keep(Dedup.exact(good, Seq("text"), "id")))
      val near = tr.span("dedup.minhash")(Dedup.minhashNearDupsReleasable(exact, "id", "text", Threshold))
      try {
        val pairs = tr.span("dedup.minhash")(keep(near.result))
        val ids = tr.span("dedup.cc")(Dedup.removeNearDuplicates(exact, "id", pairs, "a", "b")
          .select("id").collect().map(_.getLong(0)))
        (ids, pairs.count())
      } finally tr.span("dedup.release")(near.release())
    } finally own.foreach(_.unpersist())
  }

  /** Problems with a pass's surviving ids, and its `dup_recall`. */
  def check(s: Corpus, ids: Array[Long]): (Seq[String], Double) = {
    val kept = ids.toSet
    val problems = mutable.ArrayBuffer.empty[String]
    if (kept.size != ids.length) problems += s"pass returned ${ids.length - kept.size} repeated ids"
    val texts = ids.map(i => s.texts(i.toInt))
    if (texts.distinct.length != texts.length)
      problems += s"${texts.length - texts.distinct.length} exact duplicates survived"
    val lostOriginals = s.originals.count(!kept(_))
    if (lostOriginals > 0) problems += s"$lostOriginals original docs were removed"
    val lostKept = s.keptCopies.count(!kept(_))
    if (lostKept > 0) problems += s"$lostKept below-threshold copies were removed"
    val lowKept = s.lowQuality.count(kept)
    if (lowKept > 0) problems += s"$lowKept low-quality docs survived"
    val recall = s.removable.count(!kept(_)).toDouble / math.max(1, s.removable.size)
    (problems.toSeq, recall)
  }

  /** LSH candidate pairs of the pass's signature basis (k = 32, 8
    * bands, 3-shingles — the defaults the pass uses), for the yield. */
  def lshCandidates(spark: SparkSession, s: Corpus): Long = {
    val exact = Dedup.exact(goodDocs(spark.read.parquet(s.path)), Seq("text"), "id")
    Dedup.lshCandidates(Dedup.minhashSignature(exact, "id", "text"), "id", 32, 8).count()
  }

}
