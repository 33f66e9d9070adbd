package graft.detect

import graft.core.{Bio, Hashing, TaggedSentence}
import org.apache.spark.sql.Dataset

/** K2's generalization half (SURVEY §2.3): hashed char n-gram features
  * with a ±2 context window, scored by a count-based log-linear model
  * whose weights are fit from a gold BIO corpus — the deterministic
  * analog of the reference encoder's ability to label surfaces it has
  * never seen as dictionary entries (`bert_crf_model.py:61-92`: BERT
  * context encoding → linear emission head; here: windowed n-gram
  * evidence → naive-Bayes emission head).
  *
  * Feature templates per position `i` (fired only when in range):
  *
  *   t0 `c[i]`   t1 `c[i-1]`   t2 `c[i+1]`   t3 `c[i-2]`   t4 `c[i+2]`
  *   t5 `c[i-1..i]`   t6 `c[i..i+1]`   t7 `c[i-1..i+1]`
  *
  * Each fired template hashes its character window into a shared
  * `dim`-bucket space ([[Hashing.hashString]] with a per-template seed —
  * the same golden-gated scalar the dedup kernels use). Fitting counts
  * (bucket, label) co-occurrences; the emission contribution at decode
  * time is the per-position log-softmax of
  * `logPrior(y) + Σ_t w[h_t(i)][y]` with
  * `w[f][y] = log((c(f,y)+α)/(N(y)+α·dim))` — multinomial naive Bayes
  * with add-α smoothing over the hashed vocabulary.
  *
  * Calibration against the gazetteer stamps ([[Detector.Kernel]]): the
  * log-softmax tops out at 0, so features alone must out-argue the O
  * prior (2.0) by confident log-odds to open a mention — precision-
  * leaning — while a gazetteer match (8.0) is only ever overridden by
  * overwhelming contrary context.
  *
  * SCALE: fitting is one `flatMap → groupBy → count` whose aggregate is
  * bounded by `(dim+1) × numLabels` keys regardless of corpus size (the
  * constant-size-collect pattern of [[Detector.transitionCounts]]); the
  * fitted model is a single `dim × L` float array (a few MB) broadcast
  * once. Scoring is allocation-free per position.
  */
object Features {

  val DefaultDim: Int = 1 << 16
  val DefaultAlpha: Double = 0.1

  /** Per-template hash seeds — distinct so `c[i-1]` and `c[i+1]` of the
    * same character land in different buckets. 0x4B32 = "K2".
    */
  val SeedBase: Long = 0x4B32L
  val NumTemplates: Int = 8

  private val L = Bio.Labels.length
  private val oId = Bio.OId

  /** Hash of `text[from, until)` with a seed — EXACTLY
    * `Hashing.hashString(text.substring(from, until), seed)` without the
    * substring allocation (same per-char mix64 stream).
    */
  def hashChars(text: String, from: Int, until: Int, seed: Long): Long = {
    var h = Hashing.mix64(seed ^ 0xA0761D6478BD642FL)
    var i = from
    while (i < until) {
      h = Hashing.mix64(h ^ text.charAt(i).toLong)
      i += 1
    }
    Hashing.mix64(h ^ (until - from).toLong)
  }

  /** Bucket of template `t` over `text[from, until)`. */
  def bucket(text: String, from: Int, until: Int, t: Int, dim: Int): Int =
    ((hashChars(text, from, until, SeedBase + t) >>> 1) % dim).toInt

  /** Fitted emission feature model. `weights` is row-major `dim × L`
    * (unseen (bucket,label) cells hold the smoothed-zero weight);
    * `priors` is the per-label log prior; `scale` multiplies the final
    * log-softmax before it is added to the emission row.
    */
  case class FeatureModel(
      dim: Int,
      weights: Array[Float],
      priors: Array[Float],
      scale: Float,
      unseen: Array[Float] = Array.empty) extends Serializable {

    /** Add this model's per-label scores for position `i` of `text`
      * (truncated length `n`) into `out(off until off + numLabels)`.
      * `scratch` is a caller-owned `Array[Double](numLabels)` so the model
      * stays immutable and thread-safe under broadcast sharing.
      */
    def addScores(
        text: String, i: Int, n: Int, out: Array[Float], scratch: Array[Double], off: Int = 0): Unit = {
      var y = 0
      while (y < L) { scratch(y) = priors(y).toDouble; y += 1 }
      def add(from: Int, until: Int, t: Int): Unit = {
        val base = bucket(text, from, until, t, dim) * L
        var k = 0
        while (k < L) { scratch(k) += weights(base + k).toDouble; k += 1 }
      }
      add(i, i + 1, 0)
      if (i >= 1) add(i - 1, i, 1)
      if (i + 1 < n) add(i + 1, i + 2, 2)
      if (i >= 2) add(i - 2, i - 1, 3)
      if (i + 2 < n) add(i + 2, i + 3, 4)
      if (i >= 1) add(i - 1, i + 1, 5)
      if (i + 1 < n) add(i, i + 2, 6)
      if (i >= 1 && i + 1 < n) add(i - 1, i + 2, 7)
      // log-softmax in a fixed label order (deterministic float stream)
      var mx = Double.NegativeInfinity
      y = 0
      while (y < L) { if (scratch(y) > mx) mx = scratch(y); y += 1 }
      var z = 0.0
      y = 0
      while (y < L) { z += math.exp(scratch(y) - mx); y += 1 }
      val lse = mx + math.log(z)
      y = 0
      while (y < L) {
        out(off + y) += scale * (scratch(y) - lse).toFloat
        y += 1
      }
    }
  }

  /** Expand token-level tags to char-level label ids over the joined
    * text (tokens are single chars in the reference corpus; multi-char
    * tokens expand as B→I like the BIO encode convention).
    */
  def charLabels(chars: Seq[String], tags: Seq[String]): (String, Array[Int]) = {
    val sb = new java.lang.StringBuilder
    val ids = Array.newBuilder[Int]
    var j = 0
    while (j < chars.length) {
      val tok = chars(j)
      val tag = if (j < tags.length) tags(j) else "O"
      val y = Bio.LabelToId.getOrElse(tag, oId)
      val yCont =
        if (tag.startsWith("B-")) Bio.LabelToId.getOrElse("I-" + tag.substring(2), y)
        else y
      var k = 0
      while (k < tok.length) {
        sb.append(tok.charAt(k))
        ids += (if (k == 0) y else yCont)
        k += 1
      }
      j += 1
    }
    (sb.toString, ids.result())
  }

  /** Emit the (bucket, label) count keys of one sentence; bucket `dim`
    * is the sentinel row counting positions per label (the prior).
    * Key encoding: `bucket * L + labelId`.
    */
  def countKeys(text: String, ids: Array[Int], dim: Int): Iterator[Long] = {
    val n = text.length
    val out = Array.newBuilder[Long]
    var i = 0
    while (i < n) {
      val y = ids(i)
      def emit(from: Int, until: Int, t: Int): Unit =
        out += bucket(text, from, until, t, dim).toLong * L + y
      emit(i, i + 1, 0)
      if (i >= 1) emit(i - 1, i, 1)
      if (i + 1 < n) emit(i + 1, i + 2, 2)
      if (i >= 2) emit(i - 2, i - 1, 3)
      if (i + 2 < n) emit(i + 2, i + 3, 4)
      if (i >= 1) emit(i - 1, i + 1, 5)
      if (i + 1 < n) emit(i, i + 2, 6)
      if (i >= 1 && i + 1 < n) emit(i - 1, i + 2, 7)
      out += dim.toLong * L + y // sentinel: position count for the prior
      i += 1
    }
    out.result().iterator
  }

  /** Build the model from (key → count): pure, shared by the distributed
    * and sequential fit paths so both produce bit-identical weights.
    */
  def fromCounts(counts: Map[Long, Long], dim: Int, alpha: Double, scale: Float): FeatureModel = {
    // N(y) = total fired features per label; pos(y) = positions per label
    val nFeat = new Array[Long](L)
    val nPos = new Array[Long](L)
    counts.foreach { case (key, c) =>
      val b = key / L
      val y = (key % L).toInt
      if (b == dim.toLong) nPos(y) += c else nFeat(y) += c
    }
    val totalPos = nPos.sum
    val priors = Array.tabulate(L) { y =>
      math.log((nPos(y) + alpha) / (totalPos + alpha * L)).toFloat
    }
    val weights = new Array[Float](dim * L)
    val unseenArr = Array.tabulate(L)(y => math.log(alpha / (nFeat(y) + alpha * dim)).toFloat)
    var y = 0
    while (y < L) {
      var b = 0
      while (b < dim) { weights(b * L + y) = unseenArr(y); b += 1 }
      y += 1
    }
    counts.foreach { case (key, c) =>
      val b = key / L
      val yy = (key % L).toInt
      if (b < dim.toLong)
        weights(b.toInt * L + yy) =
          math.log((c + alpha) / (nFeat(yy) + alpha * dim)).toFloat
    }
    FeatureModel(dim, weights, priors, scale, unseenArr)
  }

  /** DISTRIBUTED fit: one narrow flatMap, one `groupBy(key).count()`
    * whose key space is bounded by `(dim+1) × L` (constant in corpus
    * size), one constant-size collect. Deterministic and partition-
    * order-independent (counts are exact longs).
    */
  def fit(
      corpus: Dataset[TaggedSentence],
      dim: Int = DefaultDim,
      alpha: Double = DefaultAlpha,
      scale: Float = 1.0f): FeatureModel = {
    val spark = corpus.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.functions.{count, lit}
    val counts = corpus
      .flatMap { ts =>
        val (text, ids) = charLabels(ts.chars, ts.tags)
        countKeys(text, ids, dim)
      }
      .toDF("key")
      .groupBy("key")
      .agg(count(lit(1)).as("n"))
      .as[(Long, Long)]
      .collect()
      .toMap
    fromCounts(counts, dim, alpha, scale)
  }

  /** Persist a fitted model as a SPARSE parquet table: one row per
    * (bucket, label) cell that differs from its label's smoothed-zero
    * weight, plus a metadata row (bucket −1) carrying dim/scale/priors/
    * unseen — the "weights fit OFFLINE" surface (SURVEY §3.3): fit once
    * on the training corpus, [[load]] in every detection job.
    */
  def save(model: FeatureModel, spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    import spark.implicits._
    require(model.unseen.length == L, "save needs a model carrying its unseen weights (from fit/fitLocal)")
    val unseen = model.unseen
    val cells = for {
      b <- (0 until model.dim).iterator
      y <- (0 until L).iterator
      w = model.weights(b * L + y)
      if w != unseen(y)
    } yield (b, y, w)
    val meta = Iterator((-1, model.dim, model.scale, model.priors.toSeq, unseen.toSeq))
      .map { case (b, d, sc, pr, un) => (b, 0, 0f, d, sc, pr, un) }
    val cellDf = cells.map { case (b, y, w) =>
      (b, y, w, 0, 0f, Seq.empty[Float], Seq.empty[Float])
    }
    spark.createDataset((cellDf ++ meta).toSeq)
      .toDF("bucket", "label", "weight", "dim", "scale", "priors", "unseen")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Rebuild the exact model [[save]] wrote (bit-identical weights). */
  def load(spark: org.apache.spark.sql.SparkSession, path: String): FeatureModel = {
    import spark.implicits._
    val rows = spark.read.parquet(path)
      .select("bucket", "label", "weight", "dim", "scale", "priors", "unseen")
      .as[(Int, Int, Float, Int, Float, Seq[Float], Seq[Float])]
      .collect()
    val meta = rows.find(_._1 == -1).getOrElse(sys.error(s"no metadata row in $path"))
    val (dim, scale, priors, unseen) = (meta._4, meta._5, meta._6.toArray, meta._7.toArray)
    val weights = new Array[Float](dim * L)
    var y = 0
    while (y < L) {
      var b = 0
      while (b < dim) { weights(b * L + y) = unseen(y); b += 1 }
      y += 1
    }
    rows.foreach { case (b, lab, w, _, _, _, _) =>
      if (b >= 0) weights(b * L + lab) = w
    }
    FeatureModel(dim, weights, priors, scale, unseen)
  }

  /** SEQUENTIAL fit over in-memory sentences — the fixture/oracle path
    * ([[graft.Fixtures]]'s brute-force local reference). Bit-identical
    * to [[fit]] because both reduce to [[fromCounts]] over exact counts.
    */
  def fitLocal(
      sentences: Iterable[(Seq[String], Seq[String])],
      dim: Int = DefaultDim,
      alpha: Double = DefaultAlpha,
      scale: Float = 1.0f): FeatureModel = {
    val counts = scala.collection.mutable.HashMap.empty[Long, Long]
    sentences.foreach { case (chars, tags) =>
      val (text, ids) = charLabels(chars, tags)
      countKeys(text, ids, dim).foreach { k =>
        counts.update(k, counts.getOrElse(k, 0L) + 1L)
      }
    }
    fromCounts(counts.toMap, dim, alpha, scale)
  }
}
