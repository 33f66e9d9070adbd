package graft.detect

import graft.core.{Bio, Mention, Sentence}
import graft.ops.BoundedCollect
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Dataset

/** The mention detector — the Spark re-architecture of the
  * reference's sequence-model kernel (`bert_crf_model.py:61-116`,
  * batch loop `predict_enhanced.py:341-353`).
  *
  * Architecture (SURVEY.md §2.3): a typed `Dataset[Sentence]` flows through
  * ONE `mapPartitions` that, one sentence at a time (the reference's
  * `texts[i:i+batch_size]` slices feed its GPU model; this kernel has
  * nothing to batch), (a) tokenizes per character (Chinese clinical text
  * is char-level in the reference, `utils.py:56-84`), (b) computes
  * per-position per-label emission scores from gazetteer features
  * (replacing the BERT forward pass — same output contract:
  * seq_len × num_labels floats), (c) runs a BIO-constrained Viterbi
  * decode (the `crf.decode` analog, `bert_crf_model.py:112-116`), and
  * (d) converts tags to mentions with `Bio.decodeBio`
  * (`predict_enhanced.py:282-326`).
  *
  * Sentences detect through [[detect]], which takes the gazetteer as a
  * Dataset of (surface, entity_type) and picks the strategy by its size:
  *
  *   sentences   gazetteer rows ≤ [[BroadcastCap]]   strategy
  *   batch       yes                               broadcast it; one narrow `mapPartitions` ([[detectBroadcast]])
  *   batch       no                                blocking-key join of sentences and surfaces ([[detectPartitioned]])
  *   stream      either                            broadcast it, collected without the gate
  *
  * The gate is one bounded-collect job over the gazetteer, none when it is
  * a LocalRelation. A stream always broadcasts: the partitioned plan
  * aggregates per sentence, which an append-mode stream without a
  * watermark cannot run. Both strategies give the same mentions
  * (LargeGazetteerSpec pins them to each other).
  */
object Detector {

  val NumLabels: Int = Bio.Labels.length
  private val labelArr: Array[String] = Bio.Labels.toArray
  private val oId: Int = Bio.OId
  private val bId: Map[String, Int] =
    Bio.EntityTypes.map(t => t -> Bio.LabelToId("B-" + t)).toMap
  private val iId: Map[String, Int] =
    Bio.EntityTypes.map(t => t -> Bio.LabelToId("I-" + t)).toMap
  // label ids by EntityTypes index — the trie's packed-match currency
  private val bIdByIdx: Array[Int] =
    Bio.EntityTypes.map(t => Bio.LabelToId("B-" + t)).toArray
  private val iIdByIdx: Array[Int] =
    Bio.EntityTypes.map(t => Bio.LabelToId("I-" + t)).toArray

  /** BIO-constraint transition matrix (the analog of trained CRF
    * transitions, `bert_crf_model.py:93-116`): 0 for legal transitions,
    * -1e9 for structurally invalid ones (O→I-X, B-X→I-Y, I-X→I-Y,
    * start→I-X). Static because the label grammar, not the data, defines
    * legality; emission scores carry all data signal. For the
    * data-dependent variant see [[estimateTransitions]].
    */
  val transitions: Array[Array[Float]] = {
    val t = Array.fill(NumLabels + 1, NumLabels)(0f) // row NumLabels = start
    val neg = -1e9f
    for (j <- 0 until NumLabels) {
      val to = labelArr(j)
      if (to.startsWith("I-")) {
        val tpe = to.substring(2)
        for (i <- 0 until NumLabels) {
          val from = labelArr(i)
          val ok = (from == "B-" + tpe) || (from == "I-" + tpe)
          if (!ok) t(i)(j) = neg
        }
        t(NumLabels)(j) = neg // can't start with I-
      }
    }
    t
  }

  /** K3 full: CORPUS-ESTIMATED CRF transitions — the supervised-training
    * analog of the reference's CRF layer (`bert_crf_model.py:93-111`;
    * gradient training of the encoder stays out of scope, SURVEY §2.3).
    *
    * Tag-bigram counts are computed DISTRIBUTED (flatMap → groupBy →
    * count; the aggregate is bounded by (L+1)×L = 182 rows, so the
    * collect is constant-size regardless of corpus scale) and converted
    * to add-k-smoothed log-probabilities per source row. Structurally
    * ILLEGAL transitions keep -1e9 regardless of the data — the BIO
    * grammar outranks observed counts exactly as torchcrf's masked decode
    * does; a malformed gold corpus therefore cannot teach the decoder to
    * emit ungrammatical paths.
    *
    * Drop-in: pass the result as the `trans` parameter of [[detect]] /
    * [[viterbi]] / [[Kernel]]. Row `NumLabels` is the start distribution.
    */
  /** Distributed tag-bigram counts in label-id space (row `NumLabels` =
    * sentence start). The aggregate is bounded by (L+1)×L = 182 keys, so
    * the collect is constant-size regardless of corpus scale.
    */
  def transitionCounts(
      corpus: Dataset[graft.core.TaggedSentence]): Map[(Int, Int), Long] = {
    val spark = corpus.sparkSession
    import spark.implicits._
    corpus
      .flatMap { ts =>
        val ids = ts.tags.map(t => Bio.LabelToId.getOrElse(t, oId))
        val start = if (ids.nonEmpty) Seq((NumLabels, ids.head)) else Nil
        start ++ ids.sliding(2).collect { case Seq(a, b) => (a, b) }
      }
      .toDF("from", "to")
      .groupBy("from", "to")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
      .as[(Int, Int, Long)]
      .collect()
      .map { case (f, t, n) => (f, t) -> n }
      .toMap
  }

  def estimateTransitions(
      corpus: Dataset[graft.core.TaggedSentence],
      smoothing: Double = 1.0): Array[Array[Float]] = {
    val counts = transitionCounts(corpus)
    val out = Array.fill(NumLabels + 1, NumLabels)(0f)
    var i = 0
    while (i <= NumLabels) {
      val legal = (0 until NumLabels).filter(j => transitions(i)(j) > -1e8f)
      val total =
        legal.map(j => counts.getOrElse((i, j), 0L)).sum.toDouble + smoothing * legal.size
      var j = 0
      while (j < NumLabels) {
        out(i)(j) =
          if (transitions(i)(j) <= -1e8f) -1e9f
          else math.log((counts.getOrElse((i, j), 0L) + smoothing) / total).toFloat
        j += 1
      }
      i += 1
    }
    out
  }

  /** Gazetteer: longest-match dictionary features. `surfaces` maps a
    * surface form to its entity type; `maxLen` bounds the match scan.
    * Its trie is built on first use and is not serialized, so an executor
    * builds it once per deserialized broadcast, not once per task.
    */
  case class Gazetteer(surfaces: Map[String, String], maxLen: Int)
      extends Serializable {
    @transient lazy val trie: GazTrie = GazTrie(this)
  }

  object Gazetteer {
    /** A surface listed under several types keeps the greatest type, in
      * whatever order the entries arrive.
      */
    def apply(entries: Iterable[(String, String)]): Gazetteer = {
      entries.foreach(requireEntry)
      val m = entries.toSeq.sorted.toMap
      val maxLen = if (m.isEmpty) 1 else m.keysIterator.map(_.length).max
      Gazetteer(m, math.min(maxLen, 32))
    }
  }

  /** A null surface or type fails loudly, naming its entry, on every
    * detect path.
    */
  private def requireEntry(e: (String, String)): Unit = {
    if (e._1 == null) throw new IllegalArgumentException(s"gazetteer entry $e has a null surface")
    if (e._2 == null) throw new IllegalArgumentException(s"gazetteer entry $e has a null type")
  }

  /** Character trie over gazetteer surfaces: longest-match lookup with
    * ZERO allocation per probe (no substring candidates). Shared by every
    * task that reads the same broadcast gazetteer, so the probe is
    * stateless: the match is returned packed (`len << 32 | typeIdx`)
    * instead of through a mutable field.
    */
  final class GazTrie private (root: GazTrie.Node) extends Serializable {
    /** Longest surface matching text at `from` (within [from, limit)),
      * packed as `(matchLen.toLong << 32) | entityTypeIdx`; 0 if none.
      * `entityTypeIdx` indexes [[Bio.EntityTypes]].
      */
    def longestMatch(text: String, from: Int, limit: Int): Long = {
      var node = root
      var i = from
      var best = 0L
      while (i < limit && node != null) {
        node = node.child(text.charAt(i))
        i += 1
        if (node != null && node.typeIdx >= 0) {
          best = ((i - from).toLong << 32) | node.typeIdx.toLong
        }
      }
      best
    }
  }

  object GazTrie {
    /** Tries built in this JVM — observability hook for the tests that a
      * broadcast gazetteer is trie-ified once, not once per task.
      */
    val builds = new java.util.concurrent.atomic.AtomicLong(0L)

    final class Node extends Serializable {
      /** Index into [[Bio.EntityTypes]]; -1 = not a surface end. */
      var typeIdx: Int = -1
      // open-addressed char→node map; tiny fan-out in practice
      private var keys: Array[Char] = new Array[Char](0)
      private var vals: Array[Node] = new Array[Node](0)
      def child(c: Char): Node = {
        var i = 0
        while (i < keys.length) { if (keys(i) == c) return vals(i); i += 1 }
        null
      }
      def getOrAdd(c: Char): Node = {
        val existing = child(c)
        if (existing != null) return existing
        val n = new Node
        keys = keys :+ c
        vals = vals :+ n
        n
      }
    }
    def apply(gaz: Gazetteer): GazTrie = {
      builds.incrementAndGet()
      val typeIdxOf = Bio.EntityTypes.zipWithIndex.toMap
      val root = new Node
      gaz.surfaces.foreach { case (surface, tpe) =>
        var node = root
        var i = 0
        while (i < surface.length) { node = node.getOrAdd(surface.charAt(i)); i += 1 }
        node.typeIdx = typeIdxOf(tpe)
      }
      new GazTrie(root)
    }
  }

  /** Per-task detector kernel with REUSABLE buffers: the hot path
    * allocates only the emitted Mention objects. One instance per
    * partition (mapPartitions), shared across that task's batches —
    * exactly the "codec initialized once per batch" shape of the
    * reference's batch loop, minus the per-sentence array churn that
    * caps single-JVM scaling at high core counts (allocation-rate bound).
    *
    * Its output is bit-identical, confidence included, to the O(L²)
    * reference path ([[detectOne]]: [[emissions]], [[viterbi]],
    * [[confidences]]), which it beats by two exact shortcuts:
    *
    *  - Viterbi by row max. At each position the previous row's max and
    *    its first argmax are taken once. A target label whose
    *    predecessors are all L labels, each at a transition of exactly
    *    +0f (O and the six B-X under [[transitions]]), takes that max and
    *    argmax directly: its reference candidates are `dp + 0f`, which
    *    order exactly as `dp` does (x + 0f == x), so the ascending
    *    first-wins argmax is the row's first argmax and the best score is
    *    `max + 0f`. Every other label (the I-X labels, and every label of
    *    an [[estimateTransitions]] matrix) loops over its legal
    *    predecessors only: an illegal candidate scores dp + (-1e9), about
    *    1e8 below any legal one (|dp| and |em| are bounded by
    *    maxLen·max|weight|), so dropping it never changes the argmax, and
    *    the ascending list keeps the tie order. With the 13-label grammar
    *    that is 13 + 7 + 6·2 = 32 inner steps per char instead of about
    *    103.
    *  - Decode by label id (a precomputed B/I kind and entity type per
    *    label) instead of parsing label strings per char.
    */
  final class Kernel(
      gaz: Gazetteer,
      maxLen: Int,
      trans: Array[Array[Float]] = transitions,
      feats: Features.FeatureModel = null) {
    private val L = NumLabels
    // row-major maxLen × L
    private val em = new Array[Float](maxLen * L)
    private val dp = new Array[Float](maxLen * L)
    private val bp = new Array[Int](maxLen * L)
    private val featScratch = new Array[Double](L)
    private val path = new Array[Int](maxLen)
    private val conf = new Array[Double](maxLen)
    private val sb = new StringBuilder
    // a label every predecessor reaches at a transition of exactly +0f
    // takes the previous row's max (class doc)
    private val fromRowMax: Array[Boolean] = Array.tabulate(L) { j =>
      (0 until L).forall(k => java.lang.Float.floatToRawIntBits(trans(k)(j)) == 0)
    }
    // every other label: its ascending legal predecessors and their
    // transitions (all L when none is legal)
    private val legalPred: Array[Array[Int]] = Array.tabulate(L) { j =>
      val ks = (0 until L).filter(k => trans(k)(j) > -1e8f)
      if (ks.isEmpty) (0 until L).toArray else ks.toArray
    }
    private val legalTrans: Array[Array[Float]] =
      Array.tabulate(L)(j => legalPred(j).map(k => trans(k)(j)))
    // decode tables by label id: 'B', 'I' or 'O', and the entity type index
    private val kindOf: Array[Char] = labelArr.map(_.charAt(0))
    private val typeOf: Array[Int] =
      labelArr.map(l => if (l == "O") -1 else Bio.EntityTypes.indexOf(l.substring(2)))
    private val typeNames: Array[String] = Bio.EntityTypes.toArray
    // bit-identical exp memo: the emission patterns when feats == null
    // take a handful of distinct values per corpus ({0, 2, 8} stamps),
    // so softmax recomputes exp() of the same float arguments millions
    // of times; a tiny open-addressed float->double cache returns the
    // EXACT same doubles (same exp of same argument), never changing a
    // confidence bit. NaN sentinel keys: a miss just recomputes.
    private val expKeys = Array.fill(64)(Float.NaN)
    private val expVals = new Array[Double](64)
    private def expCached(x: Float): Double = {
      val slot = (java.lang.Float.floatToRawIntBits(x) * 0x9E3779B9) >>> 26
      if (expKeys(slot) == x) expVals(slot)
      else {
        val v = math.exp(x.toDouble)
        expKeys(slot) = x
        expVals(slot) = v
        v
      }
    }

    def detect(s: Sentence): Seq[Mention] = detectWith(s, gaz)

    /** [[detect]] against a CALLER-SUPPLIED gazetteer, reusing this
      * kernel's scratch buffers — the per-sentence mini-gazetteer path
      * ([[detectPartitioned]]) swaps tiny tries per sentence without
      * re-allocating the maxLen×L matrices each time.
      */
    def detectWith(s: Sentence, g: Gazetteer): Seq[Mention] = {
      val trie = g.trie
      val text = s.text
      val n = math.min(text.length, maxLen)
      if (n == 0) return Nil

      // emissions (K2): O prior + greedy longest trie matches
      java.util.Arrays.fill(em, 0, n * L, 0f)
      var i = 0
      while (i < n) { em(i * L + oId) = 2.0f; i += 1 }
      i = 0
      while (i < n) {
        // bound the trie scan by g.maxLen so this kernel and the
        // map-probe kernel (emissions()) agree on surfaces longer than the
        // gazetteer cap (they must stay interchangeable)
        val packed = trie.longestMatch(text, i, math.min(i + g.maxLen, n))
        if (packed != 0L) {
          val m = (packed >>> 32).toInt
          val t = (packed & 0xFFFFFFFFL).toInt
          em(i * L + bIdByIdx(t)) = 8.0f
          var k = 1
          while (k < m) { em((i + k) * L + iIdByIdx(t)) = 8.0f; k += 1 }
          i += m
        } else i += 1
      }
      // K2 full: hashed char n-gram + context-window features (additive
      // log-softmax per position — see Features scaladoc for the
      // calibration against the gazetteer stamps)
      if (feats != null) {
        i = 0
        while (i < n) { feats.addScores(text, i, n, em, featScratch, i * L); i += 1 }
      }

      // Viterbi (K4) into reusable dp/bp, by row max (class doc)
      var j = 0
      while (j < L) { dp(j) = trans(L)(j) + em(j); j += 1 }
      i = 1
      while (i < n) {
        val prev = (i - 1) * L
        val row = i * L
        var mx = Float.NegativeInfinity
        var amx = 0
        j = 0
        while (j < L) { if (dp(prev + j) > mx) { mx = dp(prev + j); amx = j }; j += 1 }
        val mx0 = mx + 0f
        j = 0
        while (j < L) {
          if (fromRowMax(j)) {
            dp(row + j) = mx0 + em(row + j)
            bp(row + j) = amx
          } else {
            val preds = legalPred(j)
            val pt = legalTrans(j)
            var best = Float.NegativeInfinity
            var arg = 0
            var p = 0
            while (p < preds.length) {
              val sc = dp(prev + preds(p)) + pt(p)
              if (sc > best) { best = sc; arg = preds(p) }
              p += 1
            }
            dp(row + j) = best + em(row + j)
            bp(row + j) = arg
          }
          j += 1
        }
        i += 1
      }
      val last = (n - 1) * L
      var best = Float.NegativeInfinity
      var arg = 0
      j = 0
      while (j < L) { if (dp(last + j) > best) { best = dp(last + j); arg = j }; j += 1 }
      path(n - 1) = arg
      i = n - 1
      while (i > 0) { path(i - 1) = bp(i * L + path(i)); i -= 1 }

      // per-position confidence (P7): softmax(emission)[chosen] — exp via
      // the bit-identical memo (same float argument -> same double)
      i = 0
      while (i < n) {
        val row = i * L
        var mx = Float.NegativeInfinity
        j = 0
        while (j < L) { if (em(row + j) > mx) mx = em(row + j); j += 1 }
        var z = 0.0
        j = 0
        while (j < L) { z += expCached(em(row + j) - mx); j += 1 }
        conf(i) = expCached(em(row + path(i)) - mx) / z
        i += 1
      }

      // BIO decode (C1) — reference state machine over single-char tokens
      // (every token is one char here: offsets == indices, no specials)
      val out = scala.collection.mutable.ArrayBuffer.empty[Mention]
      var curType = -1
      var curStart = 0
      var curEnd = 0
      def flush(): Unit = {
        if (curType >= 0) {
          var csum = 0.0
          var k = curStart
          while (k < curEnd) { csum += conf(k); k += 1 }
          out += Mention(
            s.doc_id, s.span_idx, typeNames(curType),
            Bio.cleanEntityName(sb.toString), curStart, curEnd,
            if (curEnd > curStart) csum / (curEnd - curStart) else 1.0)
          curType = -1
          sb.clear()
        }
      }
      i = 0
      while (i < n) {
        val id = path(i)
        kindOf(id) match {
          case 'B' =>
            flush()
            curType = typeOf(id)
            sb.clear(); sb.append(text.charAt(i))
            curStart = i
            curEnd = i + 1
          case 'I' =>
            // extends only an open entity of its own type
            if (curType >= 0 && typeOf(id) == curType) {
              sb.append(text.charAt(i))
              curEnd = i + 1
            }
          case _ => flush() // O
        }
        i += 1
      }
      flush()
      out.toSeq
    }
  }

  /** Emission scoring (K2): per position, per label. Gazetteer greedy
    * longest-match (the reference's dictionary-probe analog,
    * `data_augmentation.py:66,126`) stamps strong B-/I- scores over the
    * matched range; everything else gets an O prior. Output contract
    * matches the reference emission tensor: len × numLabels.
    */
  def emissions(chars: Array[String], gaz: Gazetteer): Array[Array[Float]] = {
    val n = chars.length
    val em = Array.fill(n, NumLabels)(0f)
    var i = 0
    while (i < n) { em(i)(oId) = 2.0f; i += 1 }
    i = 0
    while (i < n) {
      // longest gazetteer match starting at i
      var l = math.min(gaz.maxLen, n - i)
      var matched = 0
      var mtype: String = null
      while (l >= 1 && matched == 0) {
        val cand = new StringBuilder
        var k = 0
        while (k < l) { cand.append(chars(i + k)); k += 1 }
        gaz.surfaces.get(cand.toString) match {
          case Some(t) => matched = l; mtype = t
          case None    =>
        }
        l -= 1
      }
      if (matched > 0) {
        em(i)(bId(mtype)) = 8.0f
        var k = 1
        while (k < matched) { em(i + k)(iId(mtype)) = 8.0f; k += 1 }
        i += matched // greedy non-overlapping, like jieba longest-match
      } else {
        i += 1
      }
    }
    em
  }

  /** Viterbi decode (K4) — hand-written `crf.decode` analog. O(len·L²)
    * with L=13; returns best label-id path.
    */
  def viterbi(
      em: Array[Array[Float]],
      trans: Array[Array[Float]] = transitions): Array[Int] = {
    val n = em.length
    if (n == 0) return Array.empty
    val L = NumLabels
    val dp = Array.ofDim[Float](n, L)
    val bp = Array.ofDim[Int](n, L)
    // legal-predecessor lists (see Kernel): exact restriction of the
    // inner max — illegal candidates (trans = -1e9) can never reach the
    // finite legal maximum
    val legalPred: Array[Array[Int]] = Array.tabulate(L) { j =>
      val ks = (0 until L).filter(k => trans(k)(j) > -1e8f)
      if (ks.isEmpty) (0 until L).toArray else ks.toArray
    }
    var j = 0
    while (j < L) { dp(0)(j) = trans(L)(j) + em(0)(j); j += 1 }
    var i = 1
    while (i < n) {
      j = 0
      while (j < L) {
        val preds = legalPred(j)
        var best = Float.NegativeInfinity
        var arg = 0
        var p = 0
        while (p < preds.length) {
          val k = preds(p)
          val s = dp(i - 1)(k) + trans(k)(j)
          if (s > best) { best = s; arg = k }
          p += 1
        }
        dp(i)(j) = best + em(i)(j)
        bp(i)(j) = arg
        j += 1
      }
      i += 1
    }
    var best = Float.NegativeInfinity
    var arg = 0
    j = 0
    while (j < L) { if (dp(n - 1)(j) > best) { best = dp(n - 1)(j); arg = j }; j += 1 }
    val path = new Array[Int](n)
    path(n - 1) = arg
    i = n - 1
    while (i > 0) { path(i - 1) = bp(i)(path(i)); i -= 1 }
    path
  }

  /** Per-position confidence: softmax(emission)[chosen] — the reference's
    * confidence calc (`model_explainability.py:213-218`).
    */
  private def confidences(em: Array[Array[Float]], path: Array[Int]): Array[Double] = {
    val out = new Array[Double](path.length)
    var i = 0
    while (i < path.length) {
      var mx = Float.NegativeInfinity
      var j = 0
      while (j < NumLabels) { if (em(i)(j) > mx) mx = em(i)(j); j += 1 }
      var z = 0.0
      j = 0
      while (j < NumLabels) { z += math.exp((em(i)(j) - mx).toDouble); j += 1 }
      out(i) = math.exp((em(i)(path(i)) - mx).toDouble) / z
      i += 1
    }
    out
  }

  /** Char-level tokenizer (K1). The reference's BERT tokenizer is
    * char-level for Chinese (`utils.py:56-84`); here it is the identity
    * over characters, with max-length truncation matching `config.py:14` /
    * `utils.py:63-65`.
    */
  def tokenize(text: String, maxLen: Int = 128): Array[String] = {
    val n = math.min(text.length, maxLen)
    val out = new Array[String](n)
    var i = 0
    while (i < n) { out(i) = text.charAt(i).toString; i += 1 }
    out
  }

  /** Decode one sentence with the full kernel (K1→K2→K4→C1). */
  def detectOne(s: Sentence, gaz: Gazetteer, maxLen: Int): Seq[Mention] = {
    val chars = tokenize(s.text, maxLen)
    if (chars.isEmpty) Nil else decode(s.doc_id, s.span_idx, chars, emissions(chars, gaz))
  }

  /** [[detectOne]] with transitions and a feature model: the O(L²)
    * reference for [[Kernel]] (it adds the model's scores to
    * [[emissions]] as the kernel does, then runs [[viterbi]] and
    * [[confidences]]).
    */
  private[graft] def detectReference(
      s: Sentence, gaz: Gazetteer, maxLen: Int,
      trans: Array[Array[Float]], feats: Features.FeatureModel): Seq[Mention] = {
    val chars = tokenize(s.text, maxLen)
    if (chars.isEmpty) return Nil
    val em = emissions(chars, gaz)
    if (feats != null) {
      val scratch = new Array[Double](NumLabels)
      em.indices.foreach(i => feats.addScores(s.text, i, chars.length, em(i), scratch))
    }
    decode(s.doc_id, s.span_idx, chars, em, trans)
  }

  /** Viterbi over `em`, then BIO decode to mentions carrying their mean
    * per-position confidence (K4→C1).
    */
  private def decode(
      docId: String, spanIdx: Int, chars: Array[String], em: Array[Array[Float]],
      trans: Array[Array[Float]] = transitions): Seq[Mention] = {
    val path = viterbi(em, trans)
    val conf = confidences(em, path)
    Bio.decodeBio(
      chars.toIndexedSeq,
      path.map(labelArr).toIndexedSeq,
      confOf = (a, b) => {
        var sum = 0.0; var i = a
        while (i < b) { sum += conf(i); i += 1 }
        if (b > a) sum / (b - a) else 1.0
      }
    ).map { case (tpe, text, start, end, c) =>
      Mention(docId, spanIdx, tpe, text, start, end, c)
    }
  }

  /** Sentences are cut to this many chars, as the reference's tokenizer
    * cuts them (`config.py:14`).
    */
  private val MaxLen = 128

  /** Gazetteers of at most this many rows are broadcast. Timed against
    * the partitioned strategy on 4 cores with 40k and 120k sentences and
    * never-matching decoy surfaces, the broadcast is faster at 64k
    * surfaces, level or slower at 128k, and slower from 256k on (3.5 s
    * against 2.3–2.7 s at 256k, 18 s against 3.4 s at 1M): building and
    * shipping the gazetteer grows with its size, the blocking-key join
    * hardly does.
    */
  private[graft] val BroadcastCap: Int = 1 << 17

  /** Mentions of `sentences` against `gazetteer` (surface, entity_type),
    * by the strategy the object doc's table picks.
    */
  def detect(
      sentences: Dataset[Sentence],
      gazetteer: Dataset[(String, String)],
      trans: Array[Array[Float]] = transitions,
      feats: Option[Features.FeatureModel] = None): Dataset[Mention] = {
    // a stream cannot run the partitioned plan's per-sentence aggregate
    // (append mode, no watermark), so it broadcasts a gazetteer of any size
    val entries =
      if (sentences.isStreaming) Some(gazetteer.collect().toSeq)
      else BoundedCollect.collect(gazetteer.toDF(), BroadcastCap)
        .map(_.map(r => (r.getString(0), r.getString(1))))
    entries match {
      case Some(es) =>
        detectBroadcast(sentences, sentences.sparkSession.sparkContext.broadcast(Gazetteer(es)), trans, feats)
      case None => detectPartitioned(sentences, gazetteer, trans, feats)
    }
  }

  /** Broadcast strategy: one narrow `mapPartitions`, one [[Kernel]] per
    * partition, the kernel running one sentence at a time (the reference
    * batches `texts[i:i+batch_size]`, `predict_enhanced.py:341-343`, for
    * its GPU model; a per-sentence CPU kernel has nothing to batch). The
    * gazetteer's trie is built once per deserialized broadcast.
    */
  private[graft] def detectBroadcast(
      sentences: Dataset[Sentence],
      gazBc: Broadcast[Gazetteer],
      trans: Array[Array[Float]] = transitions,
      feats: Option[Features.FeatureModel] = None): Dataset[Mention] = {
    val spark = sentences.sparkSession
    import spark.implicits._
    val model = feats.map(spark.sparkContext.broadcast(_))
    sentences.mapPartitions { it =>
      val kernel = new Kernel(gazBc.value, MaxLen, trans, model.map(_.value).orNull)
      it.flatMap(kernel.detect)
    }
  }

  /** Partitioned strategy, for a gazetteer BEYOND broadcast budget (the
    * large-lexicon story the link side already has,
    * [[graft.link.Linker.resolve]]): the gazetteer
    * stays a DISTRIBUTED dataset and candidates reach each sentence
    * through a blocking-key equi-join instead of a broadcast.
    *
    * Plan shape:
    *   1. each sentence explodes to its DISTINCT char unigrams + bigrams
    *      (ids + 1-2 chars on the wire — never the text);
    *   2. the gazetteer keys each surface by its first two chars (first
    *      char for single-char surfaces) — at a 10M-surface lexicon the
    *      bigram key space is ~1M wide, so per-key candidate lists stay
    *      small and the join is AQE-skew-splittable;
    *   3. key-equi-join → candidate surfaces, aggregated per sentence;
    *   4. the sentences left-join their candidate lists, and one
    *      [[Kernel]] per partition runs each sentence against the
    *      candidates it contains (a tiny trie per sentence).
    *
    * Output-equivalent to [[detectBroadcast]] with the full gazetteer:
    * the kernel's emissions only depend on gazetteer surfaces that occur
    * in the sentence, every occurring surface shares its leading
    * uni/bigram with the sentence (consecutive chars), and containment
    * keeps exactly the occurring ones plus inert extras the trie scan
    * cannot match. Sentences with no candidate keep flowing through the
    * left join (feature-model-only detection still applies to them).
    */
  private[graft] def detectPartitioned(
      sentences: Dataset[Sentence],
      gazetteer: Dataset[(String, String)],
      trans: Array[Array[Float]] = transitions,
      feats: Option[Features.FeatureModel] = None): Dataset[Mention] = {
    val spark = sentences.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, collect_list, struct}

    // distinct leading keys per sentence (narrow; ids + tiny strings only)
    val keys = sentences.flatMap { s =>
      val t = s.text
      val n = math.min(t.length, MaxLen)
      val ks = scala.collection.mutable.HashSet.empty[String]
      var i = 0
      while (i < n) {
        ks += t.substring(i, i + 1)
        if (i + 1 < n) ks += t.substring(i, i + 2)
        i += 1
      }
      ks.iterator.map(k => (s.doc_id, s.span_idx, k))
    }.toDF("doc_id", "span_idx", "gkey")

    // gkey derived with java.lang.String.substring (UTF-16 code units) —
    // the SAME semantics as the sentence side's t.substring(i, i + 2)
    // above. The former SQL substring(surface, 1, 2) counted Unicode CODE
    // POINTS: a surface starting with a supplementary (non-BMP) char got
    // a 3-4-code-unit key no 2-code-unit sentence key could ever equal,
    // silently dropping its mentions (ADVICE r5, medium).
    val gazKeyed = gazetteer
      .filter { (e: (String, String)) => requireEntry(e); e._1.nonEmpty }
      .map { case (surf, tpe) =>
        (surf.substring(0, math.min(2, surf.length)), surf, tpe)
      }
      .toDF("gkey", "surface", "entity_type")

    val candidates = keys.join(gazKeyed, Seq("gkey"))
      .groupBy(col("doc_id"), col("span_idx"))
      .agg(collect_list(struct(col("surface"), col("entity_type"))).as("cands"))

    // containment is verified next to the kernel, where the text is: the
    // candidate rows carry ids and surfaces, never the text
    val model = feats.map(spark.sparkContext.broadcast(_))
    sentences.toDF().join(candidates, Seq("doc_id", "span_idx"), "left_outer")
      .select(col("doc_id"), col("span_idx"), col("text"), col("cands"))
      .as[(String, Int, String, Option[Seq[(String, String)]])]
      .mapPartitions { it =>
        // the per-sentence trie is the only per-sentence state; the
        // kernel's maxLen×L scratch matrices are allocated per partition
        val kernel = new Kernel(Gazetteer(Nil), MaxLen, trans, model.map(_.value).orNull)
        it.flatMap { case (d, sp, text, cands) =>
          // containment verify (candidates are leading-bigram matches)
          val mini = Gazetteer(cands.getOrElse(Nil).filter { case (surf, _) => text.contains(surf) })
          kernel.detectWith(Sentence(d, sp, text), mini)
        }
      }
  }

  /** Gold-emission variant: tags are given (parity-by-construction path for
    * fixture/eval corpora — SURVEY.md §7.3). Runs the same Viterbi over
    * one-hot emissions so the CRF layer is still exercised.
    */
  def detectFromTags(tagged: Dataset[graft.core.TaggedSentence]): Dataset[Mention] = {
    val spark = tagged.sparkSession
    import spark.implicits._
    tagged.mapPartitions { it =>
      it.flatMap { ts =>
        val chars = ts.chars.toArray
        val n = chars.length
        val em = Array.fill(n, NumLabels)(0f)
        var i = 0
        while (i < n) {
          val id = Bio.LabelToId.getOrElse(ts.tags(i), oId)
          em(i)(id) = 8.0f
          i += 1
        }
        decode(ts.doc_id, ts.span_idx, chars, em)
      }
    }
  }
}
