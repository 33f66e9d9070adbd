package graft

import graft.core.{Bio, Hashing, TaggedSentence}
import graft.data.{BioCorpus, Dicts}
import graft.functions.{Registry, VecDot}
import graft.metrics.{ReferenceEval, SpanMetrics}
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

class FunctionsSpec extends AnyFunSuite {
  lazy val spark = SparkTest.spark

  test("vec_dot native expression matches scala math and survives codegen") {
    import spark.implicits._
    val df = Seq(
      (Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f)),
      (Array(0.5f, -1.5f), Array(2.0f, 2.0f))).toDF("a", "b")
    val got = df.select(VecDot.vec_dot(col("a"), col("b")).as("d")).collect().map(_.getDouble(0))
    assert(got(0) == 32.0)
    assert(math.abs(got(1) - (-2.0)) < 1e-9)
    // SQL registration path
    Registry.registerAll(spark)
    val viaSql = spark.sql("select vec_dot(array(cast(1.0 as float), cast(2.0 as float)), " +
      "array(cast(3.0 as float), cast(4.0 as float)))").head().getDouble(0)
    assert(viaSql == 11.0)
  }

  test("minhash_sig native expression matches the scalar kernel and survives codegen") {
    import spark.implicits._
    import graft.functions.MinHashSig
    val texts = Seq("the quick brown fox jumps", "胃癌 的 治疗 方案", "", "one")
    // parquet-backed scan: LocalRelation projections constant-fold before
    // codegen, which would bypass the doGenCode path under test
    val dir = java.nio.file.Files.createTempDirectory("minhash_expr").toString
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text").write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir).orderBy("id")
    val got = df.select(MinHashSig.minhash_sig(col("text"), 8, 2).as("sig"))
      .collect().map(_.getSeq[Long](0).toSeq)
    val want = texts.map(t => Hashing.minhashSignature(t, 8, 2).toSeq)
    assert(got.toSeq == want)
    // null input → null out (nullIntolerant)
    val n = Seq((1L, null: String)).toDF("id", "text")
      .select(MinHashSig.minhash_sig(col("text"), 8, 2)).head()
    assert(n.isNullAt(0))
    // SQL registration path
    Registry.registerAll(spark)
    val viaSql = spark.sql("select minhash_sig('a b c d', 4, 2) as s")
      .head().getSeq[Long](0).toSeq
    assert(viaSql == Hashing.minhashSignature("a b c d", 4, 2).toSeq)
  }

  test("sig_eq_count equals the zip_with+aggregate agreement sum, incl. via codegen") {
    import spark.implicits._
    import graft.functions.SigEqCount
    // parquet-backed so codegen runs (LocalRelation would constant-fold)
    val rows = Seq(
      (1L, Array(1L, 2L, 3L, 4L), Array(1L, 9L, 3L, 4L)), // 3 equal
      (2L, Array(5L, 5L), Array(5L, 5L)), // all equal
      (3L, Array(7L, 8L), Array(1L, 2L)), // none
      (4L, Array.empty[Long], Array.empty[Long]))
    val dir = java.nio.file.Files.createTempDirectory("sigeq_expr").toString
    // null slots never count as agreeing, whether one or both are null
    val withNulls = Seq[(Long, Seq[java.lang.Long], Seq[java.lang.Long])](
      (5L, Seq(1L, null, 3L, null), Seq(1L, null, 4L, 7L))) // 1 equal
    (rows.map { case (id, a, b) => (id, a.toSeq.map(Long.box), b.toSeq.map(Long.box)) } ++ withNulls)
      .toDF("id", "a", "b").write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir).orderBy("id")
    val native = df.select(SigEqCount.sig_eq_count(col("a"), col("b")).as("n"))
      .collect().map(_.getLong(0)).toSeq
    assert(native == Seq(3L, 2L, 0L, 0L, 1L))
    // the replaced formulation, for bit-equality of est_jaccard = n/k
    val legacy = df.select(
      aggregate(
        zip_with(col("a"), col("b"), (x, y) => when(x === y, 1.0).otherwise(0.0)),
        lit(0.0), (acc, x) => acc + x).as("s"))
      .collect().map(_.getDouble(0)).toSeq
    assert(native.map(_.toDouble) == legacy)
    assert(native.map(n => n.toDouble / 64.0) == legacy.map(_ / 64.0))
    // null input → null out; SQL registration path
    val nrow = Seq((1L, null: Array[Long], Array(1L))).toDF("id", "a", "b")
      .select(SigEqCount.sig_eq_count(col("a"), col("b"))).head()
    assert(nrow.isNullAt(0))
    Registry.registerAll(spark)
    assert(spark.sql("select sig_eq_count(array(1L,2L), array(1L,3L))").head().getLong(0) == 1L)
    // interpreted over generic arrays (constant-folded): null slots skipped, no NPE
    assert(spark.sql("select sig_eq_count(array(1L, null, null), array(1L, null, 5L))")
      .head().getLong(0) == 1L)
  }

  test("shingle_hashes one-pass kernel equals shingles().distinct.map(hashString), incl. via codegen") {
    import spark.implicits._
    import graft.functions.ShingleHashes
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog the quick brown fox",
      "a a a a", "one two", "", "  padded   spaces  ")
    for (t <- texts; w <- Seq(1, 2, 3)) {
      val want = Hashing.shingles(t, w).distinct.map(Hashing.hashString(_)).toSeq
      assert(Hashing.shingleHashes(t, w).toSeq == want, s"kernel mismatch for ($t, $w)")
    }
    // codegen path over a parquet scan
    val dir = java.nio.file.Files.createTempDirectory("shingle_expr").toString
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text").write.mode("overwrite").parquet(dir)
    val got = spark.read.parquet(dir).orderBy("id")
      .select(ShingleHashes.shingle_hashes(col("text"), 2).as("h"))
      .collect().map(_.getSeq[Long](0).toSeq)
    assert(got.toSeq == texts.map(t => Hashing.shingleHashes(t, 2).toSeq))
    // SQL registration path
    Registry.registerAll(spark)
    val viaSql = spark.sql("select shingle_hashes('a b c', 2) as h").head().getSeq[Long](0).toSeq
    assert(viaSql == Hashing.shingleHashes("a b c", 2).toSeq)
  }

  test("sign_bands native expression matches the scalar kernel; LSH ops plan it instead of a UDF") {
    import spark.implicits._
    import graft.ops.Similarity
    val dim = 8; val planes = 8; val bands = 4; val seed = 0xA55L
    val vecs = (0 until 5).map(i => Array.tabulate(dim)(d => (i * dim + d).toFloat / 7f - 2f))
    val dir = java.nio.file.Files.createTempDirectory("signbands_expr").toString
    vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("id", "v").write.mode("overwrite").parquet(dir)
    val got = spark.read.parquet(dir).orderBy("id")
      .select(graft.functions.SignBands.sign_bands(col("v"), seed, planes, dim, bands).as("b"))
      .collect().map(_.getSeq[Long](0).toSeq)
    val pv = Similarity.planeVectors(seed, planes, dim)
    assert(got.toSeq == vecs.map(v => Similarity.signBands(v, pv, bands).toSeq))

    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.filter(col("vec_id") < 3)
    for ((name, df) <- Seq(
      "lshTopK" -> Similarity.lshTopK(e, q, "vec_id", "embedding", dim = 64, k = 3),
      "embeddingNearDup" -> graft.ops.Dedup.embeddingNearDupPairs(e, "embedding", "vec_id", dim = 64))) {
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("sign_bands"), s"$name missing the native banding expression")
      assert(!p.contains("ScalaUDF"), s"$name still plans a Scala UDF")
    }
  }

  test("fingerprint64 and language_id native expressions match the scalar kernels") {
    import spark.implicits._
    import graft.ops.TextAnalysis
    val texts = Seq(
      "the cat and the dog and the bird", "el que de la casa", "患者出现了高血压的症状", "", "xqzk")
    val dir = java.nio.file.Files.createTempDirectory("textexprs").toString
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text").write.mode("overwrite").parquet(dir)
    val got = spark.read.parquet(dir).orderBy("id")
      .select(
        TextAnalysis.fingerprintCol(col("text")).as("fp"),
        TextAnalysis.languageIdCol(col("text")).as("lang"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(got.toSeq == texts.map(t => (TextAnalysis.fingerprint(t), TextAnalysis.languageId(t))))
    // null behavior matches the UDFs: fingerprint("") and "und"
    val n = Seq((1L, null: String)).toDF("id", "text")
      .select(TextAnalysis.fingerprintCol(col("text")), TextAnalysis.languageIdCol(col("text"))).head()
    assert(n.getLong(0) == TextAnalysis.fingerprint("") && n.getString(1) == "und")
    Registry.registerAll(spark)
    assert(spark.sql("select language_id('the cat and the dog')").head().getString(0) == "en")
  }

  test("sampling gate is native and bit-identical to the scalar kernel; IVF plans nearest_cells") {
    import spark.implicits._
    val ids = (0L until 1000L) ++ Seq(-1L, -999L, Long.MaxValue, Long.MinValue + 1)
    val dir = java.nio.file.Files.createTempDirectory("gate_parity").toString
    ids.map(Tuple1(_)).toDF("id").write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
    for (seed <- Seq(7L, 42L); frac <- Seq(0.1, 0.5)) {
      val kept = graft.ops.Sampling.bernoulli(df, "id", frac, seed)
        .select("id").as[Long].collect().toSet
      val expected = ids.filter(id =>
        Hashing.uniformDouble(Hashing.hash2(seed, id)) < frac).toSet
      assert(kept == expected, s"gate diverged for seed=$seed frac=$frac")
    }
    val p = graft.ops.Sampling.bernoulli(df, "id", 0.5, 7L)
      .queryExecution.executedPlan.toString
    assert(p.contains("mix64") && !p.contains("ScalaUDF"), "sampling gate still a UDF")

    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.filter(col("vec_id") < 3)
    val ivf = graft.ops.Similarity.ivfTopK(e, q, "vec_id", "embedding", 3)
      .queryExecution.executedPlan.toString
    assert(ivf.contains("nearest_cells"), "IVF cell assignment not a native expression")
    assert(!ivf.contains("ScalaUDF"), "IVF path still plans a Scala UDF")
  }

  test("minhashPairs plans the native expression, not a UDF") {
    import spark.implicits._
    // parquet-backed: a LocalRelation would constant-fold the projection
    val dir = java.nio.file.Files.createTempDirectory("minhash_plan").toString
    Seq((1L, "a b c d e"), (2L, "a b c d f")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
    val full = graft.ops.Dedup.minhashPairs(df, "text", "doc_id", k = 16, bands = 4)
      .queryExecution.executedPlan.toString
    assert(full.contains("minhash_sig"), s"native expression missing from plan:\n$full")
    assert(!full.contains("ScalaUDF") && !full.toLowerCase.contains("batchevalpython"),
      "minhash signature still computed by a UDF")
    // r4: the operator holds no hidden executor state — nothing persisted
    assert(!full.contains("InMemoryTableScan"), "minhashPairs silently persists again")
  }

  test("no registered query plans a Scala UDF") {
    val withUdf = SparkEntry.queries.toSeq.sortBy(_._1).filter { case (_, fn) =>
      val p = fn(spark, "/root/testdata/sf0.001").queryExecution.executedPlan.toString
      spark.catalog.clearCache()
      p.contains("ScalaUDF")
    }.map(_._1)
    assert(withUdf.isEmpty, s"queries planning a ScalaUDF: ${withUdf.mkString(", ")}")
  }

  test("GraftExtensions injects vec_dot into a session at build time") {
    val base = spark // ensure the shared context exists first
    org.apache.spark.sql.SparkSession.clearActiveSession()
    org.apache.spark.sql.SparkSession.clearDefaultSession()
    // getOrCreate reuses the JVM's SparkContext but builds a NEW session
    // with the extensions applied — the spark.sql.extensions deployment path
    val s2 = org.apache.spark.sql.SparkSession.builder()
      .master("local[2]")
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
    try {
      assert(s2 ne base)
      val r = s2.sql(
        "select vec_dot(array(cast(1.0 as float), cast(2.0 as float)), " +
          "array(cast(3.0 as float), cast(4.0 as float))) as d").head().getDouble(0)
      assert(math.abs(r - 11.0) < 1e-9)
    } finally {
      org.apache.spark.sql.SparkSession.setDefaultSession(base)
      org.apache.spark.sql.SparkSession.setActiveSession(base)
    }
  }

  test("char-bigram cross-entropy ranks in-distribution text below garbage and handles short texts") {
    import spark.implicits._
    // 20 docs sharing a repetitive in-distribution phrase, one random-noise
    // doc, one single-char doc (no bigrams → score 0)
    val normal = (0 until 20).map(i => (i.toLong, "患者出现发热症状 患者出现咳嗽症状"))
    val noise = Seq((97L, "q7#zK!m9@xW2$vB8&nR4*pT6"))
    val short = Seq((98L, "x"))
    val df = (normal ++ noise ++ short).toDF("doc_id", "text")
    val scores = graft.ops.TextAnalysis.charBigramCrossEntropy(df)
      .as[(Long, Double)].collect().toMap
    assert(scores(98L) == 0.0)
    assert(scores(0L) < scores(97L), s"in-distribution ${scores(0L)} should score below noise ${scores(97L)}")
    assert(scores.values.forall(v => v >= 0.0 && !v.isNaN))
  }

  test("cleanEntityNameCol column chain is equivalent to the scala reference implementation") {
    import spark.implicits._
    // adversarial cases + seeded random strings over a mixed alphabet
    val alphabet = "胃癌 肺#炎\tA b1.,;:?!(){}[]-+=/\\%@#$&*_，。；：？！（）【】｛｝☆α 　##<>《》"
    val cases = Seq("", " ", "  胃 癌  ", "a##b", "α胃β", " x ") ++
      (0 until 300).map { i =>
        val h = Hashing.hash2(17, i)
        val len = Hashing.pick(Hashing.mix64(h), 12)
        (0 until len).map(k => alphabet(Hashing.pick(Hashing.mix64(h + k), alphabet.length))).mkString
      }
    val df = cases.toDF("s")
    val got = df.select(Registry.cleanEntityNameCol(col("s"))).collect().map(_.getString(0))
    val want = cases.map(Bio.cleanEntityName)
    got.zip(want).zip(cases).foreach { case ((g, w), in) =>
      assert(g == w, s"mismatch for input ${in.map(c => f"\\u${c.toInt}%04x").mkString}")
    }
  }

  test("decode_bio is callable from SQL") {
    Registry.registerAll(spark)
    val rows = spark.sql(
      "select decode_bio(array('胃','癌','好'), array('B-Diseases','I-Diseases','O')) as ents")
      .selectExpr("explode(ents) as e").select("e._1", "e._2", "e._3", "e._4").collect()
    assert(rows.length == 1)
    assert(rows.head.getString(0) == "Diseases" && rows.head.getString(1) == "胃癌")
  }

  test("stripBioPrefixCol projects labels like label[2:]") {
    import spark.implicits._
    val got = Seq("B-Drug", "I-Anatomical", "O").toDF("t")
      .select(Registry.stripBioPrefixCol(col("t"))).collect().map(_.getString(0))
    assert(got.toSeq == Seq("Drug", "Anatomical", "O"))
  }

  test("json dict scan loads the reference dictionaries") {
    assume(new java.io.File("/root/reference/data/synonym_dict.json").isFile)
    val syn = Dicts.loadJsonDict(spark, "/root/reference/data/synonym_dict.json")
    assert(syn.contains("医院") && syn("医院").contains("诊所"))
    val ent = Dicts.loadJsonDict(spark, "/root/reference/data/entity_dict.json")
    assert(ent.contains("Disease") && ent("Disease").nonEmpty)
  }

  test("raw text scan keeps non-blank lines in order") {
    val p = java.nio.file.Files.createTempFile("raw", ".txt")
    java.nio.file.Files.writeString(p, "第一句\n\n  \n第二句\n第三句\n")
    val got = BioCorpus.readRawText(spark, p.toString).collect().sortBy(_.doc_id).map(_.text)
    assert(got.toSeq == Seq("第一句", "第二句", "第三句"))
  }

  test("classification report adds micro/macro/weighted rows") {
    import spark.implicits._
    val per = Seq(
      graft.core.TypeMetrics("A", 8, 10, 10, 0.8, 0.8, 0.8),
      graft.core.TypeMetrics("B", 3, 10, 5, 0.3, 0.6, 0.4)).toDS()
    val rep = SpanMetrics.report(per)
    val byName = rep.map(r => r.entity_type -> r).toMap
    assert(math.abs(byName("macro avg").precision - 0.55) < 1e-9)
    assert(math.abs(byName("weighted avg").recall - (0.8 * 10 + 0.6 * 5) / 15) < 1e-9)
    assert(math.abs(byName("micro avg").precision - 11.0 / 20) < 1e-9)
  }

  test("confusion matrix counts stripped-type token pairs") {
    import spark.implicits._
    val gold = Seq(TaggedSentence("s0", 0, Seq("胃", "癌", "好"),
      Seq("B-Diseases", "I-Diseases", "O"))).toDS()
    val pred = Seq(TaggedSentence("s0", 0, Seq("胃", "癌", "好"),
      Seq("B-Diseases", "O", "O"))).toDS()
    val cm = SpanMetrics.confusion(ReferenceEval.tokenPairs(gold, pred)).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(cm == Set(("Diseases", "Diseases", 1L), ("Diseases", "O", 1L), ("O", "O", 1L)))
  }

  test("prediction dump has the reference's record shape") {
    import spark.implicits._
    val gold = Seq(TaggedSentence("s0", 0, Seq("胃", "癌"), Seq("B-Diseases", "I-Diseases"))).toDS()
    val pred = Seq(TaggedSentence("s0", 0, Seq("胃", "癌"), Seq("B-Diseases", "O"))).toDS()
    val row = ReferenceEval.predictionDump(gold, pred).collect().head
    assert(row.getAs[String]("id") == "s0")
    assert(row.getAs[scala.collection.Seq[String]]("words").toSeq == Seq("胃", "癌"))
    assert(row.getAs[scala.collection.Seq[String]]("pred_labels").toSeq == Seq("B-Diseases", "O"))
  }
}
