package graft

import graft.functions.{MinHashSig, ShingleHashes}
import graft.ops.{BoundedCollect, Dedup}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanExec, QueryStageExec, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.exchange.REPARTITION_BY_NUM
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

/** The posting layer of the banding dedup operators: the bounded-collect
  * aggregate's overflow semantics when a group's members are split over
  * partitions, `ngramJaccardPairs` against a brute-force Jaccard, and the
  * shape of the posting plan (each kernel evaluated once; the pair stage
  * at full width, never coalesced).
  */
class DedupPostingSpec extends AnyFunSuite {
  lazy val spark = SparkTest.spark

  private val memberSchema = StructType(Seq(
    StructField("id", LongType), StructField("p", StringType)))

  private type Member = (String, java.lang.Long, String)

  /** (k, id, p) rows as a non-local frame, one partition per element of `parts`. */
  private def partitioned(parts: Seq[Seq[Member]]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(parts, parts.size)
        .flatMap(_.map { case (k, id, p) => Row(k, id, p) }),
      StructType(StructField("k", StringType) +: memberSchema.fields.toSeq))

  /** `rows` split over `parts` partitions in order. */
  private def frame(rows: Seq[Member], parts: Int): DataFrame =
    partitioned(rows.grouped(math.max(1, (rows.size + parts - 1) / parts)).toSeq.padTo(parts, Nil))

  /** key → (over, members) of a bounded collect by `k`. */
  private def postings(df: DataFrame, cap: Int): Map[String, (Boolean, Set[(java.lang.Long, String)])] =
    df.groupBy("k")
      .agg(BoundedCollect.agg(cap, memberSchema)(col("id"), col("p")).as("b"))
      .select(col("k"), col("b.over"), col("b.items"))
      .collect()
      .map(r => r.getString(0) -> (r.getBoolean(1),
        r.getSeq[Row](2).map(m => (if (m.isNullAt(0)) null else java.lang.Long.valueOf(m.getLong(0)), m.getString(1))).toSet))
      .toMap

  test("bounded collect: a key under the cap in every partition but over it in total overflows") {
    // "a": 2 members in each of 3 partitions (6 > cap 4); "b": 4 members
    // spread over the partitions (exactly the cap); "c": 5 in one partition
    val parts: Seq[Seq[Member]] = (0 until 3).map { part =>
      Seq[Member](("a", part * 10L, "x"), ("a", part * 10L + 1, "y")) ++
        (if (part < 2) Seq[Member](("b", 100L + part, "b0"), ("b", 200L + part, "b1")) else Nil) ++
        (if (part == 2) (0 until 5).map(i => ("c", Long.box(300L + i), "c")) else Nil)
    }
    val df = partitioned(parts)
    assert(df.rdd.glom().collect().forall(p => p.count(_.getString(0) == "a") == 2))
    val got = postings(df, 4)
    assert(got("a") == ((true, Set.empty)), "over-cap total must overflow and clear its members")
    assert(got("b")._1 == false)
    assert(got("b")._2 == parts.flatten.filter(_._1 == "b").map(r => (r._2, r._3)).toSet,
      "an at-cap group must be complete")
    assert(got("c") == ((true, Set.empty)))
    // one more member for "b" in any partition tips it over
    assert(postings(partitioned(parts.updated(2, parts(2) :+ (("b", Long.box(999L), "b2")))), 4)("b") ==
      ((true, Set.empty)))
  }

  test("bounded collect: null payload fields are kept as members") {
    val rows = Seq[Member](("n", null, "p0"), ("n", 1L, null), ("n", null, null))
    val got = postings(frame(rows, 2), 3)
    assert(got("n") == ((false, rows.map(r => (r._2, r._3)).toSet)))
    assert(postings(frame(rows, 2), 2)("n") == ((true, Set.empty)))
  }

  test("bounded collect: many groups per partition (the sort-based fallback) match a plain count") {
    // well past the object-hash aggregate's 128-key fallback threshold
    val rnd = new scala.util.Random(7)
    val rows = (0 until 3000).map(i => (s"k${rnd.nextInt(600)}", Long.box(i.toLong), s"v$i"))
    val got = postings(frame(rows, 3), 5)
    val expected = rows.groupBy(_._1).map { case (k, ms) =>
      k -> (if (ms.size > 5) (true, Set.empty[(java.lang.Long, String)]) else (false, ms.map(m => (m._2, m._3)).toSet))
    }
    assert(got == expected)
  }

  test("BoundedCollect.collect on a multi-partition input: all rows at the cap, None one row over it") {
    def input(n: Int) = frame((0 until n).map(i => ("k", Long.box(i.toLong), s"p$i")), 3).select("id", "p")
    assert(!BoundedCollect.isLocal(input(6)))
    val atCap = BoundedCollect.collect(input(6), 6)
    assert(atCap.map(_.map(r => (r.getLong(0), r.getString(1))).toSet)
      .contains((0 until 6).map(i => (i.toLong, s"p$i")).toSet))
    assert(BoundedCollect.collect(input(7), 6).isEmpty)
  }

  test("BoundedCollect.collect and a bounded posting of an empty input") {
    val empty = frame(Nil, 3)
    assert(BoundedCollect.collect(empty.select("id", "p"), 4).contains(Seq.empty))
    assert(postings(empty, 4).isEmpty)
  }

  /** Words are lowercased and split on whitespace; w-word windows, or the
    * whole text when it has fewer than w words.
    */
  private def shingleSet(text: String, w: Int): Set[String] = {
    val toks = Option(text).getOrElse("").toLowerCase.split("\\s+").filter(_.nonEmpty)
    if (toks.isEmpty) Set.empty
    else if (toks.length < w) Set(toks.mkString(" "))
    else toks.sliding(w).map(_.mkString(" ")).toSet
  }

  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** All pairs by the definition: shared non-hub shingles over the union. */
  private def bruteForceJaccard(
      docs: Seq[(Long, String)], w: Int, threshold: Double, maxDf: Int): Set[(Long, Long, Double)] = {
    val sets = docs.map { case (id, t) => id -> shingleSet(t, w) }
    val df = sets.flatMap(_._2.toSeq).groupBy(identity).map { case (s, xs) => s -> xs.size }
    (for {
      (a, sa) <- sets; (b, sb) <- sets if a < b
      shared = (sa intersect sb).count(df(_) <= maxDf) if shared > 0
      j = round6(shared.toDouble / (sa.size + sb.size - shared)) if j >= threshold
    } yield (a, b, j)).toSet
  }

  private val nearDupDocs: Seq[(Long, String)] = Seq(
    1L -> "the patient was given aspirin for the headache",
    2L -> "the patient was given aspirin for the fever",
    3L -> "The Patient was given ibuprofen for the headache",
    4L -> "completely unrelated words about the weather today",
    5L -> "unrelated words about the weather tomorrow",
    6L -> "",
    7L -> null,
    8L -> "short text",
    9L -> "short text",
    // "hub shingle here" is in 5 docs: over maxDf = 3, it shares nothing
    10L -> "hub shingle here alpha beta",
    11L -> "hub shingle here gamma delta",
    12L -> "hub shingle here epsilon zeta",
    13L -> "hub shingle here alpha beta gamma",
    14L -> "hub shingle here")

  private def docsFrame(docs: Seq[(Long, String)], parts: Int): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(docs.map { case (id, t) => Row(id, t) }, parts),
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))))

  test("ngramJaccardPairs equals a brute-force Jaccard with the hub cut") {
    val docs = docsFrame(nearDupDocs, 3)
    Seq((3, 0.2, 3), (2, 0.3, 3), (3, 0.0, 1000), (1, 0.5, 2)).foreach { case (w, threshold, maxDf) =>
      val got = Dedup.ngramJaccardPairs(docs, "text", "doc_id", w = w, threshold = threshold, maxDf = maxDf)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val expected = bruteForceJaccard(nearDupDocs, w, threshold, maxDf)
      assert(got == expected, s"w=$w threshold=$threshold maxDf=$maxDf")
      assert(expected.nonEmpty)
    }
    // the hub cut bites: pairs that share only the hub shingle vanish
    val withHub = bruteForceJaccard(nearDupDocs, 3, 0.0, 1000)
    val cut = bruteForceJaccard(nearDupDocs, 3, 0.0, 3)
    assert(withHub.exists(p => p._1 == 11L && p._2 == 12L) && !cut.exists(p => p._1 == 11L && p._2 == 12L))
  }

  /** Every node of a physical plan, through adaptive wrappers and stages. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => s +: nodes(s.plan)
    case other => other +: other.children.flatMap(nodes)
  }

  /** A parquet-backed copy: a local relation would fold the kernels away. */
  private def parquetDocs(): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("dedup_posting").toString
    docsFrame(nearDupDocs, 3).write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  test("each dedup kernel is evaluated once per doc in the executed plan") {
    val docs = parquetDocs()
    def kernels(df: DataFrame)(pf: PartialFunction[org.apache.spark.sql.catalyst.expressions.Expression, Unit]) =
      nodes(df.queryExecution.executedPlan).flatMap(_.expressions.flatMap(_.collect(pf))).size
    val ngram = Dedup.ngramJaccardPairs(docs, "text", "doc_id", threshold = 0.2)
    assert(kernels(ngram) { case _: ShingleHashes => () } == 1, ngram.queryExecution.executedPlan.toString)
    val minhash = Dedup.minhashPairs(docs, "text", "doc_id", threshold = 0.2)
    assert(kernels(minhash) { case _: MinHashSig => () } == 1, minhash.queryExecution.executedPlan.toString)
  }

  test("the posting exchange keeps the session width: the pair stage is never coalesced") {
    val docs = parquetDocs()
    val width = graft.core.Parallelism.width(spark)
    assert(width > 1)
    Seq(
      "ngram" -> Dedup.ngramJaccardPairs(docs, "text", "doc_id", threshold = 0.2),
      "minhash" -> Dedup.minhashPairs(docs, "text", "doc_id", threshold = 0.2)).foreach { case (name, df) =>
      assert(df.collect().nonEmpty)
      val all = nodes(df.queryExecution.executedPlan)
      val posting = all.collect { case s: ShuffleQueryStageExec if s.shuffle.shuffleOrigin == REPARTITION_BY_NUM => s }
      assert(posting.size == 1, s"$name: no explicit-width posting exchange in\n${df.queryExecution.executedPlan}")
      assert(posting.head.shuffle.numPartitions == width, name)
      assert(!all.exists {
        case r: AQEShuffleReadExec => r.child eq posting.head
        case _ => false
      }, s"$name: the posting stage was re-read through AQE:\n${df.queryExecution.executedPlan}")
    }
  }
}
