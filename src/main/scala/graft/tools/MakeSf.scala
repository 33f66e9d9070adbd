package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic scale-up of a testdata SF dir: each table becomes
  * `factor` key-remapped copies of the source (offset `c * 10^8` per
  * copy — far above any source key), so FK joins stay consistent and
  * row counts scale exactly ×factor while the tiny dims (region,
  * nation) keep their fixed TPC-H cardinality.
  *
  * Texts are salted per copy (` cpy<c>` token) and embeddings perturbed
  * with hash noise so the dedup/ANN operators face a corpus with the
  * same near-dup/cluster SHAPE as the source, not a degenerate one
  * where every doc belongs to a factor-sized exact-duplicate clique.
  *
  * Usage: runMain graft.tools.MakeSf <srcSfDir> <outDir> <factor>
  * (name the outDir `.../sf1` so Fixtures.synthDocs scales the KG
  * corpus accordingly). The round's stress evidence (BASELINE.md §sf1)
  * is produced by pointing Bench at the result.
  */
object MakeSf {

  val KeyOffset = 100000000L

  def main(args: Array[String]): Unit = {
    val Array(src, out, factorStr) = args
    val factor = factorStr.toInt
    val spark = Tools.session(s"local[${Tools.cores}]", Tools.cores)

    def copies(df: DataFrame)(remap: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until factor).map(c => remap(df, c)).reduce(_.unionByName(_))

    def shiftKeys(keys: String*)(df: DataFrame, c: Int): DataFrame =
      keys.foldLeft(df)((d, k) => d.withColumn(k, col(k) + lit(c * KeyOffset)))

    def write(df: DataFrame, name: String, parts: Int): Unit =
      df.repartition(parts).write.mode("overwrite")
        .parquet(s"$out/$name.parquet")

    def t(name: String): DataFrame = spark.read.parquet(s"$src/$name.parquet")

    // fixed-cardinality dims: verbatim
    write(t("region"), "region", 1)
    write(t("nation"), "nation", 1)

    write(copies(t("customer"))(shiftKeys("c_custkey")), "customer", 2)
    write(copies(t("supplier"))(shiftKeys("s_suppkey")), "supplier", 1)
    write(copies(t("part"))(shiftKeys("p_partkey")), "part", 2)
    write(copies(t("orders"))(shiftKeys("o_orderkey", "o_custkey")), "orders", 4)
    write(copies(t("lineitem"))(shiftKeys("l_orderkey", "l_partkey", "l_suppkey")),
      "lineitem", 8)
    write(copies(t("events"))(shiftKeys("event_id", "user_id")), "events", 4)

    write(copies(t("documents")) { (df, c) =>
      val shifted = shiftKeys("doc_id")(df, c)
      if (c == 0) shifted
      else shifted
        .withColumn("text", concat(col("text"), lit(s" cpy$c")))
        // keep the table self-consistent: n_chars must describe the
        // salted text the operators actually process
        .withColumn("n_chars", length(col("text")).cast("long"))
    }, "documents", 4)

    write(copies(t("embeddings")) { (df, c) =>
      val shifted = shiftKeys("vec_id")(df, c)
      if (c == 0) shifted
      else shifted.withColumn(
        "embedding",
        expr(s"transform(embedding, (x, i) -> cast(x + (pmod(hash(vec_id, i, $c), 1000) - 500) / 50000.0 as float))"))
    }, "embeddings", 2)

    val counts = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
      .map(n => s"$n=${spark.read.parquet(s"$out/$n.parquet").count()}")
    println(s"[makesf] wrote $out factor=$factor: ${counts.mkString(" ")}")
    spark.stop()
  }
}
