package graft.tools

import graft.data.{DocsGen, Lexicon}
import graft.pipeline.KgPipeline

/** Skew-robustness evidence (r2 VERDICT next-step #8): the full KG
  * pipeline over a UNIFORM corpus vs a deliberately SKEWED corpus (one
  * hub surface forced into `hubFrac` ≈ 30% of documents — the "common
  * disease in millions of docs" scenario the salted CC min, bounded
  * assembly, and AQE skew-join exist for), timed at the same core count
  * with interleaved runs so shared-host noise hits both inputs equally.
  *
  * The skew *correctness* paths already have tests (20k-leaf star CC);
  * this adds the timed claim: skewed-input throughput within ~1.5× of
  * uniform. Prints one JSON line with both walls and the ratio.
  *
  * Usage: sbt "runMain graft.tools.SkewBench [nDocs] [runs] [cores] [hubFrac]"
  * (defaults 1000000, 3, SPARK_GRAFT_CPUS or the host's cores, 0.3)
  */
object SkewBench {

  def main(args: Array[String]): Unit = {
    val nDocs = if (args.length > 0) args(0).toLong else 1000000L
    val runs = if (args.length > 1) args(1).toInt else 3
    val cpus = if (args.length > 2) args(2).toInt else Tools.cores
    val hubFrac = if (args.length > 3) args(3).toDouble else 0.3

    val spark = Tools.session(s"local[$cpus]", cpus * 2)
    import spark.implicits._

    val variants = Seq(
      "uniform" -> 0.0,
      "skewed" -> hubFrac)

    // stage both corpora once (untimed), same doc count and seed — the
    // ONLY difference is the forced hub surface
    val staged = variants.map { case (name, frac) =>
      val path = s"/dev/shm/graft/skew_${name}_$nDocs"
      if (!new java.io.File(s"$path/_SUCCESS").exists()) {
        DocsGen.docs(DocsGen.gen(spark, nDocs, seed = 42L, partitions = 64, hubFrac = frac))
          .write.mode("overwrite").parquet(path)
      }
      name -> path
    }.toMap

    val lex = Lexicon.fromSurfaces(DocsGen.vocabEntries.toDS()).cache()
    lex.count()

    // per-stage task-time skew (max/median task time per stage): the
    // listener-level evidence that no hub key concentrates work on one
    // task. Each run has its own job group, so late events cannot cross runs.
    val listener = new StageListener(spark.sparkContext)

    def once(path: String, group: String): (Long, Double) = listener.inGroup(group) {
      val docs = spark.read.parquet(path).as[graft.core.Doc]
      val t0 = System.nanoTime()
      val (triples, cleanup) = KgPipeline.runWithCleanup(docs, lex, numPartitions = cpus * 2)
      val n = triples.count()
      val wall = (System.nanoTime() - t0) / 1e9
      cleanup()
      (n, wall)
    }

    // one untimed warm-up per variant, then interleaved timed runs
    variants.foreach { case (name, _) => once(staged(name), s"warm-$name") }
    val walls = scala.collection.mutable.Map(variants.map(_._1 -> Vector.empty[Double]): _*)
    val groups = scala.collection.mutable.Map(variants.map(_._1 -> Vector.empty[String]): _*)
    val counts = scala.collection.mutable.Map.empty[String, Long]
    for (i <- 0 until runs; (name, _) <- variants) {
      val g = s"run-$name-$i"
      val (n, w) = once(staged(name), g)
      counts(name) = n
      walls(name) = walls(name) :+ w
      groups(name) = groups(name) :+ g
    }
    val skews = groups.map { case (name, gs) => name -> gs.map(listener.stats(_).taskSkew) }
    import Tools.median
    def fmt(xs: Vector[Double]): String = Tools.json(xs)
    val mu = median(walls("uniform"))
    val ms = median(walls("skewed"))
    // normalize by triples produced: the skewed corpus yields a different
    // triple count (hub docs repeat one subject), so compare THROUGHPUT
    val tu = counts("uniform") / mu
    val ts = counts("skewed") / ms
    println(
      f"""{"bench":"skew","docs":$nDocs,"hub_frac":$hubFrac,"cores":$cpus,"runs":$runs,"wall_uniform":${fmt(walls("uniform"))},"wall_skewed":${fmt(walls("skewed"))},"median_uniform_sec":$mu%.2f,"median_skewed_sec":$ms%.2f,"triples_uniform":${counts("uniform")},"triples_skewed":${counts("skewed")},"triples_per_sec_uniform":$tu%.1f,"triples_per_sec_skewed":$ts%.1f,"wall_ratio_skewed_over_uniform":${ms / mu}%.3f,"throughput_ratio_uniform_over_skewed":${tu / ts}%.3f,"task_skew_max_over_median_uniform":${fmt(skews("uniform"))},"task_skew_max_over_median_skewed":${fmt(skews("skewed"))}}""")
    spark.stop()
  }
}
