package graft

import graft.tables.Icebergish
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** File-level column statistics + manifest data skipping (r4 VERDICT
  * next-step #3): commits record per-file min/max zone maps for chosen
  * columns; a filtered [[Icebergish.read]] refutes files on the driver,
  * in the scan's own file listing, before Spark ever schedules them,
  * with conservative keep everywhere the bounds cannot prove absence.
  */
class IcebergStatsSpec extends AnyFunSuite {
  lazy val spark = SparkTest.spark

  private def tmpRoot(): String =
    java.nio.file.Files.createTempDirectory("iceb_stats").toString

  /** The table filtered after a full scan: no file pruning applies to a
    * local checkpoint, so this is the answer pruning must reproduce.
    */
  private def scanned(root: String, pred: org.apache.spark.sql.Column) =
    Icebergish.read(spark, root).localCheckpoint().filter(pred)

  private def commitRange(root: String, lo: Int, hi: Int, parts: Int = 2): Long = {
    import spark.implicits._
    val df = (lo until hi).map(k => (k.toLong, s"name-%04d".format(k), k * 1.5))
      .toDF("k", "name", "score").repartition(parts)
    Icebergish.commit(df, root, statsColumns = Seq("k", "name", "score"))
  }

  test("chronological appends: a range predicate skips every non-matching file") {
    val root = tmpRoot()
    commitRange(root, 0, 100)
    commitRange(root, 100, 200)
    commitRange(root, 200, 300)
    commitRange(root, 300, 400)

    val (kept, skipped) = Icebergish.pruneFiles(spark, root, col("k") >= 250L)
    assert(skipped.nonEmpty, "no files skipped for a selective range predicate")
    // commits 0-100, 100-200 contribute only skippable files (4 files);
    // 200-300 may straddle 250 per file split, 300-400 fully kept
    assert(skipped.size >= 4, s"expected >=4 skipped files, got ${skipped.size}: $skipped")

    val viaPrune = Icebergish.read(spark, root).filter(col("k") >= 250L)
      .select("k").as[Long](org.apache.spark.sql.Encoders.scalaLong).collect().sorted
    val viaScan = scanned(root, col("k") >= 250L)
      .select("k").as[Long](org.apache.spark.sql.Encoders.scalaLong).collect().sorted
    assert(viaPrune.toSeq == viaScan.toSeq)
    assert(viaPrune.length == 150)
  }

  test("equality, string, double, flipped-literal, and boolean-combination predicates prune correctly") {
    val root = tmpRoot()
    commitRange(root, 0, 100)
    commitRange(root, 100, 200)

    def check(pred: org.apache.spark.sql.Column, expectSkip: Boolean): Unit = {
      val (_, skipped) = Icebergish.pruneFiles(spark, root, pred)
      assert(skipped.nonEmpty == expectSkip, s"pred=$pred skipped=$skipped")
      val a = Icebergish.read(spark, root).filter(pred).count()
      val b = scanned(root, pred).count()
      assert(a == b, s"pred=$pred pruned=$a scanned=$b")
    }
    check(col("k") === 150L, expectSkip = true)
    check(lit(150L) <= col("k"), expectSkip = true) // literal on the left
    check(col("name") < "name-0050", expectSkip = true) // string bounds
    check(col("score") > lit(250.0), expectSkip = true) // double bounds
    check(col("k") >= 100L && col("k") < 150L, expectSkip = true)
    // OR keeps a file if EITHER side may match
    check(col("k") < 50L || col("k") >= 150L, expectSkip = false)
    check(col("k") === 9999L, expectSkip = true) // out of all ranges: everything skipped
    assert(Icebergish.read(spark, root).filter(col("k") === 9999L).count() == 0L)
  }

  test("conservative keeps: stat-less commits, unknown columns, unsupported shapes") {
    import spark.implicits._
    val root = tmpRoot()
    commitRange(root, 0, 100)
    // a commit WITHOUT stats: its files must always be kept
    Icebergish.commit(
      (500 until 510).map(k => (k.toLong, s"name-%04d".format(k), k * 1.5))
        .toDF("k", "name", "score"), root)

    val (kept, skipped) = Icebergish.pruneFiles(spark, root, col("k") >= 400L)
    assert(kept.nonEmpty, "stat-less files must survive pruning")
    assert(skipped.size == 2, s"the stats-bearing commit's files should skip: $skipped")
    assert(Icebergish.read(spark, root).filter(col("k") >= 400L).count() == 10L)

    // unknown column / non-comparison predicate → no pruning, same answer
    val p2 = length(col("name")) > 3 // function shape: evaluator must keep all
    assert(Icebergish.pruneFiles(spark, root, p2)._2.isEmpty)
    assert(Icebergish.read(spark, root).filter(p2).count() ==
      scanned(root, p2).count())
    // NOT is not pushed through (conservative)
    val p3 = !(col("k") < 50L)
    assert(Icebergish.pruneFiles(spark, root, p3)._2.isEmpty)
    assert(Icebergish.read(spark, root).filter(p3).count() ==
      scanned(root, p3).count())
  }

  test("all-null stat column never prunes; replace-mode removals respected") {
    import spark.implicits._
    val root = tmpRoot()
    val df = Seq((null.asInstanceOf[java.lang.Long], "x"), (null.asInstanceOf[java.lang.Long], "y"))
      .toDF("k", "name")
    Icebergish.commit(df, root, statsColumns = Seq("k"))
    // bounds are absent for the all-null column → file kept, filter applies
    assert(Icebergish.pruneFiles(spark, root, col("k") > 0L)._2.isEmpty)
    assert(Icebergish.read(spark, root).filter(col("k") > 0L).count() == 0L)
  }

  test("IN predicates prune as an OR of equalities over the bounds") {
    val root = tmpRoot()
    commitRange(root, 0, 100)
    commitRange(root, 100, 200)
    commitRange(root, 200, 300)
    def check(pred: org.apache.spark.sql.Column): Unit = {
      val a = Icebergish.read(spark, root).filter(pred).count()
      val b = scanned(root, pred).count()
      assert(a == b, s"pred=$pred pruned=$a scanned=$b")
    }
    // members in two of three commits: the third refutes and skips
    val p1 = col("k").isin(50L, 250L)
    assert(Icebergish.pruneFiles(spark, root, p1)._2.nonEmpty, "IN did not prune")
    check(p1)
    // no member in any range: everything skips
    val p2 = col("k").isin(900L, 950L)
    assert(Icebergish.read(spark, root).filter(p2).count() == 0L)
    assert(Icebergish.pruneFiles(spark, root, p2)._1.isEmpty, "all files should refute")
    // combined with a comparison
    check(col("k").isin(50L, 150L, 250L) && col("k") >= 100L)
  }

  test("string bounds compare in UTF-8 binary order (supplementary chars never mis-prune)") {
    import spark.implicits._
    val root = tmpRoot()
    // U+1F600 sorts ABOVE U+FFFF in UTF-8 binary (Spark's min/max order)
    // but BELOW it in UTF-16 code-unit order — a java String.compareTo
    // evaluator would see max < "￿" and wrongly prune the file
    val smiley = new String(Character.toChars(0x1F600))
    Icebergish.commit(
      Seq(("￿", 1L), (smiley, 2L)).toDF("s", "v").coalesce(1),
      root, statsColumns = Seq("s"))
    assert(Icebergish.pruneFiles(spark, root, col("s") === "￿")._2.isEmpty,
      "file containing a matching row was pruned (UTF-16 comparison bug)")
    assert(Icebergish.read(spark, root).filter(col("s") === "￿").count() == 1L)
    // and genuine refutation still works above the true (binary) max
    assert(Icebergish.read(spark, root).filter(col("s") > smiley).count() == 0L)
    assert(Icebergish.pruneFiles(spark, root, col("s") > smiley)._2.nonEmpty)
  }

  test("vacuum judges staging age by the NEWEST nested mtime, not the top dir") {
    import spark.implicits._
    val root = tmpRoot()
    Icebergish.commit(Seq((1L, "a")).toDF("k", "v"), root)
    val f = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // simulate a LONG-RUNNING in-flight write: the staged top dir is old
    // (created at job start) but a task file landed recently
    f.mkdirs(new org.apache.hadoop.fs.Path(root, "data/snap-5-longwrite/_temporary"))
    f.create(new org.apache.hadoop.fs.Path(
      root, "data/snap-5-longwrite/_temporary/part-0.parquet"), true).close()
    val old = java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 3600_000L)
    java.nio.file.Files.setLastModifiedTime(
      java.nio.file.Paths.get(root, "data/snap-5-longwrite"), old)
    assert(!Icebergish.vacuum(spark, root).contains("snap-5-longwrite"),
      "in-flight long write swept because only the top dir aged")
    // once EVERYTHING inside has aged past the grace it is a crash leftover
    java.nio.file.Files.setLastModifiedTime(
      java.nio.file.Paths.get(root, "data/snap-5-longwrite/_temporary/part-0.parquet"), old)
    java.nio.file.Files.setLastModifiedTime(
      java.nio.file.Paths.get(root, "data/snap-5-longwrite/_temporary"), old)
    java.nio.file.Files.setLastModifiedTime(
      java.nio.file.Paths.get(root, "data/snap-5-longwrite"), old)
    assert(Icebergish.vacuum(spark, root).contains("snap-5-longwrite"))
  }

  test("time travel + pruning compose") {
    val root = tmpRoot()
    val s1 = commitRange(root, 0, 100)
    commitRange(root, 100, 200)
    val atS1 = Icebergish.read(spark, root, Some(s1)).filter(col("k") >= 50L)
    assert(atS1.count() == 50L)
    val (_, skippedAtS1) = Icebergish.pruneFiles(spark, root, col("k") >= 100L, Some(s1))
    assert(Icebergish.read(spark, root, Some(s1)).filter(col("k") >= 100L).count() == 0L)
    assert(skippedAtS1.size == 2, "both of snapshot 1's files refute k>=100")
  }
}
