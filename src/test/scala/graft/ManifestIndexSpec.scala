package graft

import java.util.concurrent.atomic.AtomicLong

import graft.tables.Icebergish
import org.apache.hadoop.fs.{FileStatus, LocalFileSystem, LocatedFileStatus, Path, PathFilter, RemoteIterator}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The local filesystem, counting the directory listings and globs it
  * serves under a table's `data/` directory.
  */
class ListingCountingFs extends LocalFileSystem {
  private def note(p: Path): Unit =
    if (p.toUri.getPath.contains("/data/")) ListingCountingFs.listings.incrementAndGet()
  override def listStatus(p: Path): Array[FileStatus] = { note(p); super.listStatus(p) }
  override def listStatus(p: Path, filter: PathFilter): Array[FileStatus] = { note(p); super.listStatus(p, filter) }
  override def listLocatedStatus(p: Path): RemoteIterator[LocatedFileStatus] = { note(p); super.listLocatedStatus(p) }
  override def listStatusIterator(p: Path): RemoteIterator[FileStatus] = { note(p); super.listStatusIterator(p) }
  override def listFiles(p: Path, recursive: Boolean): RemoteIterator[LocatedFileStatus] = {
    note(p); super.listFiles(p, recursive)
  }
  override def globStatus(p: Path): Array[FileStatus] = { note(p); super.globStatus(p) }
  override def globStatus(p: Path, filter: PathFilter): Array[FileStatus] = { note(p); super.globStatus(p, filter) }
}

object ListingCountingFs {
  val listings = new AtomicLong(0L)
}

/** A table read is one scan whose file index is built from the manifests:
  * no listing of the table's data, partition and zone-map pruning inside
  * the scan, and the union of the snapshots' schemas.
  */
class ManifestIndexSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  lazy val spark = SparkTest.spark

  private def tmpRoot(): String =
    java.nio.file.Files.createTempDirectory("iceb_index").toString

  private val preds = Seq("treats", "causes", "has_symptom")

  private def triples(n: Int, seed: Int): DataFrame = {
    import spark.implicits._
    (0 until n).map(i => (s"s${(i + seed) % 37}", preds((i + seed) % 3), s"o${i % 11}", i.toLong + seed * 1000L))
      .toDF("subj", "pred", "obj", "k").repartition(2)
  }

  private def scans(df: DataFrame): Seq[FileSourceScanExec] =
    collect(df.queryExecution.executedPlan) { case s: FileSourceScanExec => s }

  /** Files the one scan of `df` read, by its `numFiles` metric. */
  private def filesScanned(df: DataFrame): Long = {
    df.collect()
    val Seq(scan) = scans(df)
    scan.metrics("numFiles").value
  }

  test("a 30-snapshot partitioned table reads through one scan of the manifest index, listing nothing") {
    val root = tmpRoot()
    (0 until 30).foreach(i => Icebergish.commit(triples(30, seed = i), root, "append", Seq("pred")))
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.file.impl", classOf[ListingCountingFs].getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
    val before = ListingCountingFs.listings.get()
    val (df, n) =
      try { val df = Icebergish.read(spark, root); (df, df.count()) }
      finally { conf.unset("fs.file.impl"); conf.unset("fs.file.impl.disable.cache") }
    assert(ListingCountingFs.listings.get() - before == 0, "the read listed or globbed the table's data")
    assert(n == 900)
    val all = scans(df)
    assert(all.size == 1, s"${all.size} scans")
    assert(all.head.relation.location.isInstanceOf[Icebergish.ManifestIndex], all.head.relation.location)
    assert(filesScanned(Icebergish.read(spark, root)) ==
      Icebergish.fileSet(spark, root, Icebergish.currentSnapshotId(spark, root).get).size)
  }

  test("a filter on the partition column scans only that partition's files") {
    val root = tmpRoot()
    (0 until 6).foreach(i => Icebergish.commit(triples(60, seed = i), root, "append", Seq("pred")))
    val id = Icebergish.currentSnapshotId(spark, root).get
    val files = Icebergish.fileSet(spark, root, id)
    preds.foreach { p =>
      val df = Icebergish.read(spark, root).filter(col("pred") === p)
      val want = files.count(_.contains(s"/pred=$p/"))
      assert(want > 0 && want < files.size)
      assert(filesScanned(df) == want, p)
      assert(df.count() == 6 * 20 && df.filter(col("pred") =!= p).isEmpty, p)
    }
  }

  test("a filter on a zone-mapped column scans exactly the files pruneFiles keeps") {
    import spark.implicits._
    val root = tmpRoot()
    (0 until 4).foreach { c =>
      Icebergish.commit((c * 100 until (c + 1) * 100).map(k => (k.toLong, s"n$k")).toDF("k", "name").repartition(2),
        root, statsColumns = Seq("k"))
    }
    Seq(col("k") >= 250L, col("k") === 42L, col("k") < 0L, col("k").isin(5L, 305L), length(col("name")) > 2)
      .foreach { pred =>
        val (kept, skipped) = Icebergish.pruneFiles(spark, root, pred)
        assert(kept.size + skipped.size == 8)
        val df = Icebergish.read(spark, root).filter(pred)
        assert(filesScanned(df) == kept.size, s"$pred: kept $kept")
        assert(df.count() == Icebergish.read(spark, root).localCheckpoint().filter(pred).count(), pred)
      }
    assert(Icebergish.pruneFiles(spark, root, col("k") >= 250L)._2.size >= 4)
  }

  test("a column added in a later snapshot reads as null for the earlier files") {
    import spark.implicits._
    val root = tmpRoot()
    Icebergish.commit(Seq((1L, "treats"), (2L, "causes")).toDF("k", "pred"), root, "append", Seq("pred"))
    Icebergish.commit(Seq((3L, "treats", "x")).toDF("k", "pred", "note"), root, "append", Seq("pred"))
    val df = Icebergish.read(spark, root)
    assert(scans(df).size == 1)
    assert(df.columns.toSeq == Seq("k", "note", "pred"))
    assert(df.select("k", "pred", "note").as[(Long, String, String)].collect().toSet ==
      Set((1L, "treats", null), (2L, "causes", null), (3L, "treats", "x")))
  }
}
