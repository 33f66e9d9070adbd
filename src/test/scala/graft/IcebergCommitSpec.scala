package graft

import graft.tables.Icebergish
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** What a commit and a read cost, and what the manifest says: the row
  * count comes from the write (no read-back of the committed files), and
  * a read uses each manifest's recorded schema (no footer-inference job
  * per snapshot). Row counts, file stats and read schemas are pinned
  * against what reading the committed files says. Manifest reads per
  * commit do not grow with the table, and a manifest the reader cannot
  * read fails loudly.
  */
class IcebergCommitSpec extends AnyFunSuite {
  lazy val spark = SparkTest.spark

  private def tmpRoot(): String =
    java.nio.file.Files.createTempDirectory("iceb_commit").toString

  private def triples(n: Int, seed: Int = 0): DataFrame = {
    import spark.implicits._
    (0 until n).map(i => (s"s${(i + seed) % 37}", Seq("treats", "causes", "has_symptom")((i + seed) % 3),
      s"o${i % 11}", i.toLong + seed * 1000L))
      .toDF("subj", "pred", "obj", "k").repartition(4)
  }

  /** Jobs `body` starts, counted under a job group of its own by the dev
    * tools' listener (which drains the listener bus before it reads).
    */
  private def jobsOf(body: => Unit): Int = {
    val l = new graft.tools.StageListener(spark.sparkContext)
    val group = s"iceb-jobs-${java.util.UUID.randomUUID()}"
    try { l.inGroup(group)(body); l.stats(group).jobs }
    finally l.close()
  }

  /** The per-file bounds the committed files hold, read back file by file
    * with schema inference.
    */
  private def boundsOfFiles(root: String, s: Icebergish.Snapshot, cols: Seq[String]): Map[String, Map[String, (Any, Any)]] =
    s.files.flatMap { f =>
      val aggs = count(lit(1)) +: cols.flatMap(c => Seq(min(col(c)), max(col(c))))
      val r = spark.read.parquet(s"$root/$f").agg(aggs.head, aggs.tail: _*).head()
      // an empty file has no bounds, as the commit's per-file aggregate has no row for it
      if (r.getLong(0) == 0) None
      else Some(f -> cols.zipWithIndex.map { case (c, i) => c -> ((r.get(1 + 2 * i), r.get(2 + 2 * i))) }.toMap)
    }.toMap

  test("manifest rows and tag rows equal the rows a read returns, on every commit path") {
    case class Case(name: String, df: DataFrame, partitionBy: Seq[String], stats: Seq[String], expectFiles: Boolean)
    val cases = Seq(
      Case("unpartitioned", triples(300), Nil, Nil, expectFiles = true),
      Case("partitioned by pred", triples(300, seed = 1), Seq("pred"), Nil, expectFiles = true),
      Case("zero-row partitioned", triples(300).limit(0), Seq("pred"), Nil, expectFiles = false),
      Case("statsColumns", triples(300, seed = 2), Nil, Seq("k", "subj"), expectFiles = true),
      Case("statsColumns partitioned", triples(300, seed = 3), Seq("pred"), Seq("k"), expectFiles = true))
    cases.foreach { c =>
      val root = tmpRoot()
      // two commits: the second one's tag roll-up carries the first's rows
      val s0 = Icebergish.commit(c.df, root, "append", c.partitionBy, Some("t0"), c.stats)
      val s1 = Icebergish.commit(c.df, root, "append", c.partitionBy, Some("t1"), c.stats)
      val m0 = Icebergish.readManifest(spark, root, s0)
      val m1 = Icebergish.readManifest(spark, root, s1)
      val expected = c.df.count()
      assert(m0.files.nonEmpty == c.expectFiles, s"${c.name}: files ${m0.files}")
      assert(m0.rows == expected && m1.rows == expected, s"${c.name}: rows ${m0.rows}/${m1.rows} vs $expected")
      assert(Icebergish.read(spark, root, Some(s0)).count() == m0.rows, c.name)
      if (c.expectFiles) {
        val read = Icebergish.read(spark, root)
        assert(read.count() == m0.rows + m1.rows, c.name)
        // the recorded schema reads exactly what inference over the same
        // files gives: same names, order, types and nullability
        val inferred = {
          val r = spark.read
          (if (c.partitionBy.nonEmpty) r.option("basePath", s"$root/${m0.dataDir}") else r)
            .parquet(m0.files.map(f => s"$root/$f"): _*)
        }
        assert(read.schema == inferred.schema, s"${c.name}: ${read.schema} vs ${inferred.schema}")
        assert(read.exceptAll(c.df.unionByName(c.df).select(read.columns.map(col): _*)).isEmpty, c.name)
      }
      assert(Icebergish.tagRows(spark, root) == Map("t0" -> m0.rows, "t1" -> m1.rows), c.name)
      if (c.stats.nonEmpty) {
        // rendered as strings: the manifest's JSON reads small longs back as ints
        val recorded = m0.fileStats.map { case (f, cs) =>
          f -> cs.map { case (col, st) => col -> ((st.min.map(_.toString), st.max.map(_.toString))) }
        }
        val onDisk = boundsOfFiles(root, m0, c.stats).map { case (f, cs) =>
          f -> cs.map { case (col, (lo, hi)) => col -> ((Option(lo).map(_.toString), Option(hi).map(_.toString))) }
        }
        assert(recorded.nonEmpty && recorded == onDisk, s"${c.name}: file_stats $recorded vs $onDisk")
      }
    }
  }

  test("a partitioned commit runs no more jobs than a bare partitioned parquet write of the same frame") {
    val df = triples(2000).cache()
    df.count()
    try {
      val bare = jobsOf(df.write.partitionBy("pred").parquet(s"${tmpRoot()}/bare"))
      val root = tmpRoot()
      Icebergish.commit(df, root, "append", Seq("pred"), Some("warm"))
      val committed = jobsOf(Icebergish.commit(df, root, "append", Seq("pred"), Some("b1")))
      assert(committed <= bare, s"commit ran $committed jobs, a bare write $bare")
    } finally df.unpersist()
  }

  test("reading a 12-snapshot table runs as many jobs as reading a 1-snapshot table") {
    val one = tmpRoot()
    Icebergish.commit(triples(100), one, "append", Seq("pred"))
    val twelve = tmpRoot()
    (0 until 12).foreach(i => Icebergish.commit(triples(100, seed = i), twelve, "append", Seq("pred")))
    var n1, n12 = 0L
    val j1 = jobsOf { n1 = Icebergish.read(spark, one).count() }
    val j12 = jobsOf { n12 = Icebergish.read(spark, twelve).count() }
    assert(n1 == 100 && n12 == 1200)
    assert(j12 == j1, s"12 snapshots: $j12 jobs, 1 snapshot: $j1")
  }

  test("untagged commits read at most two manifests each, and tagRows reads one") {
    import spark.implicits._
    val root = tmpRoot()
    val df = Seq((1, "a")).toDF("id", "v")
    val perCommit = (0 until 30).map { _ =>
      val before = Icebergish.manifestReadCount.get()
      Icebergish.commit(df, root)
      Icebergish.manifestReadCount.get() - before
    }
    assert(perCommit.forall(_ <= 2), s"manifest reads per commit: $perCommit")
    val before = Icebergish.manifestReadCount.get()
    assert(Icebergish.tagRows(spark, root).isEmpty)
    val reads = Icebergish.manifestReadCount.get() - before
    assert(reads == 1, s"tagRows read $reads manifests on a 30-snapshot untagged table")
  }

  test("a manifest without a field the reader needs fails loudly, naming the manifest and the field") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    Seq("data_dir", "schema", "snapshot", "file_sizes", "file_partitions").foreach { field =>
      val root = tmpRoot()
      Icebergish.commit(triples(10), root, "append", Seq("pred"))
      val path = java.nio.file.Paths.get(root, "manifests", "snap-0.json")
      val m = mapper.readValue(java.nio.file.Files.readAllBytes(path), classOf[java.util.LinkedHashMap[String, Object]])
      assert(m.remove(field) != null, s"the writer wrote no '$field'")
      java.nio.file.Files.write(path, mapper.writeValueAsBytes(m))
      val e = intercept[IllegalArgumentException](Icebergish.read(spark, root))
      assert(e.getMessage.contains(s"$root/manifests/snap-0.json") && e.getMessage.contains(s"'$field'"),
        e.getMessage)
    }
  }
}
