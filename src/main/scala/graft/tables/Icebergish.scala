package graft.tables

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.Filter
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{DataType, NumericType, StructType}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Thrown when a commit loses the race for a snapshot id to another
  * writer: the loser's staged data directory is removed and the table is
  * left exactly as the winner committed it. Callers may retry (the retry
  * re-reads the new current snapshot and commits on top of the winner).
  */
final class ConcurrentCommitException(msg: String, cause: Throwable)
    extends RuntimeException(msg, cause)

/** Iceberg-style snapshot table layer over partitioned Parquet
  * (SURVEY.md §7.0: no Iceberg runtime jar ships in this environment, so
  * the table format is reimplemented minimally — same commit semantics,
  * swappable for a real Iceberg catalog).
  *
  * Layout:
  * {{{
  *   <root>/data/snap-<id>-<nonce>/...parquet   immutable data files per commit
  *   <root>/manifests/snap-<id>.json            snapshot manifest:
  *       {snapshot, parent, mode, data_dir, files[], file_sizes[],
  *        file_partitions[], rows, tags{}, schema, ...}
  *   <root>/locks/snap-<id>                     exclusive claim of a snapshot id
  * }}}
  *
  * The manifest is the only record of a table's file layout: for each
  * file it holds the path, the length and the hive partition values,
  * taken once from the commit's own listing. A read builds its
  * `FileStatus`es from the manifests ([[ManifestIndex]]) and scans every
  * live file of a partition spec through ONE parquet relation; Spark
  * never lists, globs or infers a table. Partition filters prune by the
  * recorded values and data filters by the zone maps ([[mayMatch]]),
  * both inside the scan's own file listing.
  *
  * Guarantees:
  *  - snapshot isolation: readers resolve the current snapshot once, then
  *    read only the immutable file set of that snapshot's manifest chain;
  *  - a COMPLETE MANIFEST IS VISIBILITY: the manifest is the last artifact
  *    a commit writes, and [[currentSnapshotId]] is the max manifest id in
  *    `manifests/`. There is no pointer file to flip, so no crash window
  *    between commit and visibility.
  *  - optimistic concurrency: each writer stages data under a UNIQUE
  *    nonce'd directory, atomically claims the snapshot id (`locks/`,
  *    mkdir-exclusive), writes the manifest to a dot-prefixed temp name
  *    and links/renames it into `manifests/snap-<id>.json` with an
  *    exclusive no-overwrite primitive — so a listed manifest is always
  *    complete, and a writer whose stale lease was broken mid-commit is
  *    FENCED (it cannot clobber the winner's manifest). Two concurrent
  *    writers racing for the same id: one wins, the loser gets a typed
  *    [[ConcurrentCommitException]], deletes
  *    only its own staged data, and can retry on the winner's snapshot.
  *    (No writer ever deletes another writer's in-flight files — staged
  *    dirs are unique, and failed stages are inert garbage for a vacuum.)
  *  - time travel: `read(spark, root, Some(snapshotId))`.
  *
  * Append manifests reference their parent; the effective file set is the
  * union along the parent chain (cut by an `overwrite` manifest).
  *
  * A reader reads only the manifest format [[commit]] writes: a manifest
  * that lacks a field the reader needs fails with an
  * `IllegalArgumentException` naming the manifest and the field, instead
  * of being read by a guess.
  *
  * Idempotence tags ROLL UP: every manifest carries the accumulated
  * `tags` map (tag → rows) of its whole history, so [[committedTags]] /
  * [[tagRows]] read O(1) manifests per lookup instead of scanning every
  * manifest ever written (the r2 design was O(batches) per lookup and was
  * called per micro-batch — O(batches²) metadata work over a long-lived
  * stream). Tags survive compaction because the roll-up accumulates
  * THROUGH overwrite snapshots, not just along the live file chain.
  */
object Icebergish {

  private val mapper = new ObjectMapper()

  /** Manifest reads since JVM start — lets tests assert the O(1)-reads
    * contract of the tag roll-up (one manifest read per [[tagRows]] call
    * on an arbitrarily long snapshot chain).
    */
  private[graft] val manifestReadCount = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Per-file per-column min/max (the zone-map half of the manifest —
    * real Iceberg's `lower_bounds`/`upper_bounds`). `t` is the value
    * family: "i" integral (Long), "f" floating (Double), "d" decimal
    * (String, compared as BigDecimal), "s" string. None min/max = the
    * file's column was all-null (or empty) — never prunable.
    */
  case class ColStats(t: String, min: Option[Any], max: Option[Any])

  /** One committed data file: its path relative to the table root, its
    * length in bytes, and its hive partition values in the snapshot's
    * `partitionBy` order (null = the null partition).
    */
  case class DataFile(path: String, size: Long, partition: Seq[String])

  case class Snapshot(
      id: Long,
      parent: Long, // -1 = none
      mode: String, // "append" | "overwrite" | "replace"
      dataFiles: Seq[DataFile],
      rows: Long,
      committedAt: String,
      partitionBy: Seq[String], // empty = unpartitioned
      dataDir: String, // nonce'd: data/snap-<id>-<nonce>
      tags: Map[String, Long], // rolled-up tag → rows
      removedFiles: Seq[String], // "replace" mode: files dropped from the parent's effective set
      fileStats: Map[String, Map[String, ColStats]], // relpath → col → bounds
      schema: StructType) { // the committed frame's
    def files: Seq[String] = dataFiles.map(_.path)
  }

  private def fs(spark: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Atomically claim snapshot `id` for this writer. On `file://` the
    * exclusive primitive is `mkdir` (the syscall fails EEXIST — exactly
    * one caller gets `true`); on HDFS-like stores `create(overwrite =
    * false)` is an atomic namespace operation. A claim whose writer
    * crashed before its manifest landed is broken after a 60 s lease via
    * an atomic rename (otherwise a claimant crash would brick the id
    * forever). Locks are NEVER deleted on success — the claim must stay
    * exclusive for the table's lifetime (releasing it would let a
    * stale-parent writer re-claim a committed id and overwrite its
    * manifest) — and live under `locks/`, not `manifests/`, so they
    * cost nothing to the manifest-listing hot path.
    */
  private def claimId(f: FileSystem, root: String, id: Long): Boolean = {
    val lockPath = new Path(root, s"locks/snap-$id")
    f.mkdirs(new Path(root, "locks"))
    def tryOnce(): Boolean =
      if (f.getUri.getScheme == "file") new java.io.File(f.makeQualified(lockPath).toUri).mkdir()
      else
        try { f.create(lockPath, false).close(); true }
        catch { case _: java.io.IOException => false }
    if (tryOnce()) true
    else if (!f.exists(new Path(root, s"manifests/snap-$id.json"))) {
      // the claimant may have crashed pre-manifest: break a stale lease.
      // The break itself must be ATOMIC — two breakers who both see an
      // expired lease must not both proceed (delete-then-claim would let
      // them double-claim). Breaking = RENAMING the old lock to a
      // nonce'd name: rename's source disappears atomically, so exactly
      // one breaker succeeds; the loser falls back to the normal
      // lost-the-race path.
      val age =
        try System.currentTimeMillis() - f.getFileStatus(lockPath).getModificationTime
        catch { case _: java.io.IOException => 0L }
      if (age > 60000L) {
        val breakName = new Path(root,
          s"locks/snap-$id.broken-${java.util.UUID.randomUUID().toString.take(8)}")
        val broke =
          try f.rename(lockPath, breakName)
          catch { case _: java.io.IOException => false }
        if (broke) { f.delete(breakName, true); tryOnce() } else false
      } else false
    } else false
  }

  /** Install a manifest atomically and EXCLUSIVELY: write the bytes to a
    * dot-prefixed temp name (invisible to the `snap-*.json` listing, so
    * no reader can observe a partial manifest) and move it into
    * `manifests/snap-<id>.json` with a primitive that FAILS if the
    * destination exists. On local FS that is link(2) — the EEXIST check
    * is in-kernel atomic, whereas rename(2) always clobbers; on HDFS-like
    * stores rename-without-OVERWRITE is an atomic namespace op. Returns
    * false when fenced out (the id's manifest already exists — e.g. this
    * claimant stalled past the 60 s lease, its lock was broken, and the
    * breaker committed first); the destination is untouched in that case.
    */
  private[graft] def installManifest(
      f: FileSystem, root: String, id: Long, bytes: Array[Byte]): Boolean = {
    val manifestPath = new Path(root, s"manifests/snap-$id.json")
    val tmpManifest = new Path(root,
      s"manifests/.snap-$id.json.tmp-${java.util.UUID.randomUUID().toString.take(8)}")
    if (f.getUri.getScheme == "file") {
      // java.nio end to end: the local Hadoop filesystem's `create` sets
      // the file's permissions through a forked `chmod` per call, and
      // writes a .crc sidecar no reader of the manifest needs
      val tmp = java.nio.file.Paths.get(f.makeQualified(tmpManifest).toUri)
      java.nio.file.Files.write(tmp, bytes)
      try {
        java.nio.file.Files.createLink(java.nio.file.Paths.get(f.makeQualified(manifestPath).toUri), tmp)
        true
      } catch { case _: java.io.IOException => false }
      finally java.nio.file.Files.deleteIfExists(tmp)
    } else {
      val out = f.create(tmpManifest, true)
      try out.write(bytes)
      finally out.close()
      val installed =
        try !f.exists(manifestPath) && f.rename(tmpManifest, manifestPath)
        catch { case _: java.io.IOException => false }
      f.delete(tmpManifest, false)
      installed
    }
  }

  /** Current snapshot = the max manifest id. A listed manifest is complete
    * (it is installed atomically, after the data files), and no manifest
    * is ever deleted, so the max id only grows; one listing of
    * `manifests/` resolves it.
    */
  def currentSnapshotId(spark: SparkSession, root: String): Option[Long] =
    manifestIds(fs(spark, root), root).maxOption

  /** Ids of the installed manifests (`snap-<id>.json`; temps are dot-prefixed). */
  private def manifestIds(f: FileSystem, root: String): Seq[Long] = {
    val mDir = new Path(root, "manifests")
    if (!f.exists(mDir)) Nil
    else f.listStatus(mDir).toSeq
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("snap-") && n.endsWith(".json") =>
        n.stripPrefix("snap-").stripSuffix(".json").toLong
      }
  }

  /** Parse one manifest. Fields [[commit]] always writes are required
    * (`file_partitions` whenever `partition_by` is set); a missing one
    * throws `IllegalArgumentException` naming the manifest and the field.
    * Keys the writer omits when empty (`partition_by`, `tags`,
    * `removed_files`, `file_stats`) read as empty.
    */
  def readManifest(spark: SparkSession, root: String, id: Long): Snapshot = {
    manifestReadCount.incrementAndGet()
    val path = new Path(root, s"manifests/snap-$id.json")
    val in = fs(spark, root).open(path)
    val m =
      try mapper.readValue(in.readAllBytes(), classOf[java.util.Map[String, Object]])
      finally in.close()
    def opt(key: String): Option[Object] = Option(m.get(key))
    def req(key: String): Object = opt(key).getOrElse(
      throw new IllegalArgumentException(s"manifest $path has no '$key' field"))
    def strings(v: Object): Seq[String] = v.asInstanceOf[java.util.List[String]].asScala.toSeq
    def entries(v: Object): Map[String, Object] =
      v.asInstanceOf[java.util.Map[String, Object]].asScala.toMap
    val files = strings(req("files"))
    val partitionBy = opt("partition_by").map(strings).getOrElse(Nil)
    val partitions =
      if (partitionBy.isEmpty) files.map(_ => Nil)
      else req("file_partitions").asInstanceOf[java.util.List[Object]].asScala.map(strings)
    val sizes = req("file_sizes").asInstanceOf[java.util.List[Object]].asScala.map(_.toString.toLong)
    require(sizes.size == files.size && partitions.size == files.size,
      s"manifest $path: file_sizes or file_partitions do not match files")
    Snapshot(
      req("snapshot").toString.toLong,
      req("parent").toString.toLong,
      req("mode").toString,
      files.lazyZip(sizes).lazyZip(partitions).map(DataFile),
      req("rows").toString.toLong,
      req("committed_at").toString,
      partitionBy,
      req("data_dir").toString,
      opt("tags").map(entries(_).map { case (k, v) => k -> v.toString.toLong }).getOrElse(Map.empty),
      opt("removed_files").map(strings).getOrElse(Nil),
      opt("file_stats").map(entries(_).map { case (file, cols) =>
        file -> entries(cols).map { case (c, st) =>
          val sm = entries(st)
          c -> ColStats(sm("t").toString, sm.get("min"), sm.get("max"))
        }
      }).getOrElse(Map.empty),
      DataType.fromJson(req("schema").toString).asInstanceOf[StructType])
  }

  /** Manifest chain contributing to snapshot `id`, oldest first — cut at
    * the newest overwrite (or the root).
    */
  private def chainOf(spark: SparkSession, root: String, id: Long): Seq[Snapshot] = {
    val chain = mutable.ListBuffer.empty[Snapshot]
    var cur = id
    var done = false
    while (!done) {
      val s = readManifest(spark, root, cur)
      chain.prepend(s)
      if (s.mode == "overwrite" || s.parent < 0) done = true else cur = s.parent
    }
    chain.toSeq
  }

  /** Effective (file, owning snapshot) pairs: fold the chain applying each
    * snapshot's removals (replace mode) then its additions, in commit
    * order.
    */
  private def effectiveFiles(chain: Seq[Snapshot]): Seq[(DataFile, Snapshot)] = {
    val acc = mutable.LinkedHashMap.empty[String, (DataFile, Snapshot)]
    chain.foreach { s =>
      s.removedFiles.foreach(acc.remove)
      s.dataFiles.foreach(d => acc(d.path) = (d, s))
    }
    acc.values.toSeq
  }

  /** Effective file set of a snapshot: additions along the parent chain
    * (cut by an overwrite) minus replace-mode removals.
    */
  def fileSet(spark: SparkSession, root: String, id: Long): Seq[String] =
    effectiveFiles(chainOf(spark, root, id)).map(_._1.path)

  /** Commit a DataFrame as a new snapshot. Returns the new snapshot id.
    *
    * With `partitionBy` non-empty the snapshot's data files are laid out
    * hive-style (`pred=treated_by/part-...parquet`) and the partition spec
    * is recorded in the manifest — the "partitioned graph table" shape:
    * a reader of one predicate touches only that predicate's files.
    *
    * An idempotence `tag` (e.g. a streaming batch id, a resumable chunk
    * id) rides IN the manifest, so "was this unit of work committed"
    * becomes transactional with the commit itself — writers that track
    * progress in a separate file have a crash window between the data
    * commit and the progress write; [[committedTags]] closes it.
    *
    * The manifest's `rows` is the write's own output-row count, and each
    * file's length and partition values come from the commit's listing:
    * a commit reads its files back only to gather `statsColumns` bounds.
    *
    * Concurrency: data stages under a unique nonce'd directory; the
    * manifest create (overwrite=false, atomic on HDFS/posix) is the
    * commit point. A writer that loses the id race cleans up its own
    * staging and throws [[ConcurrentCommitException]] — retry to commit
    * on top of the winner.
    */
  def commit(
      df: DataFrame,
      root: String,
      mode: String = "append",
      partitionBy: Seq[String] = Nil,
      tag: Option[String] = None,
      statsColumns: Seq[String] = Nil): Long =
    commitWithParent(df, root, mode, partitionBy, tag, None, statsColumns = statsColumns)

  /** Replace-mode commit: add `df`'s files AND drop `removedFiles` from
    * the parent's effective set in one atomic snapshot — the primitive
    * behind partition-scoped rewrites ([[upsertPartitions]]) and
    * per-partition compaction. Removed files stay on disk (their adding
    * manifests still reference them, so time travel and [[vacuum]]
    * safety are untouched); they just leave the live file set.
    */
  def commitReplace(
      df: DataFrame,
      root: String,
      partitionBy: Seq[String],
      removedFiles: Seq[String],
      tag: Option[String] = None): Long =
    commitWithParent(df, root, "replace", partitionBy, tag, None, removedFiles)

  /** Test seam: `parentOverride` simulates a writer that resolved its
    * parent BEFORE a concurrent winner committed (the stale-parent race).
    */
  private[graft] def commitWithParent(
      df: DataFrame,
      root: String,
      mode: String,
      partitionBy: Seq[String],
      tag: Option[String],
      parentOverride: Option[Long],
      removedFiles: Seq[String] = Nil,
      statsColumns: Seq[String] = Nil): Long = {
    require(mode == "append" || mode == "overwrite" || mode == "replace")
    require(removedFiles.isEmpty || mode == "replace", "removedFiles requires replace mode")
    val spark = df.sparkSession
    val f = fs(spark, root)
    val parent = parentOverride.getOrElse(currentSnapshotId(spark, root).getOrElse(-1L))
    val id = parent + 1
    val nonce = java.util.UUID.randomUUID().toString.take(8)
    val dataDirRel = s"data/snap-$id-$nonce"
    val dataDir = new Path(root, dataDirRel)

    // the row count comes from the write itself (its numOutputRows), so
    // the commit never reads back the files it has just written
    val rows = GraftSqlBridge.writeParquet(df, dataDir.toString, partitionBy)

    // recursive listing: partitioned layouts nest files under key=value
    // dirs, whose values are parsed here once, hive-unescaped, and
    // recorded in the manifest with each file's length. listStatus, not
    // listFiles(dataDir, true): listFiles builds a LocatedFileStatus per
    // file, which loads the file's permission — on a local filesystem
    // without the native Hadoop library, one shell command per file.
    val rootQ = f.makeQualified(new Path(root)).toString
    val committed: Seq[DataFile] = {
      val buf = mutable.ArrayBuffer.empty[DataFile]
      def walk(dir: Path, partition: Seq[String]): Unit = f.listStatus(dir).foreach { st =>
        val name = st.getPath.getName
        if (st.isDirectory) {
          val v = ExternalCatalogUtils.unescapePathName(name.substring(name.indexOf('=') + 1))
          walk(st.getPath, partition :+ (if (v == ExternalCatalogUtils.DEFAULT_PARTITION_NAME) null else v))
        } else if (name.endsWith(".parquet"))
          buf += DataFile(st.getPath.toString.stripPrefix(rootQ + "/"), st.getLen, partition)
      }
      walk(dataDir, Nil)
      buf.sortBy(_.path).toSeq
    }
    // Per-file column bounds, when requested, cost one read of the
    // committed files, through the same manifest index a table read uses.
    // Only integral / floating / decimal / string columns are supported;
    // others are silently skipped (pruning for them simply never fires).
    val statTyped: Seq[(String, String)] =
      statsColumns.flatMap { c =>
        df.schema.fields.find(_.name == c).map(_.dataType).collect {
          case _: org.apache.spark.sql.types.ByteType | _: org.apache.spark.sql.types.ShortType |
               _: org.apache.spark.sql.types.IntegerType | _: org.apache.spark.sql.types.LongType => c -> "i"
          case _: org.apache.spark.sql.types.FloatType | _: org.apache.spark.sql.types.DoubleType => c -> "f"
          case _: org.apache.spark.sql.types.DecimalType => c -> "d"
          case _: org.apache.spark.sql.types.StringType => c -> "s"
        }
      }
    val fileStats: Map[String, Map[String, ColStats]] =
      if (committed.isEmpty || statTyped.isEmpty) Map.empty
      else {
        import org.apache.spark.sql.functions.{input_file_name, max, min}
        val aggs = statTyped.flatMap { case (c, _) =>
          Seq(min(col(c)).as(s"__min_$c"), max(col(c)).as(s"__max_$c"))
        }
        // per-file aggregate: bounded by the commit's file count
        val perFile = scan(spark, new Path(rootQ), df.schema, partitionBy, committed.map(_ -> Map.empty))
          .groupBy(input_file_name().as("__file")).agg(aggs.head, aggs.tail: _*)
          .collect()
        def norm(t: String, v: Any): Option[Any] = Option(v).map {
          case n: java.lang.Number if t == "i" => java.lang.Long.valueOf(n.longValue())
          case n: java.lang.Number if t == "f" => java.lang.Double.valueOf(n.doubleValue())
          case d: java.math.BigDecimal => d.toPlainString
          case d: scala.math.BigDecimal => d.bigDecimal.toPlainString
          case s => s.toString
        }
        // input_file_name() is the URI-encoded path; matched through the
        // URI-DECODED path, the one rendering it and the listing agree on
        // for paths with spaces, '%' or non-ASCII characters
        val decodedToRel = committed.map(d => new Path(rootQ, d.path).toUri.getPath -> d.path).toMap
        perFile.flatMap { r =>
          decodedToRel.get(new java.net.URI(r.getAs[String]("__file")).getPath).map(_ -> statTyped.map {
            case (c, t) => c -> ColStats(t, norm(t, r.getAs[Any](s"__min_$c")), norm(t, r.getAs[Any](s"__max_$c")))
          }.toMap)
        }.toMap
      }

    // roll up the idempotence tags: parent's accumulated map + own tag.
    // Accumulates through overwrites too — compaction must not forget
    // which units of work were committed.
    val accTags: Map[String, Long] =
      (if (parent >= 0) readManifest(spark, root, parent).tags else Map.empty[String, Long]) ++
        tag.map(_ -> rows).toMap

    val manifest = new java.util.LinkedHashMap[String, Object]()
    manifest.put("snapshot", java.lang.Long.valueOf(id))
    manifest.put("parent", java.lang.Long.valueOf(parent))
    manifest.put("mode", mode)
    manifest.put("data_dir", dataDirRel)
    manifest.put("files", committed.map(_.path).asJava)
    manifest.put("file_sizes", committed.map(d => java.lang.Long.valueOf(d.size)).asJava)
    if (partitionBy.nonEmpty) manifest.put("file_partitions", committed.map(_.partition.asJava).asJava)
    manifest.put("rows", java.lang.Long.valueOf(rows))
    manifest.put("committed_at", java.time.Instant.now().toString)
    if (partitionBy.nonEmpty) manifest.put("partition_by", partitionBy.toList.asJava)
    if (removedFiles.nonEmpty) manifest.put("removed_files", removedFiles.toList.asJava)
    tag.foreach(manifest.put("tag", _))
    if (accTags.nonEmpty) {
      val tm = new java.util.LinkedHashMap[String, Object]()
      accTags.toSeq.sortBy(_._1).foreach { case (k, v) => tm.put(k, java.lang.Long.valueOf(v)) }
      manifest.put("tags", tm)
    }
    if (fileStats.nonEmpty) {
      val fsMap = new java.util.LinkedHashMap[String, Object]()
      fileStats.toSeq.sortBy(_._1).foreach { case (file, cols) =>
        val cm = new java.util.LinkedHashMap[String, Object]()
        cols.toSeq.sortBy(_._1).foreach { case (c, st) =>
          val m2 = new java.util.LinkedHashMap[String, Object]()
          m2.put("t", st.t)
          st.min.foreach(v => m2.put("min", v.asInstanceOf[Object]))
          st.max.foreach(v => m2.put("max", v.asInstanceOf[Object]))
          cm.put(c, m2)
        }
        fsMap.put(file, cm)
      }
      manifest.put("file_stats", fsMap)
    }
    manifest.put("schema", df.schema.json)

    f.mkdirs(new Path(root, "manifests"))
    // COMMIT POINT: atomically CLAIM the id before writing the manifest.
    // A bare create(path, overwrite=false) is NOT atomic on local
    // filesystems (RawLocalFileSystem does exists-then-create, so two
    // racing writers can both "win" an id and one silently overwrites
    // the other — observed data loss under a multi-threaded commit
    // storm); the claim uses a primitive that IS exclusive per store.
    if (!claimId(f, root, id)) {
      f.delete(dataDir, true)
      throw new ConcurrentCommitException(
        s"snapshot $id already claimed by a concurrent writer (root=$root); " +
          "re-read the current snapshot and retry", null)
    }
    // Install the manifest ATOMICALLY and EXCLUSIVELY (ADVICE r3):
    // write the bytes to a dot-prefixed temp name — invisible to
    // currentSnapshotId's `snap-*.json` listing, so no reader or committer
    // can observe a zero-byte/partial manifest mid-write — then move it
    // into place with a primitive that FAILS if the destination exists:
    //  - atomicity: a listed `snap-<id>.json` is always complete;
    //  - fencing: a claimant that stalled past the 60 s lease and had
    //    its lock broken must LOSE to the winner that committed the id,
    //    not silently overwrite the winner's manifest. On local FS the
    //    exclusive primitive is link(2) (EEXIST check is in-kernel
    //    atomic; plain rename(2) always clobbers); on HDFS-like stores
    //    rename-without-OVERWRITE is an atomic namespace op.
    val installed =
      installManifest(f, root, id, mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(manifest))
    if (!installed) {
      // fenced out: another writer committed this id while our lease was
      // broken. Drop only OUR nonce'd staging dir; the winner's manifest
      // and data are untouched.
      f.delete(dataDir, true)
      throw new ConcurrentCommitException(
        s"snapshot $id manifest already installed by a concurrent writer " +
          s"(stalled lease fenced, root=$root); re-read the current snapshot and retry", null)
    }
    id
  }

  private def resolve(spark: SparkSession, root: String, snapshot: Option[Long]): Long =
    snapshot.orElse(currentSnapshotId(spark, root)).getOrElse(sys.error(s"no current snapshot in $root"))

  /** Read the table at the current snapshot (or a past one: time travel)
    * as one scan of its live files per partition spec in the chain; a
    * chain that mixes specs (e.g. a legacy unpartitioned append followed
    * by partitioned ones) aligns its scans with `unionByName`. A filter
    * on the result prunes partitions and zone-mapped files in the scan.
    */
  def read(spark: SparkSession, root: String, snapshot: Option[Long] = None): DataFrame =
    readChain(spark, root, chainOf(spark, root, resolve(spark, root, snapshot)))

  private def readChain(spark: SparkSession, root: String, chain: Seq[Snapshot]): DataFrame = {
    val live = effectiveFiles(chain)
    val rootQ = fs(spark, root).makeQualified(new Path(root))
    chain.map(_.partitionBy).distinct.map { spec =>
      val snaps = chain.filter(_.partitionBy == spec)
      // schema evolution: the union of the snapshots' schemas, so a column
      // added later reads as null for the files written before it
      val schema = StructType(snaps.flatMap(_.schema.fields).distinctBy(_.name))
      scan(spark, rootQ, schema, spec, live.collect {
        case (d, s) if s.partitionBy == spec => d -> s.fileStats.getOrElse(d.path, Map.empty)
      })
    }.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** One parquet relation over `files` (each with its zone maps) through a
    * [[ManifestIndex]]: no listing, no footer-inference job.
    */
  private def scan(
      spark: SparkSession,
      rootQ: Path,
      schema: StructType,
      partitionBy: Seq[String],
      files: Seq[(DataFile, Map[String, ColStats])]): DataFrame = {
    val fields = schema.fields.toSeq.map(_.copy(nullable = true))
    val partSchema = StructType(partitionBy.map(c => fields.find(_.name == c).get))
    val index = new ManifestIndex(rootQ, files, partSchema, spark.conf.get("spark.sql.session.timeZone"))
    spark.baseRelationToDataFrame(HadoopFsRelation(index, partSchema,
      StructType(fields.filterNot(f => partitionBy.contains(f.name))), None, new ParquetFileFormat, Map.empty)(spark))
  }

  /** The file index of one scan, built from manifest records with no
    * filesystem call. [[listFiles]] keeps the partitions whose recorded
    * values pass the partition filters and, within them, the files whose
    * zone maps do not refute the data filters ([[keeps]]).
    */
  private[graft] final class ManifestIndex(
      root: Path,
      files: Seq[(DataFile, Map[String, ColStats])],
      override val partitionSchema: StructType,
      timeZone: String) extends FileIndex {
    private val parts: Seq[(InternalRow, Seq[(FileStatus, Map[String, ColStats])])] = {
      val byPart = files.groupBy(_._1.partition)
      files.map(_._1.partition).distinct.map { vals =>
        InternalRow.fromSeq(partitionSchema.zip(vals).map { case (field, v) =>
          Cast(Literal(v), field.dataType, Some(timeZone)).eval()
        }) -> byPart(vals).map { case (d, st) => new FileStatus(d.size, false, 0, 0, 0, new Path(root, d.path)) -> st }
      }
    }

    override def listFiles(partitionFilters: Seq[Expression], dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
      val inPartition = partitionFilters.reduceOption(And).map(f => Predicate.createInterpreted(f.transform {
        case a: AttributeReference => BoundReference(partitionSchema.fieldIndex(a.name), a.dataType, nullable = true)
      }))
      parts.collect { case (values, fs) if inPartition.forall(_.eval(values)) =>
        PartitionDirectory(values, fs.collect { case (st, stats) if keeps(dataFilters, stats) => st }.toArray)
      }
    }

    override def rootPaths: Seq[Path] = Seq(root)
    override def inputFiles: Array[String] = parts.flatMap(_._2.map(_._1.getPath.toString)).toArray
    override def refresh(): Unit = ()
    override def sizeInBytes: Long = files.map(_._1.size).sum
  }

  /** Split the snapshot's effective file set by the manifest zone maps:
    * `(kept, skipped)`. A file is skipped only when its recorded bounds
    * PROVE no row can satisfy `predicate`; files without stats (or with
    * stats the evaluator cannot reason about) are conservatively kept.
    * The predicate is judged in the form the scan of
    * `read(...).filter(predicate)` judges it (analyzed and optimized
    * against the table), by the same [[keeps]]: that scan reads exactly
    * the files kept here that its partition filters do not drop.
    */
  def pruneFiles(
      spark: SparkSession,
      root: String,
      predicate: Column,
      snapshot: Option[Long] = None): (Seq[(String, Snapshot)], Seq[String]) = {
    val chain = chainOf(spark, root, resolve(spark, root, snapshot))
    val filters = readChain(spark, root, chain).where(predicate).queryExecution.optimizedPlan
      .collectFirst { case Filter(c, _) => c }.toSeq
    val (kept, skipped) = effectiveFiles(chain).partition { case (d, s) =>
      keeps(filters, s.fileStats.getOrElse(d.path, Map.empty))
    }
    (kept.map { case (d, s) => d.path -> s }, skipped.map(_._1.path))
  }

  /** May a file with these column bounds hold a row passing every filter? */
  private def keeps(filters: Seq[Expression], stats: Map[String, ColStats]): Boolean =
    stats.isEmpty || filters.forall(mayMatch(_, stats))

  /** Conservative zone-map evaluator: may the predicate match ANY row of
    * a file with these column bounds? Unknown shapes return true. The
    * comparison algebra mirrors Iceberg's InclusiveMetricsEvaluator:
    * And/Or recurse (Not is NOT pushed through — a `true` from a child
    * means "maybe", and !maybe is not "never"); a binary comparison
    * between a stats column (bare, or under a widening numeric cast) and
    * a non-null literal tests the interval.
    */
  private[graft] def mayMatch(e: Expression, stats: Map[String, ColStats]): Boolean = {
    object StatCol {
      def unapply(x: Expression): Option[String] = x match {
        case a: Attribute => Some(a.name)
        case Cast(a: Attribute, to: NumericType, _, _) if Cast.canUpCast(a.dataType, to) => Some(a.name)
        case _ => None
      }
    }
    object Lit {
      def unapply(x: Expression): Option[Any] = x match {
        case Literal(v, _) if v != null => Some(v)
        case _ => None
      }
    }
    // compare a stats bound against a predicate literal in the column's
    // value family; None = incomparable (→ conservative keep)
    def cmp(bound: Any, lit: Any, t: String): Option[Int] =
      try {
        t match {
          case "i" | "f" | "d" =>
            val b = bound match {
              case s: String => new java.math.BigDecimal(s)
              case n: java.lang.Number => new java.math.BigDecimal(n.toString)
              case _ => return None
            }
            val l = lit match {
              case n: java.lang.Number => new java.math.BigDecimal(n.toString)
              case d: org.apache.spark.sql.types.Decimal => d.toJavaBigDecimal
              case _ => return None
            }
            Some(b.compareTo(l))
          case "s" =>
            val l = lit match {
              case u: org.apache.spark.unsafe.types.UTF8String => u.toString
              case s: String => s
              case _ => return None
            }
            // UTF-8 BINARY order, matching Spark's min/max over strings
            // (UTF8String compares bytes): java.lang.String.compareTo is
            // UTF-16 code-unit order, which sorts supplementary chars
            // BELOW U+E000..U+FFFF and would wrongly prune files whose
            // bounds involve them
            Some(utf8Compare(bound.toString, l))
          case _ => None
        }
      } catch { case _: NumberFormatException => None }
    // interval test for `col OP lit` (flip = literal was on the left)
    def test(name: String, lit: Any, op: String): Boolean =
      stats.get(name) match {
        case Some(ColStats(t, Some(mn), Some(mx))) =>
          (cmp(mn, lit, t), cmp(mx, lit, t)) match {
            case (Some(cMin), Some(cMax)) => op match {
              case "="  => cMin <= 0 && cMax >= 0
              case "<"  => cMin < 0   // some value below lit exists
              case "<=" => cMin <= 0
              case ">"  => cMax > 0
              case ">=" => cMax >= 0
              case _ => true
            }
            case _ => true
          }
        // all-null column can satisfy no comparison — but only when the
        // file is known non-empty is minCount meaningful; be conservative
        case _ => true
      }
    def binary(l: Expression, r: Expression, op: String, flipped: String): Boolean = (l, r) match {
      case (StatCol(n), Lit(v)) => test(n, v, op)
      case (Lit(v), StatCol(n)) => test(n, v, flipped)
      case _ => true
    }
    e match {
      case And(l, r) => mayMatch(l, stats) && mayMatch(r, stats)
      case Or(l, r) => mayMatch(l, stats) || mayMatch(r, stats)
      case EqualTo(l, r) => binary(l, r, "=", "=")
      case LessThan(l, r) => binary(l, r, "<", ">")
      case LessThanOrEqual(l, r) => binary(l, r, "<=", ">=")
      case GreaterThan(l, r) => binary(l, r, ">", "<")
      case GreaterThanOrEqual(l, r) => binary(l, r, ">=", "<=")
      // col IN (v1, v2, ...) = OR of equalities over the bounds; a
      // non-literal member cannot refute
      case In(StatCol(n), values) => values.exists {
        case Lit(v) => test(n, v, "=")
        case _ => true
      }
      case InSet(StatCol(n), values) => values.exists(v => v == null || test(n, v, "="))
      case _ => true
    }
  }

  /** Unsigned lexicographic compare of the UTF-8 encodings — delegated
    * to Spark's own UTF8String so the pruning order can never drift from
    * the order the min/max statistics were computed in.
    */
  private[graft] def utf8Compare(a: String, b: String): Int =
    org.apache.spark.unsafe.types.UTF8String.fromString(a)
      .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b))

  def exists(spark: SparkSession, root: String): Boolean =
    currentSnapshotId(spark, root).isDefined

  /** Every idempotence tag ever committed — O(1) manifest reads via the
    * rolled-up `tags` map in the current manifest (see [[tagRows]]).
    */
  def committedTags(spark: SparkSession, root: String): Set[String] =
    tagRows(spark, root).keySet

  /** tag → committed row count: the rolled-up `tags` map of the current
    * manifest, ONE manifest read whether or not the table has ever held
    * a tag. The latest commit wins a duplicated tag.
    */
  def tagRows(spark: SparkSession, root: String): Map[String, Long] =
    currentSnapshotId(spark, root).fold(Map.empty[String, Long])(readManifest(spark, root, _).tags)

  /** Partition-scoped copy-on-write UPSERT: rows of `df` replace current
    * rows with the same `keyCols` values, rewriting ONLY the partitions
    * `df` touches — untouched partitions keep their existing files, so an
    * upsert into one predicate of a 100 TB pred-partitioned graph table
    * rewrites that predicate's files, not the table.
    *
    * Mechanics: the affected partition values (bounded — partition
    * columns are low-cardinality by design) select the current files to
    * drop by the values their manifests record (the null partition
    * included); the merged rows (current-of-affected anti-join df on the keys,
    * union df) commit via [[commitReplace]] in one atomic snapshot. Time
    * travel to pre-upsert snapshots is intact (removed files stay on
    * disk, still referenced by their adding manifests).
    *
    * Contract: a key must not MOVE between partition values across
    * upserts (the rewrite is scoped to the NEW rows' partitions, so a
    * stale copy in an untouched partition would survive) — the same
    * pushdown caveat as any partition-scoped merge. If the live chain
    * mixes partition specs (e.g. a legacy unpartitioned snapshot), the
    * upsert falls back to a full copy-on-write overwrite.
    *
    * @return the new snapshot id
    */
  def upsertPartitions(
      df: DataFrame,
      root: String,
      partitionBy: Seq[String],
      keyCols: Seq[String]): Long = {
    require(partitionBy.nonEmpty && keyCols.nonEmpty)
    val spark = df.sparkSession
    val cur = currentSnapshotId(spark, root)
    if (cur.isEmpty) return commit(df, root, "append", partitionBy)
    // PIN the whole operation to this base snapshot: removed files,
    // merged rows, AND the commit parent all come from `base`, so a
    // concurrent commit landing in between collides on base+1's claim
    // and surfaces as ConcurrentCommitException (retry) instead of
    // silently duplicating or dropping its rows
    val base = cur.get

    val eff = effectiveFiles(chainOf(spark, root, base))
    if (!eff.forall(_._2.partitionBy == partitionBy)) {
      // mixed layout: any file may hold affected rows — full COW
      val merged = read(spark, root, Some(base))
        .join(df.select(keyCols.map(col): _*), keyCols, "left_anti")
        .unionByName(df)
      return commitWithParent(merged, root, "overwrite", partitionBy, None, Some(base))
    }

    // the affected partitions in the rendering the manifest records
    // (Spark's own cast to string, null = the null partition)
    val affected: Set[Seq[String]] = df.select(partitionBy.map(col(_).cast("string")): _*).distinct()
      .collect().map(r => partitionBy.indices.map(r.getString)).toSet
    val removed = eff.collect { case (d, _) if affected(d.partition) => d.path }
    val merged = read(spark, root, Some(base)).where(inPartitions(partitionBy, affected.toSeq))
      .join(df.select(keyCols.map(col): _*), keyCols, "left_anti")
      .unionByName(df)
    commitWithParent(merged, root, "replace", partitionBy, None, Some(base), removed)
  }

  /** Rows whose `partitionBy` values equal one of the recorded partition
    * value lists (strings; null = the null partition).
    */
  private def inPartitions(partitionBy: Seq[String], values: Seq[Seq[String]]): Column =
    values.map(vs => partitionBy.zip(vs).map { case (c, v) => col(c) <=> v }.reduce(_ && _))
      .reduceOption(_ || _).getOrElse(lit(false))

  /** Remove crashed writers' garbage: data directories referenced by NO
    * manifest (a writer that died before its manifest-create commit point
    * leaves an inert nonce'd staging dir). Data referenced by ANY
    * snapshot — current or historical — is never touched, so time travel
    * is preserved in full. Maintenance op for a quiet table: a writer
    * mid-stage (data written, manifest not yet created) would lose its
    * staging, which for that writer is indistinguishable from losing the
    * commit race — it fails cleanly and retries.
    * @return the removed directory names
    */
  def vacuum(spark: SparkSession, root: String, graceMs: Long = 15 * 60 * 1000L): Seq[String] = {
    val f = fs(spark, root)
    val mDir = new Path(root, "manifests")
    val dDir = new Path(root, "data")
    if (!f.exists(dDir)) return Nil
    val referenced: Set[String] =
      manifestIds(f, root).map(readManifest(spark, root, _).dataDir.stripPrefix("data/")).toSet
    // crashed writers also leave dot-prefixed temp manifests (a completed
    // install deletes its temp; only a crash between write and
    // link/rename leaves one) and broken-lease markers behind — both are
    // invisible to readers (the `snap-*.json` listing skips dot files,
    // locks are never read) but accumulate; sweep them past a grace
    // period so an IN-FLIGHT installer's temp is never pulled out from
    // under it.
    val now = System.currentTimeMillis()
    val tmpManifests =
      if (!f.exists(mDir)) Nil
      else f.listStatus(mDir).toSeq
        .filter(st => st.getPath.getName.startsWith(".snap-") &&
          st.getPath.getName.contains(".tmp-") &&
          now - st.getModificationTime > graceMs)
        .map { st => f.delete(st.getPath, false); "manifests/" + st.getPath.getName }
    val lDir = new Path(root, "locks")
    val brokenLocks =
      if (!f.exists(lDir)) Nil
      else f.listStatus(lDir).toSeq
        .filter(st => st.getPath.getName.contains(".broken-") &&
          now - st.getModificationTime > graceMs)
        .map { st => f.delete(st.getPath, true); "locks/" + st.getPath.getName }
    // Unreferenced data dirs are deleted only past the SAME grace period:
    // an IN-FLIGHT committer's staged dir is unreferenced by construction
    // (its manifest installs only after the parquet write completes), so
    // an ungraced sweep racing a live commit would delete data the
    // about-to-install manifest references — data loss. The grace also
    // covers vacuum's own list-then-delete window against a commit that
    // lands in between (its fresh dir is young).
    //
    // Age = NEWEST mtime anywhere under the dir, not the top dir's: a
    // long parquet write lands task files under _temporary/…, which does
    // not touch the top dir's mtime — judged by the top dir alone, a
    // write running longer than the grace would look like an aged crash
    // leftover while still in flight. Recursion costs are bounded: only
    // UNREFERENCED dirs (rare — crash leftovers and in-flight stages)
    // are walked.
    def newestMtime(p: Path): Long =
      try {
        // DIRECTORIES included (listStatus recursion, not listFiles): a
        // staged write that has created _temporary/task-attempt dirs but
        // no part files yet must still read as active — files-only
        // recursion would fall back to the stale top-dir mtime
        var newest = f.getFileStatus(p).getModificationTime
        def walk(d: Path): Unit =
          f.listStatus(d).foreach { st =>
            if (st.getModificationTime > newest) newest = st.getModificationTime
            if (st.isDirectory) walk(st.getPath)
          }
        walk(p)
        newest
      } catch {
        // entries vanish mid-walk when the dir belongs to a LIVE commit
        // (task temps renamed under us) — exactly the dirs the grace
        // exists to protect; treat as just-written. NonFatal, not just
        // IOException: RawLocalFileSystem surfaces a vanished entry as a
        // RuntimeException from its shelled-out permission probe.
        case scala.util.control.NonFatal(_) => Long.MaxValue
      }
    f.listStatus(dDir).toSeq
      .filter(st => !referenced(st.getPath.getName) &&
        now - newestMtime(st.getPath) > graceMs)
      .map { st => f.delete(st.getPath, true); st.getPath.getName } ++
      tmpManifests ++ brokenLocks
  }

  /** PARTITION-SCOPED compaction: rewrite only the partitions whose live
    * file count exceeds `maxFilesPerPartition`, in one atomic replace
    * snapshot — the small-files remedy that actually works at 100 TB,
    * where the full-table [[compact]] (rewrite everything) is not an
    * option. Cold partitions keep their existing files; each compacted
    * partition lands as ~one file (the rewrite repartitions by the
    * partition columns). Falls back to full [[compact]] when the live
    * chain mixes partition layouts.
    *
    * @return the new snapshot id, or the current one if nothing qualified
    */
  def compactPartitions(
      spark: SparkSession,
      root: String,
      partitionBy: Seq[String],
      maxFilesPerPartition: Int = 4): Long = {
    val cur = resolve(spark, root, None)
    val eff = effectiveFiles(chainOf(spark, root, cur))
    if (!eff.forall(_._2.partitionBy == partitionBy))
      return compact(spark, root, partitionBy)
    val toCompact = eff.groupBy(_._1.partition).filter(_._2.size > maxFilesPerPartition)
    if (toCompact.isEmpty) return cur
    val removed = toCompact.values.flatten.map(_._1.path).toSeq
    // pinned to `cur` like upsertPartitions: a concurrent commit between
    // the file census and this commit collides on cur+1's claim and
    // raises ConcurrentCommitException instead of duplicating its rows
    val rows = read(spark, root, Some(cur)).where(inPartitions(partitionBy, toCompact.keys.toSeq))
      .repartition(toCompact.size, partitionBy.map(col): _*)
    commitWithParent(rows, root, "replace", partitionBy, None, Some(cur), removed)
  }

  /** Compact the current file set into ONE overwrite snapshot — the
    * remedy for streaming's small-files problem (every micro-batch append
    * adds a snapshot whose file count is the shuffle parallelism; after k
    * batches a read opens k×p files). Readers are unaffected mid-compact
    * (they resolved their snapshot before the overwrite manifest was
    * installed, and read only that snapshot's files) and time travel to
    * pre-compaction snapshots still works: old manifests and data files
    * are immutable and never deleted here. Committed tags survive — the
    * roll-up accumulates through the overwrite.
    *
    * @param targetFiles coalesce width of the rewritten data set
    * @return the new snapshot id
    */
  def compact(
      spark: SparkSession,
      root: String,
      partitionBy: Seq[String] = Nil,
      targetFiles: Int = 8): Long = {
    val current = read(spark, root)
    commit(current.coalesce(targetFiles), root, "overwrite", partitionBy)
  }
}
