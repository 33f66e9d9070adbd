package graft.tables

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

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
  *       {snapshot, parent, mode, data_dir, files[], rows, tags{}, schema, ...}
  *   <root>/locks/snap-<id>                     exclusive claim of a snapshot id
  * }}}
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

  case class Snapshot(
      id: Long,
      parent: Long, // -1 = none
      mode: String, // "append" | "overwrite" | "replace"
      files: Seq[String],
      rows: Long,
      committedAt: String,
      partitionBy: Seq[String], // empty = unpartitioned
      dataDir: String, // nonce'd: data/snap-<id>-<nonce>
      tags: Map[String, Long], // rolled-up tag → rows
      removedFiles: Seq[String], // "replace" mode: files dropped from the parent's effective set
      fileStats: Map[String, Map[String, ColStats]], // relpath → col → bounds
      schema: StructType) // the committed frame's

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

  /** Parse one manifest. Fields [[commit]] always writes are required;
    * a missing one throws `IllegalArgumentException` naming the manifest
    * and the field. Keys the writer omits when empty (`partition_by`,
    * `tags`, `removed_files`, `file_stats`) read as empty.
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
    Snapshot(
      req("snapshot").toString.toLong,
      req("parent").toString.toLong,
      req("mode").toString,
      strings(req("files")),
      req("rows").toString.toLong,
      req("committed_at").toString,
      opt("partition_by").map(strings).getOrElse(Nil),
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
  private def effectiveFiles(chain: Seq[Snapshot]): Seq[(String, Snapshot)] = {
    val acc = mutable.LinkedHashMap.empty[String, Snapshot]
    chain.foreach { s =>
      s.removedFiles.foreach(acc.remove)
      s.files.foreach(f => acc(f) = s)
    }
    acc.toSeq
  }

  /** Effective file set of a snapshot: additions along the parent chain
    * (cut by an overwrite) minus replace-mode removals.
    */
  def fileSet(spark: SparkSession, root: String, id: Long): Seq[String] =
    effectiveFiles(chainOf(spark, root, id)).map(_._1)

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
    * The manifest's `rows` is the write's own output-row count: a commit
    * reads its files back only to gather `statsColumns` bounds.
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

    // recursive listing: partitioned layouts nest files under key=value dirs
    val rootQ = f.makeQualified(new Path(root)).toString
    // committed relpaths PLUS each file's URI-decoded absolute path — the
    // canonical form both the listing and input_file_name() agree on
    // (ADVICE r5, low: for paths whose characters URI-encode differently
    // in the two renderings — spaces, %, non-ASCII roots — keying stats
    // by Path.toString landed them under a name pruneFiles never queried,
    // silently losing zone-map skipping for those files).
    //
    // listStatus, not listFiles(dataDir, true): listFiles builds a
    // LocatedFileStatus per file, which loads the file's permission — on
    // a local filesystem without the native Hadoop library, one shell
    // command per file.
    val committedDecoded = {
      val buf = mutable.ArrayBuffer.empty[(String, String)]
      def walk(dir: Path): Unit = f.listStatus(dir).foreach { st =>
        if (st.isDirectory) walk(st.getPath)
        else if (st.getPath.getName.endsWith(".parquet"))
          buf += ((st.getPath.toString.stripPrefix(rootQ + "/"), st.getPath.toUri.getPath))
      }
      walk(dataDir)
      buf.sortBy(_._1).toSeq
    }
    val committed = committedDecoded.map(_._1)
    val decodedToRel: Map[String, String] =
      committedDecoded.map { case (rel, dec) => dec -> rel }.toMap
    // Per-file column bounds, when requested, cost one read of the
    // committed files. Only integral / floating / decimal / string columns
    // are supported; others are silently skipped (pruning for them simply
    // never fires).
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
        val paths = committed.map(p => s"$root/$p")
        val reader =
          if (partitionBy.nonEmpty)
            spark.read.option("basePath", f.makeQualified(dataDir).toString)
          else spark.read
        // the frame's own schema: no footer-inference job
        val base = reader.schema(df.schema).parquet(paths: _*)
        import org.apache.spark.sql.functions.{col, input_file_name, max, min}
        val aggs = statTyped.flatMap { case (c, _) =>
          Seq(min(col(c)).as(s"__min_$c"), max(col(c)).as(s"__max_$c"))
        }
        // per-file aggregate: bounded by the commit's file count
        val perFile = base.groupBy(input_file_name().as("__file"))
          .agg(aggs.head, aggs.tail: _*)
          .collect()
        def norm(t: String, v: Any): Option[Any] = Option(v).map {
          case n: java.lang.Number if t == "i" => java.lang.Long.valueOf(n.longValue())
          case n: java.lang.Number if t == "f" => java.lang.Double.valueOf(n.doubleValue())
          case d: java.math.BigDecimal => d.toPlainString
          case d: scala.math.BigDecimal => d.bigDecimal.toPlainString
          case s => s.toString
        }
        perFile.map { r =>
          // match to the committed listing through the URI-DECODED path
          // (input_file_name() returns a URI-encoded string, the
          // listing holds raw characters — decoding both is the one
          // rendering they must agree on); fall back to the legacy
          // Path.toString keying if the string is not a parsable URI
          // (conservative: worst case the file is kept, never skipped)
          val raw = r.getAs[String]("__file")
          val rel = (try Option(new java.net.URI(raw).getPath)
          catch { case _: Exception => None })
            .flatMap(decodedToRel.get)
            .getOrElse(new Path(raw).toString.stripPrefix(rootQ + "/"))
          rel -> statTyped.map { case (c, t) =>
            c -> ColStats(t, norm(t, r.getAs[Any](s"__min_$c")), norm(t, r.getAs[Any](s"__max_$c")))
          }.toMap
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
    manifest.put("files", committed.toList.asJava)
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

  /** Read the table at the current snapshot (or a past one: time travel).
    *
    * Partitioned snapshots are read with their own `basePath` so the
    * hive partition columns are recovered; snapshots in the chain may mix
    * partition specs (e.g. a legacy unpartitioned append followed by
    * partitioned ones) — they are aligned with `unionByName`.
    */
  def read(spark: SparkSession, root: String, snapshot: Option[Long] = None): DataFrame = {
    val id = snapshot
      .orElse(currentSnapshotId(spark, root))
      .getOrElse(sys.error(s"no current snapshot in $root"))
    readFileGroups(spark, root, effectiveFiles(chainOf(spark, root, id)))
      .getOrElse(spark.emptyDataFrame)
  }

  /** Build the DataFrame over a (file, owning-snapshot) set — the ONE
    * reader-construction path shared by [[read]] and [[readPruned]]
    * (grouped by snapshot so each group reads with its own basePath;
    * groups aligned with `unionByName(allowMissingColumns)` for schema
    * evolution). None = no files.
    */
  private def readFileGroups(
      spark: SparkSession,
      root: String,
      files: Seq[(String, Snapshot)]): Option[DataFrame] = {
    val bySnap = files.groupBy(_._2).toSeq.sortBy(_._1.id)
    val parts = bySnap.collect { case (s, fsOfSnap) if fsOfSnap.nonEmpty =>
      val paths = fsOfSnap.map(_._1).map(p => s"$root/$p")
      val f = fs(spark, root)
      val reader =
        if (s.partitionBy.nonEmpty)
          spark.read.option("basePath", f.makeQualified(new Path(root, s.dataDir)).toString)
        else spark.read
      // the recorded schema spares a footer-inference job per snapshot
      reader.schema(s.schema).parquet(paths: _*)
    }
    // allowMissingColumns: schema evolution — a snapshot written before a
    // column was added reads as null for that column
    parts.reduceOption(_.unionByName(_, allowMissingColumns = true))
  }

  /** Split the snapshot's effective file set by the manifest zone maps:
    * `(kept, skipped)`. A file is skipped only when its recorded bounds
    * PROVE no row can satisfy `predicate`; files without stats (or with
    * stats the evaluator cannot reason about) are conservatively kept.
    * Evaluation happens on the DRIVER over manifest metadata — Spark
    * never lists, opens, or schedules a skipped file.
    */
  def pruneFiles(
      spark: SparkSession,
      root: String,
      predicate: org.apache.spark.sql.Column,
      snapshot: Option[Long] = None): (Seq[(String, Snapshot)], Seq[String]) = {
    val id = snapshot
      .orElse(currentSnapshotId(spark, root))
      .getOrElse(sys.error(s"no current snapshot in $root"))
    val eff = effectiveFiles(chainOf(spark, root, id))
    val node = org.apache.spark.sql.GraftSqlBridge.predicateTree(predicate)
    val (kept, skipped) = eff.partition { case (file, snap) =>
      snap.fileStats.get(file) match {
        case Some(stats) => mayMatch(node, stats)
        case None => true
      }
    }
    (kept, skipped.map(_._1))
  }

  /** Conservative zone-map evaluator: may the predicate match ANY row of
    * a file with these column bounds? Unknown shapes return true. The
    * comparison algebra mirrors Iceberg's InclusiveMetricsEvaluator:
    * And/Or recurse (Not is NOT pushed through — a `true` from a child
    * means "maybe", and !maybe is not "never"); a binary comparison
    * between a stats column and a foldable literal tests the interval.
    */
  private[graft] def mayMatch(
      e: org.apache.spark.sql.GraftSqlBridge.PredTree,
      stats: Map[String, ColStats]): Boolean = {
    import org.apache.spark.sql.GraftSqlBridge.PredTree
    def colName(x: PredTree): Option[String] = x match {
      case PredTree.Attr(n) => Some(n)
      case _ => None
    }
    def litVal(x: PredTree): Option[Any] = x match {
      case PredTree.Lit(v) if v != null => Some(v)
      case _ => None
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
              case d: scala.math.BigDecimal => d.bigDecimal
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
    def binary(l: PredTree, r: PredTree, op: String, flipped: String): Boolean =
      (colName(l), litVal(r), colName(r), litVal(l)) match {
        case (Some(n), Some(v), _, _) => test(n, v, op)
        case (_, _, Some(n), Some(v)) => test(n, v, flipped)
        case _ => true
      }
    // the Column DSL builds function nodes named like SQL operators
    // ("and", ">=", "=", ...)
    e match {
      case PredTree.Fn(name, args) =>
        (name.toLowerCase, args) match {
          case ("and", Seq(l, r)) => mayMatch(l, stats) && mayMatch(r, stats)
          case ("or", Seq(l, r)) => mayMatch(l, stats) || mayMatch(r, stats)
          case ("=" | "==" | "equal_to", Seq(l, r)) => binary(l, r, "=", "=")
          case ("<", Seq(l, r)) => binary(l, r, "<", ">")
          case ("<=", Seq(l, r)) => binary(l, r, "<=", ">=")
          case (">", Seq(l, r)) => binary(l, r, ">", "<")
          case (">=", Seq(l, r)) => binary(l, r, ">=", "<=")
          // col IN (v1, v2, ...) = OR of equalities over the bounds
          case ("in", col +: values) if values.nonEmpty =>
            colName(col) match {
              case Some(n) =>
                values.exists(v => litVal(v) match {
                  case Some(lit) => test(n, lit, "=")
                  case None => true // non-literal member → can't refute
                })
              case None => true
            }
          case _ => true
        }
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

  /** [[read]] + manifest data skipping: semantically identical to
    * `read(spark, root, snapshot).filter(predicate)`, but files whose
    * zone maps refute the predicate never reach the scan at all — the
    * biggest 100 TB read lever after partition pruning (a time-range
    * query over a chronologically-appended table touches only the
    * matching commits' files). Statistics come from commits made with
    * `statsColumns`; stat-less files degrade gracefully to scan+filter.
    */
  def readPruned(
      spark: SparkSession,
      root: String,
      predicate: org.apache.spark.sql.Column,
      snapshot: Option[Long] = None): DataFrame = {
    val (kept, _) = pruneFiles(spark, root, predicate, snapshot)
    readFileGroups(spark, root, kept)
      .getOrElse(read(spark, root, snapshot).limit(0)) // keep the schema
      .filter(predicate)
  }

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
    * drop; the merged rows (current-of-affected anti-join df on the keys,
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
    import org.apache.spark.sql.functions.col
    // __HIVE_DEFAULT_PARTITION__ (null partition values) is out of the
    // path-matching contract — refuse loudly instead of leaving stale
    // duplicates behind
    require(df.filter(partitionBy.map(c => col(c).isNull).reduce(_ || _)).isEmpty,
      "upsertPartitions requires non-null partition values")
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

    val affected: Seq[Seq[String]] = df.select(partitionBy.map(col): _*).distinct()
      .collect().map(r => partitionBy.indices.map(i => String.valueOf(r.get(i))).toSeq).toSeq
    // hive escaping (spaces, slashes, '=') via Spark's own rule, so the
    // path-segment match agrees with what partitionBy-writes produce
    val esc = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName _
    val affectedSegs = affected.map(vals =>
      partitionBy.zip(vals).map { case (c, v) => s"$c=${esc(v)}" }.toSet)
    val removed = eff.map(_._1).filter { f =>
      val segs = f.split("/").toSet
      affectedSegs.exists(_.subsetOf(segs))
    }
    val partFilter = affected
      .map(vals => partitionBy.zip(vals).map { case (c, v) => col(c) === v }.reduce(_ && _))
      .reduceOption(_ || _)
      .getOrElse(org.apache.spark.sql.functions.lit(false))
    val merged = read(spark, root, Some(base)).where(partFilter)
      .join(df.select(keyCols.map(col): _*), keyCols, "left_anti")
      .unionByName(df)
    commitWithParent(merged, root, "replace", partitionBy, None, Some(base), removed)
  }

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
    import org.apache.spark.sql.functions.col
    val cur = currentSnapshotId(spark, root).getOrElse(sys.error(s"no current snapshot in $root"))
    val eff = effectiveFiles(chainOf(spark, root, cur))
    if (!eff.forall(_._2.partitionBy == partitionBy))
      return compact(spark, root, partitionBy)
    def partKey(f: String): Seq[String] =
      f.split("/").toSeq.filter(seg => partitionBy.exists(c => seg.startsWith(c + "=")))
    val byPart = eff.map(_._1).groupBy(partKey)
    val toCompact = byPart.filter(_._2.size > maxFilesPerPartition)
    if (toCompact.isEmpty) return cur
    val removed = toCompact.values.flatten.toSeq
    val filter = toCompact.keys
      .map(_.map { seg =>
        val Array(c, v) = seg.split("=", 2)
        // segments carry hive-ESCAPED values; compare against the real one
        col(c) === org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.unescapePathName(v)
      }.reduce(_ && _))
      .reduce(_ || _)
    // pinned to `cur` like upsertPartitions: a concurrent commit between
    // the file census and this commit collides on cur+1's claim and
    // raises ConcurrentCommitException instead of duplicating its rows
    val rows = read(spark, root, Some(cur)).where(filter)
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
