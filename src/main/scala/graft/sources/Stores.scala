package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** The one bucketed-landing writer chain shared by the at-rest stores
  * ([[graft.argo.AtlasStore]], [[DocStore]]) so they cannot drift on
  * mode, format, sort order or external-path handling. */
object Stores {
  def landBucketed(df: DataFrame, table: String, buckets: Int,
                   cols: Seq[String], path: Option[String]): Unit = {
    val w = df.write.mode("overwrite").format("parquet")
      .bucketBy(buckets, cols.head, cols.tail: _*)
      .sortBy(cols.head, cols.tail: _*)
    path.fold(w)(p => w.option("path", p)).saveAsTable(table)
  }

  /** The store bound to corpus `d` by the session conf `key`, whose value
    * is `"<corpusDir>=<store>"`: the store part when the corpus part is
    * `d`, else None. The corpusDir guard keeps a store from silently
    * serving a different corpus than the one a query names; each caller
    * checks that the store exists and picks its own fallback. */
  def boundTo(s: SparkSession, key: String, d: String): Option[String] =
    s.conf.get(key, "").split("=", 2) match {
      case Array(dir, store) if dir == d => Some(store)
      case _ => None
    }

  // ---- snapshot manifests (VERDICT r13 task 6) ---------------------------
  // `_manifest_v<N>`: a text file naming the directory's LIVE data files,
  // written ATOMICALLY (tmp + rename) after every mutation of a
  // manifest-managed directory. Guarded readers resolve the NEWEST
  // manifest and hand Spark that explicit file list instead of a
  // directory listing — so a reader concurrent with a compaction swap
  // sees a complete OLD snapshot (the files still exist, inside the
  // compactor's tmp/replaced dirs, until the NEW manifest commits)
  // rather than a half-swapped listing or the old fail-fast exception.
  // This is the one version of snapshot isolation a directory store can
  // give without a log-structured table format: one writer, versioned
  // file lists, readers pinned to the version current at plan time.
  // Directories without a manifest keep the lock-based fail-fast
  // contract ([[assertNotCompacting]]) unchanged.

  private val ManifestPrefix = "_manifest_v"

  private def manifestVersion(name: String): Int =
    try name.stripPrefix(ManifestPrefix).toInt catch { case _: Throwable => -1 }

  /** The newest manifest under `dir`, as (version, file names). */
  private[graft] def latestManifest(fs: FileSystem,
                                    dir: Path): Option[(Int, Seq[String])] = {
    if (!fs.exists(dir)) return None
    val ms = fs.listStatus(dir)
      .filter(f => f.isFile && f.getPath.getName.startsWith(ManifestPrefix))
      .map(f => (manifestVersion(f.getPath.getName), f.getPath))
      .filter(_._1 >= 0)
    if (ms.isEmpty) None
    else {
      val (v, p) = ms.maxBy(_._1)
      val in = fs.open(p)
      val body = try {
        val bs = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](8192)
        var n = in.read(buf)
        while (n >= 0) { bs.write(buf, 0, n); n = in.read(buf) }
        bs.toString("UTF-8")
      } finally in.close()
      Some((v, body.split("\n").toSeq.filter(_.nonEmpty)))
    }
  }

  /** Write `_manifest_v<N+1>` naming `files` (atomic: tmp + rename), and
    * prune manifests older than the previous version — the previous one
    * is RETAINED so a reader that resolved it a moment ago still names
    * files that exist (data files of superseded versions live until the
    * next compaction's tmp cleanup). Returns the new version. */
  private[graft] def writeManifest(fs: FileSystem, dir: Path,
                                   files: Seq[String]): Int = {
    val next = latestManifest(fs, dir).map(_._1).getOrElse(0) + 1
    val tmp = new Path(dir, s"$ManifestPrefix$next.tmp")
    val out = fs.create(tmp, true)
    try out.write((files.mkString("\n") + "\n").getBytes("UTF-8"))
    finally out.close()
    // the rename IS the commit: HDFS-style FileSystems signal failure by
    // returning false, not throwing — treating that as success would let
    // rewriteDir vacuum files the still-current OLD manifest names
    require(fs.rename(tmp, new Path(dir, s"$ManifestPrefix$next")),
      s"manifest commit rename failed for $ManifestPrefix$next under $dir")
    fs.listStatus(dir)
      .filter(f => f.isFile && f.getPath.getName.startsWith(ManifestPrefix))
      .filter { f =>
        val v = manifestVersion(f.getPath.getName)
        v >= 0 && v < next - 1
      }
      .foreach(f => fs.delete(f.getPath, false))
    next
  }

  /** Publish a manifest of the CURRENT top-level `part-*` files — called
    * by manifest-managed stores after every land/append/compaction. */
  def publishManifest(s: SparkSession, root: String): Unit = {
    val dir = new Path(root)
    val fs = dir.getFileSystem(s.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(dir)
      .filter(f => f.isFile && f.getPath.getName.startsWith("part-"))
      .map(_.getPath.getName).toSeq.sorted
    writeManifest(fs, dir, files)
  }

  /** The newest manifest's explicit file list, ready for a scan. Under
    * the manifest-as-commit swap ([[rewriteDir]]) every named file lives
    * in the directory for the whole window the manifest is current —
    * new files join before the commit rename, superseded ones leave only
    * after — so resolution is direct (Spark cannot read files inside
    * `_`-hidden staging dirs anyway). Returns None when the directory
    * carries no manifest: callers fall back to the lock-based fail-fast
    * contract ([[assertNotCompacting]]). */
  def snapshotFiles(s: SparkSession, root: String): Option[Seq[String]] = {
    val dir = new Path(root)
    val fs = dir.getFileSystem(s.sparkContext.hadoopConfiguration)
    latestManifest(fs, dir).map(_._2.map(n => new Path(dir, n).toString))
  }

  /** Append an ingest batch into an existing bucketed store — the
    * incremental-maintenance path the layout family needs at 100 TB: a
    * sync writes O(batch), never re-lands the corpus (the q115/q116
    * merge-not-rescan discipline applied to the stores themselves).
    * Spark hash-routes the appended rows into the SAME bucket scheme
    * (the spec must match the table's), so consumers stay exchange-free
    * after any number of appends; each append adds one file set per
    * bucket, which drops only the per-bucket SORT property (Spark plans
    * a sort when it needs one) — clustering, the property the joins and
    * aggregations rely on, is preserved (StoreAppendSpec pins parity
    * AND the no-exchange plan on an appended store). Compact with
    * [[compactBuckets]] when file counts warrant. */
  def appendBucketed(df: DataFrame, table: String, buckets: Int,
                     cols: Seq[String]): Unit = {
    // action-time lock check (r13 advice: guardedTable's check is
    // plan-time only — lazy frames built before a compaction window
    // opened could otherwise land an append INSIDE the window, adding
    // files the compactor's listing never saw)
    assertNotCompacting(df.sparkSession, new Path(
      df.sparkSession.sessionState.catalog.getTableMetadata(
        df.sparkSession.sessionState.sqlParser.parseTableIdentifier(table))
        .location))
    df.write.mode("append").format("parquet")
      .bucketBy(buckets, cols.head, cols.tail: _*)
      .sortBy(cols.head, cols.tail: _*)
      .saveAsTable(table)
  }

  /** Marker a compactor holds while its swap windows are open. Readers
    * that resolve a store through the family's loaders check it and FAIL
    * FAST instead of silently scanning a half-swapped directory (see
    * [[assertNotCompacting]]). */
  private[graft] val CompactLock = "_compact_lock"

  /** Reader-side guard for the compaction window (VERDICT r12 task 6):
    * between [[swapCompacted]]'s rename of the old files into
    * `replaced/` and the rename of the merged file in, a LISTING of the
    * directory sees neither file set — a concurrent scan would silently
    * MISS rows, not error. This engine has no log-based snapshot
    * isolation (that is a lakehouse table format's job), so the contract
    * is: compaction requires no concurrent readers, and the loaders
    * enforce the half of it they can see — a read that STARTS inside the
    * window throws here instead of returning a partial store. A scan
    * planned BEFORE the window opened (a cached file listing) is outside
    * any marker's reach: quiesce in-flight queries before compacting, or
    * expect FileNotFoundException-and-retry semantics from them. A lock
    * left by a CRASHED compactor keeps readers failing fast until the
    * next compaction call settles the directory ([[recoverCompaction]])
    * and releases it. */
  def assertNotCompacting(s: SparkSession, dir: Path): Unit = {
    val fs = dir.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(new Path(dir, CompactLock)))
      throw new IllegalStateException(
        s"$dir is inside a compaction window ($CompactLock present): " +
          "a scan now could silently miss rows. Re-run after the " +
          "compactor finishes — or, if it crashed, re-run compaction " +
          "to settle the directory and release the lock.")
  }

  /** [[assertNotCompacting]] resolved through the catalog — the shared
    * loader chain for the bucketed stores, so every conf-wired consumer
    * gets the reader-side guard without its own location lookup code. */
  def guardedTable(s: SparkSession, table: String): org.apache.spark.sql.DataFrame = {
    val meta = s.sessionState.catalog.getTableMetadata(
      s.sessionState.sqlParser.parseTableIdentifier(table))
    assertNotCompacting(s, new Path(meta.location))
    s.table(table)
  }

  /** Hold the reader lock across `body`'s swap windows. On SUCCESS the
    * lock releases; on a THROW the directories are SETTLED
    * ([[recoverCompaction]] rolls any open window back or forward)
    * before the lock releases — a thrown swap (transient FS error, OOM)
    * must not expose a half-swapped listing the moment the lock drops,
    * which would be exactly the silent partial scan the lock exists to
    * prevent. Only JVM death leaves the lock behind, and then readers
    * fail fast until the next compaction call settles and releases. */
  private def withLock(fs: FileSystem, dir: Path,
                       settleDirs: => Seq[Path])(body: => Unit): Unit = {
    val lock = new Path(dir, CompactLock)
    fs.create(lock, true).close()
    try { body; fs.delete(lock, false) }
    catch { case t: Throwable =>
      try settleDirs.foreach(recoverCompaction(fs, _))
      finally fs.delete(lock, false)
      throw t
    }
  }

  /** Drop a lock a CRASHED compactor left behind — called once the
    * directory has been settled by [[recoverCompaction]], at which point
    * readers may trust the listing again. */
  private def dropStaleLock(fs: FileSystem, dir: Path): Unit =
    fs.delete(new Path(dir, CompactLock), false)

  /** Spark's bucket-file naming (`BucketingUtils`): the LAST `_<digits>`
    * group before the extension is the bucket id. */
  private val BucketFile = """.*_(\d+)(?:\..*)?$""".r

  private def bucketIdOf(name: String): Int = name match {
    case BucketFile(b) => b.toInt
    case _             => -1
  }

  /** Settle any interrupted compaction under `dir` before trusting its
    * listing. Single-file swaps ([[swapCompacted]]) commit via ONE atomic
    * rename, so a tmp still holding its merged part file never committed
    * — roll the replaced files back; one without it committed — deleting
    * the tmp completes the cleanup. Multi-file rewrites ([[rewriteDir]])
    * commit via a `_commit` MARKER written after the old files moved out
    * and before the new files move in: a marker means roll FORWARD (move
    * the remaining new files in), no marker means roll back. Either way
    * the directory is consistent afterwards. Returns whether anything
    * was settled. */
  private def recoverCompaction(fs: FileSystem, dir: Path): Boolean = {
    val leftovers = fs.listStatus(dir).filter(st => st.isDirectory &&
      st.getPath.getName.startsWith("_compact_tmp_"))
    // MANIFEST-managed dirs (the events Z-store) settle by the
    // manifest-as-commit rule: the newest `_manifest_v<N>` IS the truth —
    // drop the staging tmp and any data file the manifest does not name.
    // One rule covers both crash sides: pre-commit (manifest = old list;
    // moved-in new strays deleted, old set intact) and post-commit
    // (manifest = new list; superseded old files finish leaving).
    if (leftovers.nonEmpty) latestManifest(fs, dir) match {
      case Some((_, names)) =>
        val live = names.toSet
        leftovers.foreach(st => fs.delete(st.getPath, true))
        fs.listStatus(dir)
          .filter(f => f.isFile && f.getPath.getName.startsWith("part-") &&
            !live(f.getPath.getName))
          .foreach(f => fs.delete(f.getPath, false))
        return true
      case None => // fall through to the marker protocol below
    }
    leftovers.foreach { st =>
      val parts = fs.listStatus(st.getPath)
        .filter(f => f.isFile && f.getPath.getName.startsWith("part-"))
      if (fs.exists(new Path(st.getPath, "_commit"))) {
        // multi-file commit was in flight: finish moving the new files in
        parts.foreach(f =>
          fs.rename(f.getPath, new Path(dir, f.getPath.getName)))
      } else if (parts.nonEmpty) {
        // commit never ran: roll back the replaced files
        val replaced = new Path(st.getPath, "replaced")
        if (fs.exists(replaced)) fs.listStatus(replaced)
          .foreach(f => fs.rename(f.getPath, new Path(dir, f.getPath.getName)))
      } // else: single-file commit ran; replaced/ contents are superseded
      fs.delete(st.getPath, true)
    }
    leftovers.nonEmpty
  }

  /** The crash-safe swap both compactors share: (1) write `merged` into
    * a hidden `_compact_tmp_<tag>` under `dir` (invisible to scans),
    * (2) rename the old files into `replaced/` under it (atomic per-file
    * renames — out of the directory's view), (3) rename the new file
    * into `dir` under `newName`, (4) drop the tmp. [[recoverCompaction]]
    * settles any window a crash leaves. */
  private def swapCompacted(fs: FileSystem, dir: Path, tag: String,
                            files: Seq[FileStatus], merged: DataFrame,
                            newName: String): Unit = {
    val tmp = new Path(dir, s"_compact_tmp_$tag")
    merged.write.mode("overwrite").option("compression", "snappy")
      .parquet(tmp.toString)
    val part = fs.listStatus(tmp)
      .find(f => f.isFile && f.getPath.getName.startsWith("part-"))
      .getOrElse(sys.error(s"compaction wrote no data file for $tag"))
      .getPath
    val replaced = new Path(tmp, "replaced")
    fs.mkdirs(replaced)
    files.foreach(f =>
      fs.rename(f.getPath, new Path(replaced, f.getPath.getName)))
    fs.rename(part, new Path(dir, newName))
    fs.delete(tmp, true)
  }

  /** Compact the oversized buckets of an appended store back to one
    * sorted file each — the maintenance half of [[appendBucketed]].
    * Appends accumulate one file set per bucket per sync, and Spark only
    * TRUSTS a bucket's sort order when the bucket is a single file, so an
    * appended store's consumers re-sort scan-side; at 100 TB a full
    * re-land to fix that is exactly what the append path exists to avoid.
    * Buckets are per-bucket-addressable by file naming, so this rewrites
    * ONLY buckets whose file count exceeds `maxFilesPerBucket` — each in
    * one small job reading just that bucket's files (rows are already
    * hash-routed; no shuffle, no re-hash — coalesce, not repartition:
    * an exchange would write and re-read the whole bucket for nothing) —
    * and leaves the rest untouched.
    *
    * Each merge is ONE task — the price of the single-file sort property
    * Spark trusts — so compaction assumes the bucket count was sized for
    * task-fit buckets, which the landing guidance already requires
    * (buckets ~2-4× the cluster's cores at the target scale); a bucket
    * too big to merge in one task is a store that needs MORE buckets,
    * not a smarter compactor.
    *
    * Crash safety (single concurrent maintainer, like every lakehouse
    * compactor — and NO CONCURRENT READERS, the contract
    * [[assertNotCompacting]] documents and the loaders enforce via the
    * `_compact_lock` this method holds across its swap windows): the
    * [[swapCompacted]] protocol, settled on re-entry by
    * [[recoverCompaction]].
    *
    * The default `maxFilesPerBucket = 1` is what the sort-restoration
    * claim REQUIRES: Spark only trusts a bucket's sort order when the
    * bucket is a single file, so any bucket left at 2+ files keeps
    * costing its consumers a scan-side sort. Pass a higher cap only to
    * bound file-count growth cheaply between real compactions (those
    * runs restore clustering economics, not the trusted sort). Returns
    * the number of buckets rewritten. */
  def compactBuckets(s: SparkSession, table: String, cols: Seq[String],
                     maxFilesPerBucket: Int = 1): Int = {
    val loc = s.sql(s"DESC FORMATTED $table").collect()
      .find(_.getString(0) == "Location").map(_.getString(1))
      .getOrElse(sys.error(s"no location in catalog for table $table"))
    val dir = new Path(loc)
    val fs = dir.getFileSystem(s.sparkContext.hadoopConfiguration)

    if (recoverCompaction(fs, dir)) s.catalog.refreshTable(table)
    dropStaleLock(fs, dir) // the directory is settled: readers may return

    val oversized = fs.listStatus(dir).toSeq
      .filter(f => f.isFile && f.getPath.getName.startsWith("part-"))
      .groupBy(f => bucketIdOf(f.getPath.getName))
      .filter { case (b, fls) => b >= 0 && fls.size > maxFilesPerBucket }

    if (oversized.nonEmpty) withLock(fs, dir, Seq(dir)) {
      oversized.foreach { case (bucket, files) =>
        // one merged file, re-sorted on the bucket cols (restoring the
        // property the appends dropped), named with the bucket-id suffix
        // the bucketed scan recognizes
        swapCompacted(fs, dir, bucket.toString, files,
          s.read.parquet(files.map(_.getPath.toString): _*)
            .coalesce(1).sortWithinPartitions(cols.map(col): _*),
          f"part-00000-${java.util.UUID.randomUUID}%s_$bucket%05d.c000.snappy.parquet")
      }
      s.catalog.refreshTable(table)
    }
    oversized.size
  }

  /** Whole-directory compacting REWRITE — the multi-file sibling of
    * [[compactBuckets]] for layouts whose files are range-clustered, not
    * bucket-addressable (the events Z-store: appends add per-batch file
    * sets whose rectangles overlap the landing's, degrading pruning
    * granularity until a re-sort). Reads every top-level `part-*` file
    * under `root`, hands the frame to `write` (which must land the
    * rewritten file set at the tmp path it is given — the caller brings
    * its own clustering, e.g. [[Layout.writeZOrdered]] by the frozen
    * curve), then swaps atomically-per-file under the
    * `_compact_tmp` protocol extended with a `_commit` marker: old files
    * move into `replaced/` FIRST, the marker commits, the new files move
    * in, the tmp drops. A crash is settled by [[recoverCompaction]] —
    * roll back before the marker, roll FORWARD after it. Sidecar dirs
    * (`_bounds`, `_curve`, …) are untouched: only top-level data files
    * swap. The `_compact_lock` is held across the window, so guarded
    * readers fail fast rather than see a half-swapped listing.
    * Returns the number of data files replaced. */
  def rewriteDir(s: SparkSession, root: String)
                (write: (org.apache.spark.sql.DataFrame, String) => Unit): Int = {
    val dir = new Path(root)
    val fs = dir.getFileSystem(s.sparkContext.hadoopConfiguration)
    recoverCompaction(fs, dir)
    dropStaleLock(fs, dir)
    val files = fs.listStatus(dir).toSeq
      .filter(f => f.isFile && f.getPath.getName.startsWith("part-"))
    if (files.isEmpty) return 0
    val tmp = new Path(dir, "_compact_tmp_rewrite")
    val manifested = latestManifest(fs, dir).isDefined
    withLock(fs, dir, Seq(dir)) {
      write(s.read.parquet(files.map(_.getPath.toString): _*), tmp.toString)
      // only the rewritten DATA files take part in the swap
      val newParts = fs.listStatus(tmp)
        .filter(f => f.isFile && f.getPath.getName.startsWith("part-"))
      require(newParts.nonEmpty, s"rewrite wrote no data files under $tmp")
      if (manifested) {
        // MANIFEST-AS-COMMIT swap (VERDICT r13 task 6): the new files
        // join the directory FIRST — a snapshot reader resolving the
        // still-current old manifest sees exactly the old set, all of
        // it still in place — then the manifest rename commits the new
        // snapshot atomically, and only then do the superseded files
        // leave. A read issued anywhere in the window resolves ONE
        // complete version; the residual race is a reader that fetched
        // the old list and reaches its files only after this vacuum —
        // the standard lakehouse plan-vs-scan gap, bounded to the swap
        // instant (fresh job names can never collide with the old set).
        newParts.foreach(f =>
          require(fs.rename(f.getPath, new Path(dir, f.getPath.getName)),
            s"move-in rename failed for ${f.getPath} — aborting pre-commit"))
        writeManifest(fs, dir, newParts.map(_.getPath.getName).toSeq.sorted)
        files.foreach(f => fs.delete(f.getPath, false))
        fs.delete(tmp, true)
      } else {
        // marker protocol for manifest-less dirs: old files out first,
        // `_commit` marks roll-forward, new files in
        val replaced = new Path(tmp, "replaced")
        fs.mkdirs(replaced)
        files.foreach(f =>
          fs.rename(f.getPath, new Path(replaced, f.getPath.getName)))
        fs.create(new Path(tmp, "_commit"), true).close()
        newParts.foreach(f =>
          fs.rename(f.getPath, new Path(dir, f.getPath.getName)))
        fs.delete(tmp, true)
      }
    }
    s.catalog.refreshByPath(root)
    files.size
  }

  /** Compact the oversized PARTITION DIRECTORIES of a directory-
    * partitioned store — the maintenance half of the partitioned appends
    * ([[VecStore.appendPartitioned]] cells, the `_pqcodes` sidecar):
    * each sync adds a file set to every touched partition, and at 100 TB
    * the cost of a long-lived store is its FILE COUNT (opens, listings,
    * footer reads) — a full re-land to fix it is what the append path
    * exists to avoid. Rewrites ONLY single-level `k=v` directories whose
    * data-file count exceeds `maxFilesPerDir`, one task each reading
    * just that directory's files (rows are already routed; the partition
    * value lives in the DIRECTORY NAME, so the merged file needs no
    * re-derivation and partition pruning is untouched). No sort property
    * is involved — partitioned stores prune by directory, not order.
    * Same [[swapCompacted]]/[[recoverCompaction]] crash protocol as
    * [[compactBuckets]]. Returns the number of directories rewritten. */
  def compactPartitions(s: SparkSession, root: String,
                        maxFilesPerDir: Int = 4): Int = {
    val rootP = new Path(root)
    val fs = rootP.getFileSystem(s.sparkContext.hadoopConfiguration)
    val parts = fs.listStatus(rootP).filter(st => st.isDirectory &&
      st.getPath.getName.contains("=") &&
      !st.getPath.getName.startsWith("_") &&
      !st.getPath.getName.startsWith("."))
    var touched = false
    var n = 0
    // ONE root-level lock across every partition's swap window — the
    // same no-concurrent-readers contract as compactBuckets, checked by
    // the path-based loaders (VecStore.load) via assertNotCompacting
    parts.foreach(p => touched |= recoverCompaction(fs, p.getPath))
    dropStaleLock(fs, rootP)
    withLock(fs, rootP, parts.map(_.getPath).toSeq) {
      parts.foreach { p =>
        val files = fs.listStatus(p.getPath).toSeq
          .filter(f => f.isFile && f.getPath.getName.startsWith("part-"))
        if (files.size > maxFilesPerDir) {
          swapCompacted(fs, p.getPath, "0", files,
            s.read.parquet(files.map(_.getPath.toString): _*).coalesce(1),
            s"part-00000-${java.util.UUID.randomUUID}.c000.snappy.parquet")
          n += 1
          touched = true
        }
      }
    }
    if (touched) s.catalog.refreshByPath(root)
    n
  }
}
