package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ops.PartitionedSink
import graft.sources.ForkFreeLocalFs

/** Exactly-once micro-batch publishing through [[PartitionedSink]].
  *
  * `foreachBatch` is AT-LEAST-ONCE: after a crash between a sink write
  * and the checkpoint commit, the restarted query REPLAYS the last
  * micro-batch with the same batchId — a bare append would duplicate
  * every row of that batch in the published tree (the failure mode a
  * 100 TB drop-dir deployment hits on its first executor loss). This
  * publisher makes the batch write idempotent on batchId with THREE
  * pieces, all maintained through the Hadoop `FileSystem` API so the
  * same code serves `file:`, `hdfs:` and `viewfs:` destinations:
  *
  *  1. **Attributable data files** (r11): the batch is first written to
  *     an invisible staging subtree (`_graft_stage_<batchId>` —
  *     underscore-prefixed, so parquet readers never see it), then each
  *     data file is MOVED into its final Hive cell under a
  *     batchId-tagged name (`b<batchId>-part-…`). Because every file a
  *     batch ever published is attributable to it by name, a replay can
  *     delete the previous attempt's orphans (scoped to the cells the
  *     batch touches — replays deliver the same data, Spark's replay
  *     contract) before re-moving, so NO crash point between the first
  *     byte of data and the sentinel can double-append. This closes the
  *     r10 residual window (crash after the append's job commit but
  *     before the sentinel) where the replayed batch re-appended.
  *  2. **Per-batch sentinel** (`_graft_batch_<batchId>`, written via
  *     temp-file + atomic rename AFTER the moves): marks "data fully
  *     promoted". A replay that finds the sentinel without the manifest
  *     entry only repairs the manifest, never touches data files.
  *  3. **Versioned manifest** (`_graft_manifest_<batchId, zero-padded>`,
  *     full committed-id list per file): the commit point. Each commit
  *     writes a NEW manifest file (temp + rename onto a name that never
  *     pre-exists — rename never needs overwrite semantics) and then
  *     prunes older manifests + the sentinel + the staging dir; readers
  *     take the highest-numbered manifest, so a crash between the new
  *     manifest's rename and the old one's delete is harmless.
  *
  * Crash-boundary enumeration (all spec-driven in PgnStreamingSpec):
  * mid-staging → stage dir is invisible, replay rewrites it; mid-move /
  * after moves but before sentinel → replay deletes the batch's tagged
  * orphans and re-moves (exactly one copy survives); after sentinel,
  * before manifest → replay repairs the manifest only; after manifest,
  * before cleanup → the manifest short-circuits and the replay just
  * re-runs the cleanup.
  *
  * Deployment contract: ONE streaming query per output directory
  * (foreachBatch delivers batches sequentially within a query, so the
  * manifest read-modify-write is single-writer by construction — two
  * queries sharing an outDir would race it), and the output tree lives
  * and dies WITH its checkpoint: re-pointing a fresh checkpoint (batch
  * ids restart at 0) at a retained tree aliases old batch ids and is
  * not a replay the idempotence machinery can distinguish.
  *
  * **Two marker-commit strategies** (`graft.stream.publish.mode`,
  * r11 verdict #2 — a 100 TB landing zone likely IS an object store, so
  * refusing s3a:/gs:/abfs: outright was correct but limiting):
  *
  *  - **rename** — temp-file + atomic single-file rename, for
  *    filesystems where rename IS atomic: `file:`, `hdfs:`, `viewfs:`
  *    (or any scheme the deployment vouches for via
  *    [[AssumeAtomicRenameKey]]). Forcing `mode=rename` onto another
  *    scheme still refuses loudly.
  *  - **marker** — CONDITIONAL-CREATE commit markers for object
  *    stores: sentinel and manifest are written with
  *    `create(overwrite=false)` + single close, no rename anywhere in
  *    the marker path. Safe on S3-class semantics because (a) a PUT has
  *    atomic VISIBILITY — readers see the whole object or none — and
  *    (b) the single-writer contract above means create-if-absent
  *    needs no cross-writer atomicity. Torn manifests (a posix-like FS
  *    crashing mid-write) are handled by a `#end` terminator line:
  *    readers take the highest TERMINATED manifest and a replay
  *    deletes-and-rewrites an unterminated one. Data promotion tries
  *    `rename` first (s3a implements it as a server-side copy — fine,
  *    data files never need atomicity, their batch attribution makes
  *    partial copies reclaimable) and falls back to copy+delete when
  *    the filesystem cannot rename at all.
  *  - **auto** (default) — rename on the known-atomic schemes, marker
  *    everywhere else. No scheme is refused in auto mode.
  *
  * Per-cell cost: a batch stages a directory, a data file and its `.crc`
  * in every cell it touches, and promote creates the cell's directory in
  * the published tree. Stock `file:` forks a `chmod` (~3.7 ms) for each;
  * the staged write and [[fsFor]]'s file system both go through
  * [[graft.sources.ForkFreeLocalFs]], which sets those modes in process.
  */
object StreamingPublish {

  /** Session conf: set `true` to publish onto a scheme outside the
    * known-atomic-rename allowlist (the deployment asserts its
    * filesystem renames atomically).
    */
  val AssumeAtomicRenameKey = "graft.stream.publish.assumeAtomicRename"

  /** Session conf: `auto` (default) | `rename` | `marker`. */
  val ModeKey = "graft.stream.publish.mode"

  /** Schemes whose `FileSystem.rename` is atomic for single files. */
  private val AtomicRenameSchemes = Set("file", "hdfs", "viewfs")

  private val ManifestPrefix = "_graft_manifest_"

  /** Final line of a complete (non-torn) manifest. */
  private val Terminator = "#end"

  private def sentinelPath(outDir: HPath, batchId: Long) =
    new HPath(outDir, s"_graft_batch_$batchId")

  private def stagePath(outDir: HPath, batchId: Long) =
    new HPath(outDir, s"_graft_stage_$batchId")

  private def manifestPath(outDir: HPath, batchId: Long) =
    new HPath(outDir, f"$ManifestPrefix$batchId%020d")

  private def fsFor(outDir: String, spark: SparkSession): (FileSystem, HPath) = {
    val p = new HPath(outDir)
    val fs = p.getFileSystem(ForkFreeLocalFs.hadoopConf(spark))
    (fs, fs.makeQualified(p))
  }

  /** Resolve the marker-commit strategy for this destination: `true` =
    * rename-based markers, `false` = conditional-create markers. Forcing
    * `mode=rename` onto a scheme outside the atomic set (without the
    * assume override) refuses loudly — the pre-r12 contract.
    */
  private[graft] def useRenameMarkers(
      fs: FileSystem, spark: SparkSession): Boolean = {
    val scheme = Option(fs.getUri.getScheme).getOrElse("file")
    val atomic = AtomicRenameSchemes.contains(scheme) ||
      spark.conf.get(AssumeAtomicRenameKey, "false").toBoolean
    spark.conf.get(ModeKey, "auto") match {
      case "auto"   => atomic
      case "marker" => false
      case "rename" =>
        if (!atomic)
          throw new IllegalStateException(
            s"$ModeKey=rename needs atomic single-file rename for its " +
              s"commit markers; scheme '$scheme:' is not in the " +
              s"known-atomic set " +
              s"${AtomicRenameSchemes.mkString("{", ", ", "}")} " +
              s"(object-store rename is copy+delete). Use $ModeKey=marker " +
              s"(or auto), or set $AssumeAtomicRenameKey=true only if " +
              s"this filesystem's rename is atomic.")
        true
      case other =>
        throw new IllegalArgumentException(
          s"$ModeKey must be 'auto', 'rename' or 'marker', got '$other'")
    }
  }

  private def readString(fs: FileSystem, p: HPath): String = {
    val in = fs.open(p)
    val buf = new java.io.ByteArrayOutputStream()
    try {
      val chunk = new Array[Byte](8192)
      var n = in.read(chunk)
      while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
    } finally in.close()
    new String(buf.toByteArray, UTF_8)
  }

  private def terminated(content: String): Boolean =
    content.split("\n").filter(_.nonEmpty).lastOption.contains(Terminator)

  private def parseManifest(content: String): Set[Long] =
    content.split("\n").filter(l => l.nonEmpty && l != Terminator)
      .map(_.toLong).toSet

  /** Lenient parse for the legacy fallback: the content may be a TORN
    * manifest (the first-ever manifest in marker mode, crashed mid-write
    * on a posix-like FS — no terminated manifest exists to skip down
    * to). A partial trailing line ("#e", a half-written digit run) must
    * degrade to "not committed", not throw on every replay forever.
    * Kept numeric lines are still safe: a manifest for batch N is only
    * written after N's data is fully promoted (sentinel first) and its
    * listed ids all came from a prior terminated manifest, so any id a
    * torn prefix preserves refers to genuinely promoted data.
    */
  private def parseTornSafe(content: String): Set[Long] =
    content.split("\n").filter(_.matches("^\\d+$")).map(_.toLong).toSet

  /** Committed batch ids plus whether a TERMINATED manifest attested
    * them: readers take the highest-numbered terminated manifest (marker
    * mode can leave a torn top manifest after a crash mid-write on a
    * posix-like FS — skip down to the last complete one; rename mode
    * never produces torn manifests). A tree with NO terminated manifest
    * is either pre-r12 legacy format or a first-ever manifest torn
    * mid-write: fall back to the lenient parse UNIONED across ALL
    * manifests (`attested = false` — publishBatch uses it to repair the
    * torn manifest on replay instead of leaving the tree
    * terminator-less). The union matters in the legacy-upgrade window
    * (r13 advice): a pre-r12 tree carries unterminated legacy
    * manifests, and a crash mid-write of the FIRST terminator-suffixed
    * manifest leaves a torn top whose surviving prefix may drop
    * committed ids the legacy manifests below it still record — parsing
    * only the highest would then let the repair's end-of-batch pruning
    * delete that history (data files are untouched either way, but
    * committed-id accounting like resume preGames would undercount).
    * Within one r12+ checkpoint lineage a torn-ONLY tree can only be
    * manifest 0 (every commit leaves a terminated manifest), so there
    * the union degenerates to the single torn content; every id a
    * lenient parse keeps is promote-safe regardless of which manifest
    * recorded it — see parseTornSafe. (Reusing a published tree under a
    * WIPED checkpoint is outside the deployment contract — see the
    * object scaladoc.)
    */
  private[graft] def committedState(fs: FileSystem, outDir: HPath): (Set[Long], Boolean) = {
    if (!fs.exists(outDir)) return (Set.empty, true)
    val manifests = fs.listStatus(outDir)
      .map(_.getPath).filter(_.getName.startsWith(ManifestPrefix))
      .sortBy(_.getName)(Ordering[String].reverse)
    if (manifests.isEmpty) (Set.empty, true)
    else {
      // read each manifest at most once, highest first, stopping at the
      // first terminated one (the common case reads exactly one file);
      // everything read so far feeds the no-terminated fallback
      val read = scala.collection.mutable.ArrayBuffer.empty[String]
      val terminatedContent = manifests.iterator.map { p =>
        val c = readString(fs, p)
        read += c
        c
      }.find(terminated)
      terminatedContent match {
        case Some(c) => (parseManifest(c), true)
        // legacy/torn fallback: no terminated manifest anywhere — union
        // the lenient parse across ALL manifests (`read` holds every
        // one: the exhausted find above read them all), not just the
        // highest, so a torn top's prefix cannot drop committed ids a
        // legacy manifest below it still records (r13 advice; see the
        // scaladoc's legacy-upgrade-window walk-through)
        case None =>
          (read.iterator.map(parseTornSafe)
            .foldLeft(Set.empty[Long])(_ ++ _), false)
      }
    }
  }

  private def committedBatches(fs: FileSystem, outDir: HPath): Set[Long] =
    committedState(fs, outDir)._1

  private[graft] def committedBatches(outDir: String): Set[Long] = {
    val (fs, p) = fsFor(outDir, SparkSession.active)
    committedBatches(fs, p)
  }

  /** Temp-file + rename. A TERMINATED pre-existing destination is a
    * prior identical commit of this idempotent content — accepted
    * without a write; an UNTERMINATED one is a torn marker-mode
    * manifest read back under rename markers (the cross-mode contract:
    * a tree written under `mode=marker` on a posix FS may crash
    * mid-create and then be replayed under auto/rename) — deleted and
    * rewritten, exactly like [[markerWrite]] does, so the replay's
    * repair is mode-independent. Without that delete, `rename` onto
    * the existing torn file returns false, the trailing exists-check
    * would accept it as committed, and the end-of-batch pruning would
    * then delete the legacy manifests whose history the torn file
    * dropped. After the delete, plain `rename` is the atomic commit
    * with no overwrite semantics needed; a false return with the
    * destination present means a concurrent identical commit —
    * accepted.
    */
  private def atomicWrite(fs: FileSystem, path: HPath, content: String): Unit = {
    if (fs.exists(path)) {
      if (terminated(readString(fs, path))) return // prior identical commit
      fs.delete(path, false) // torn: single-writer, nobody reads it
    }
    fs.mkdirs(path.getParent)
    val tmp = new HPath(path.getParent, path.getName + ".tmp")
    val out = fs.create(tmp, true)
    try out.write(content.getBytes(UTF_8)) finally out.close()
    if (!fs.rename(tmp, path) && !fs.exists(path))
      throw new java.io.IOException(s"atomic commit failed: $tmp -> $path")
  }

  /** Conditional-create marker commit (marker mode): write the final
    * path directly with `create(overwrite=false)` — no rename. On an
    * object store the PUT is visible all-or-nothing; an existing
    * destination means a previous identical commit of this idempotent
    * content (the single-writer contract excludes true races) —
    * accepted, except a TORN manifest (unterminated content), which a
    * replay deletes and rewrites.
    */
  private def markerWrite(fs: FileSystem, path: HPath, content: String): Unit = {
    if (fs.exists(path)) {
      if (terminated(readString(fs, path))) return // prior identical commit
      fs.delete(path, false) // torn: single-writer, nobody reads it
    }
    fs.mkdirs(path.getParent)
    val out =
      try fs.create(path, false)
      catch {
        // concurrent identical commit (e.g. a replayed sentinel);
        // RawLocalFileSystem reports it as a plain IOException
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => return
        case _: java.io.IOException if fs.exists(path) => return
      }
    try out.write(content.getBytes(UTF_8)) finally out.close()
  }

  private def commitMarker(fs: FileSystem, renameMarkers: Boolean,
      path: HPath, content: String): Unit =
    if (renameMarkers) atomicWrite(fs, path, content)
    else markerWrite(fs, path, content)

  private def dataFiles(fs: FileSystem, dir: HPath): Seq[HPath] =
    ForkFreeLocalFs.walkFiles(fs, dir)(_.startsWith("part-")).map(_.getPath)

  /** Move every staged data file into its final cell under a
    * batchId-tagged name, deleting the batch's orphans from a previous
    * crashed attempt in each touched cell first. Returns the number of
    * files moved.
    */
  private def promoteStaged(fs: FileSystem, stage: HPath, outDir: HPath,
      batchId: Long, copyFallback: Boolean): Int = {
    val tag = s"b$batchId-"
    val stagePrefix = fs.makeQualified(stage).toUri.getPath
    val cleaned = scala.collection.mutable.Set.empty[String]
    val staged = dataFiles(fs, stage)
    staged.foreach { p =>
      val full = p.toUri.getPath
      require(full.startsWith(stagePrefix + "/"),
        s"staged file $full escapes $stagePrefix")
      val rel = full.substring(stagePrefix.length + 1)
      val cell = rel.lastIndexOf('/') match {
        case -1 => ""
        case i  => rel.substring(0, i)
      }
      val destDir = if (cell.isEmpty) outDir else new HPath(outDir, cell)
      if (cleaned.add(cell) && fs.exists(destDir))
        fs.listStatus(destDir).map(_.getPath)
          .filter(_.getName.startsWith(tag))
          .foreach(orphan => fs.delete(orphan, false))
      fs.mkdirs(destDir)
      val dest = new HPath(destDir, tag + p.getName)
      if (!fs.rename(p, dest)) {
        // marker mode: a store that cannot rename at all still promotes
        // via copy+delete — safe for DATA files because a crash between
        // copy and delete leaves only a tagged dest (reclaimed by the
        // orphan sweep above on replay) plus a staged source (wiped by
        // the replay's stage rewrite). Reader-visibility of the copy
        // leans on marker mode's stated requirement (a): atomic PUT
        // visibility — on a store that exposes in-progress creates
        // (posix-visible but rename-less, which no real object store
        // is), a concurrent reader could see a footerless file until
        // the copy closes
        if (!copyFallback)
          throw new java.io.IOException(s"promote failed: $p -> $dest")
        val out = fs.create(dest, true)
        val in = fs.open(p)
        try {
          val chunk = new Array[Byte](1 << 20)
          var n = in.read(chunk)
          while (n >= 0) { out.write(chunk, 0, n); n = in.read(chunk) }
        } finally { in.close(); out.close() }
        fs.delete(p, false)
      }
    }
    staged.size
  }

  /** Idempotently append one micro-batch to the partitioned tree —
    * replay-safe at every crash boundary (see the object scaladoc for
    * the enumeration and the deployment contract). A batch whose staged
    * write holds no data file (an empty batch) commits nothing: no cell,
    * sentinel or manifest entry, so replaying it is a no-op too. Telling
    * empty from the write's own output spares a separate probe job that
    * would parse part of the batch a second time.
    */
  def publishBatch(batch: DataFrame, batchId: Long,
      partCols: Seq[String], outDir: String): Unit = {
    val spark = batch.sparkSession
    val (fs, out) = fsFor(outDir, spark)
    val renameMarkers = useRenameMarkers(fs, spark)
    val (committed, attested) = committedState(fs, out)
    val sentinel = sentinelPath(out, batchId)
    val stage = stagePath(out, batchId)
    if (committed.contains(batchId) && !attested) {
      // the batch's committed-ness came from a TORN manifest (its ids
      // are promoted-safe — see committedState — but the tree must not
      // stay terminator-less forever, or every future read keeps paying
      // the lenient fallback): rewrite the manifest terminated. Both
      // commitMarker forms delete an unterminated pre-existing dest
      // themselves (single-writer: nobody trusts a torn manifest
      // mid-flight).
      commitMarker(fs, renameMarkers, manifestPath(out, batchId),
        committed.toSeq.sorted.mkString("", "\n", s"\n$Terminator\n"))
    }
    if (!committed.contains(batchId)) {
      if (!fs.exists(sentinel)) {
        fs.delete(stage, true)
        PartitionedSink.write(batch, partCols, stage.toString)
        if (promoteStaged(fs, stage, out, batchId, copyFallback = !renameMarkers) == 0) {
          fs.delete(stage, true)
          return
        }
        commitMarker(fs, renameMarkers, sentinel, s"done\n$Terminator\n")
      }
      // manifests are terminator-suffixed in BOTH modes, so a tree
      // written by rename mode reads back identically under marker mode
      // (and vice versa) — only pre-r12 legacy manifests lack it
      commitMarker(fs, renameMarkers, manifestPath(out, batchId),
        (committed + batchId).toSeq.sorted
          .mkString("", "\n", s"\n$Terminator\n"))
    }
    // cleanup is replay-safe debris pruning: the sentinel is only
    // load-bearing inside the promote→commit window, older manifests are
    // superseded by the one just written, the stage dir is drained
    fs.delete(sentinel, false)
    fs.delete(stage, true)
    fs.listStatus(out).map(_.getPath)
      .filter(p => p.getName.startsWith(ManifestPrefix) &&
        p.getName < manifestPath(out, batchId).getName)
      .foreach(old => fs.delete(old, false))
  }

  /** The `foreachBatch` function for a partitioned streaming publish —
    * the streaming twin of `ChessExport.publish`'s sink tail.
    */
  def partitionedPublisher(partCols: Seq[String], outDir: String)
      : (DataFrame, Long) => Unit =
    (batch, id) => publishBatch(batch, id, partCols, outDir)
}
