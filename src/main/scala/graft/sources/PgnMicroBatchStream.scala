package graft.sources

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, MicroBatchStream, Offset, ReadLimit, ReadMaxBytes, ReadMaxFiles, SupportsTriggerAvailableNow}

/** Micro-batch streaming over a PGN drop directory: each batch processes the
  * .pgn files that appeared since the last offset — the streaming form of
  * the reference's coarse-grained incrementality (new monthly archive ⇒ new
  * source key; SURVEY.md §2.8), runnable with `Trigger.AvailableNow` for
  * catch-up-then-stop semantics.
  *
  * Offsets: the discovered file list in discovery order (new files sorted by
  * path appended at each poll), serialized into the offset JSON so restarts
  * replay identically from the checkpoint. `game_id` uses the discovery
  * index as fileIndex — stable for a given checkpoint lineage. The
  * file-list-in-offset design is O(#files) per offset; a production variant
  * would compact to (index → manifest file) like Spark's FileStreamSource
  * log. Files are assumed immutable once dropped (same as the reference's
  * DVC-tracked archives).
  */
class PgnMicroBatchStream(options: Map[String, String], requiredCols: Array[String])
    extends MicroBatchStream with SupportsTriggerAvailableNow {

  private val conf = org.apache.spark.sql.SparkSession.active
    .sparkContext.hadoopConfiguration
  private val serConf = new org.apache.spark.util.SerializableConfiguration(conf)

  private val paths: Seq[String] = PgnFiles.paths(options)

  // discovery-ordered file list (grows monotonically)
  private val discovered = mutable.LinkedHashSet.empty[String]
  // file sizes seeded by every discovery listing (the listing already
  // held each FileStatus): admission valves and batch planning read
  // from here instead of issuing one getFileStatus RPC per new file —
  // at 100 TB catch-up scale that difference is millions of driver
  // round trips per restart. The per-path fallback below covers only
  // files that reach planning without a listing in THIS process (a
  // replayed checkpoint batch planned before the first poll).
  private val sizes = mutable.HashMap.empty[String, Long]

  private def sizeOf(p: String): Long =
    sizes.getOrElseUpdate(p, {
      val hp = new Path(p)
      hp.getFileSystem(conf).getFileStatus(hp).getLen
    })

  private def listFiles(): Seq[String] =
    PgnFiles.list(paths, conf).map { f =>
      val p = f.getPath.toString
      sizes(p) = f.getLen
      p
    }

  override def initialOffset(): Offset = PgnOffset(Seq.empty)

  override def latestOffset(): Offset = {
    listFiles().foreach(discovered += _) // append-only, new files in path order
    PgnOffset(discovered.toSeq)
  }

  // ---- native Trigger.AvailableNow (r11): without SupportsTrigger-
  // AvailableNow, MicroBatchExecution falls back to single-batch (Once)
  // semantics and WARNS that a restart with an UNCOMMITTED batch may not
  // process new data — the engine replays the checkpointed batch and
  // stops, silently skipping files dropped after the crashed run's
  // offset. With native support the engine replays the uncommitted
  // batch, then keeps triggering until the frozen catch-up cap is
  // reached — the drop-dir contract (drain everything present at query
  // start, then stop).

  /** Set by the engine before the run; the cap itself is computed
    * LAZILY at the first `latestOffset(start, limit)` call — by then the
    * checkpointed start offset has seeded [[discovered]], so the frozen
    * list extends the checkpoint's discovery order instead of racing it
    * (prepareForTriggerAvailableNow can be invoked before
    * deserializeOffset; listing first would re-derive fileIndex — and
    * therefore game_id lineage — from a freshly-sorted order).
    */
  private var capRequested = false
  private var availableNowCap: Option[PgnOffset] = None

  override def prepareForTriggerAvailableNow(): Unit = capRequested = true

  /** Admission control (r11): `maxFilesPerTrigger` / `maxBytesPerTrigger`
    * read options bound each micro-batch during a backlog catch-up — a
    * 100 TB drop-dir restart must NOT admit the whole backlog into ONE
    * batch (state, shuffle and publish all scale with batch size; the
    * standard FileStreamSource valve). Under AvailableNow the engine
    * keeps triggering bounded batches until the frozen cap is drained.
    */
  override def getDefaultReadLimit: ReadLimit = {
    val lims = Seq(
      options.get("maxfilespertrigger").orElse(options.get("maxFilesPerTrigger"))
        .map(n => ReadLimit.maxFiles(n.toInt)),
      options.get("maxbytespertrigger").orElse(options.get("maxBytesPerTrigger"))
        .map(b => ReadLimit.maxBytes(b.toLong))).flatten
    lims match {
      case Seq()  => ReadLimit.allAvailable()
      case Seq(l) => l
      case ls     => ReadLimit.compositeLimit(ls.toArray)
    }
  }

  /** Truncate the new-file tail under a read limit. Every limit is a
    * prefix cut in discovery order, so composite = sequential application;
    * maxBytes always admits at least one file (progress guarantee, same
    * as FileStreamSource) sized via the discovery listing.
    */
  private def admit(newFiles: Seq[String], limit: ReadLimit): Seq[String] =
    limit match {
      case f: ReadMaxFiles => newFiles.take(f.maxFiles())
      case b: ReadMaxBytes =>
        var budget = b.maxBytes()
        // explicit admitted flag, NOT `budget == maxBytes` (r11 advice): a
        // zero-length file leaves the budget untouched, so the untouched-
        // budget test would misread the NEXT file as "first" and admit an
        // over-budget file alongside it — FileStreamSource admits only the
        // empty file there
        var admitted = false
        newFiles.takeWhile { p =>
          budget -= sizeOf(p)
          val ok = !admitted || budget >= 0
          if (ok) admitted = true
          ok
        }
      case c: CompositeReadLimit =>
        c.getReadLimits.foldLeft(newFiles)((acc, l) => admit(acc, l))
      case _ => newFiles // ReadAllAvailable, ReadMinRows, ReadMaxRows
    }

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val startFiles = start match {
      case o: PgnOffset => o.files.foreach(discovered += _); o.files
      case _ => Seq.empty
    }
    if (capRequested && availableNowCap.isEmpty) {
      listFiles().foreach(discovered += _)
      availableNowCap = Some(PgnOffset(discovered.toSeq))
    }
    val all = availableNowCap.map(_.files).getOrElse {
      listFiles().foreach(discovered += _)
      discovered.toSeq
    }
    val startSet = startFiles.toSet
    // end = start ++ admitted-new IN DISCOVERY ORDER: old files keep their
    // end-list positions (fileIndex → game_id lineage), admitted files
    // append after them — identical to the unlimited path when no valve
    // is configured
    PgnOffset(startFiles ++ admit(all.filterNot(startSet), limit))
  }

  override def reportLatestOffset(): Offset = PgnOffset(discovered.toSeq)

  override def deserializeOffset(json: String): Offset = {
    val o = PgnOffset.fromJson(json)
    // restart: seed the discovery order from the checkpointed offset BEFORE
    // any latestOffset() poll — otherwise the rebuilt (sorted) list can
    // disagree with the stored discovery order, reprocessing old files and
    // skipping new ones that sort earlier
    o.files.foreach(discovered += _)
    o
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val startFiles = start.asInstanceOf[PgnOffset].files
    val endFiles = end.asInstanceOf[PgnOffset].files
    endFiles.foreach(discovered += _)
    // SET difference, not index difference: across a restart the rebuilt
    // list ordering can differ from the checkpointed discovery order
    // (latestOffset may poll before deserializeOffset seeds the lineage),
    // and exactly-once is a property of the file set. fileIndex (→ game_id
    // lineage) is the position in the end-offset list — stable within a
    // run; across restarts only set-exactly-once is guaranteed.
    val startSet = startFiles.toSet
    val splitBytes = PgnFiles.splitBytesOf(options)
    endFiles.zipWithIndex.collect { case (p, idx) if !startSet.contains(p) =>
      // length from the discovery-listing cache (files are immutable once
      // dropped, so a listed length never goes stale) — not a fresh
      // getFileStatus per file per batch
      val len = sizeOf(p)
      // same byte-range split rule as the batch scan (r9): a large
      // dropped file fans out across the cluster within its batch
      // instead of serializing into one task; game_id is offset-based,
      // so the split layout never shows in the data
      PgnFiles.splitFile(p, idx, len, splitBytes): Seq[InputPartition]
    }.flatten.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new PgnPartitionReaderFactory(requiredCols, serConf)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** Offset = the processed file list (order matters: it defines fileIndex).
  * Serialized with json4s (already on the Spark classpath) — a hand-rolled
  * splitter corrupts round-trips for paths containing quotes/commas.
  */
case class PgnOffset(files: Seq[String]) extends Offset {
  import org.json4s.JsonDSL._
  import org.json4s.jackson.JsonMethods
  override def json(): String = JsonMethods.compact(JsonMethods.render(files))
}

object PgnOffset {
  import org.json4s.{DefaultFormats, Formats}
  import org.json4s.jackson.JsonMethods
  private implicit val formats: Formats = DefaultFormats
  def fromJson(json: String): PgnOffset =
    PgnOffset(JsonMethods.parse(json).extract[Seq[String]])
}
