package graft.sources

import java.util

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource V2 for PGN files: `spark.read.format("pgn").load(dir)`.
  *
  * Spark-native replacement for the reference's `read_pgn()` DuckDB table
  * function (reference: src/read-pgn.ts:49): one row per game, header tags as
  * columns, malformed games captured in `parse_error` (scan never fails).
  *
  * Scale design (the part the reference cannot do — its reader is a
  * single-process extension):
  *  - **byte-range splits**: large files are split into ~`splitBytes` ranges
  *    (default 128 MiB). A reader owns every game whose `[Event "` boundary
  *    line starts inside its range, reading past the range end for the tail
  *    of its last game — the same ownership rule Hadoop text input uses. A
  *    1.4 GB PGN (the reference's biggest) becomes ~11 parallel tasks instead
  *    of one.
  *  - **stable `game_id`**: `(fileIndex << 40) | byteOffsetOfGameStart` —
  *    invariant under split-size choice and re-runs over the same file list
  *    (SURVEY.md §7 "rowid semantics"); supports up to ~1 TB per file and
  *    8M files. Scope: unique within one `load(...)` (one file list), like
  *    the reference's per-table DuckDB rowid — cross-source joins must key
  *    on (DataSource, game_id).
  *  - **column pruning**: `SupportsPushDownRequiredColumns` so
  *    `select(movetext)` materializes 1 field per row, not 20.
  *
  * Known mis-split case (documented, same as Hadoop text): seeking into the
  * middle of a multi-line `{comment}` that contains a line starting with
  * `[Event "` misdetects a boundary. Sequential (unsplit) reads handle such
  * comments correctly via the parser's brace tracking.
  */
class PgnDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "pgn"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = PgnTable.Schema
  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new PgnTable(properties.asScala.toMap)
  override def supportsExternalMetadata(): Boolean = false
}

/** Shared option parsing + file discovery for the batch scan and the
  * micro-batch stream (one copy — batch and streaming reads of the same
  * options must see the same files).
  */
object PgnFiles {
  /** `paths` (the JSON array a multi-path load passes) takes precedence
    * over `path`. */
  def paths(options: Map[String, String]): Seq[String] =
    options.get("paths")
      .map(json => new ObjectMapper().readValue(json, classOf[Array[String]]).toSeq)
      .getOrElse(options.get("path").toSeq)

  /** The one definition of a source's input files: recursive .pgn
    * discovery (globs + directories, any Hadoop scheme) returning each
    * file's status, sorted by qualified path. A path that matches nothing
    * lists as empty. The scan plans from it and the pipeline's manifest
    * hashes it, so the two cannot disagree. The walk lists with
    * `listStatus` ([[ForkFreeLocalFs.walkFiles]]), so no file's
    * permissions are loaded: on `file:` that would fork `ls -ld` once per
    * file, on every scan plan and every micro-batch poll. Callers read
    * path, length and modification time only, for the same reason.
    */
  def list(paths: Seq[String], conf: Configuration): Seq[FileStatus] =
    paths.flatMap { p =>
      val path = new Path(p)
      val fs = path.getFileSystem(conf)
      Option(fs.globStatus(path)).toSeq.flatten.flatMap { st =>
        if (!st.isDirectory) Seq(st)
        else ForkFreeLocalFs.walkFiles(fs, st.getPath)(_.toLowerCase.endsWith(".pgn"))
      }
    }.sortBy(_.getPath.toString)

  /** Byte-range splits for one file — the SHARED planner of the batch scan
    * and the micro-batch stream (r9: a 1.43 GB monthly drop previously
    * streamed as ONE task while the batch path split it 11 ways; same
    * rule here so streaming catch-up scales with splits × executors).
    * Files within 1.5× of the split size stay whole (a trailing sliver
    * split buys no parallelism and costs a boundary seek). `game_id` =
    * (fileIndex << 40) | byte offset is split-invariant by construction,
    * and PgnIngestBench's checksum sweep proves the reader is too.
    */
  def splitFile(path: String, fileIdx: Int, len: Long,
      splitBytes: Long): Seq[PgnInputPartition] =
    if (len <= splitBytes * 3 / 2) Seq(PgnInputPartition(path, fileIdx, 0L, len))
    else {
      val parts = ArrayBuffer.empty[PgnInputPartition]
      var off = 0L
      while (off < len) {
        val end = math.min(off + splitBytes, len)
        parts += PgnInputPartition(path, fileIdx, off, end)
        off = end
      }
      parts.toSeq
    }

  def splitBytesOf(options: Map[String, String]): Long =
    options.get("splitbytes").map(_.toLong)
      .getOrElse(PgnTable.DefaultSplitBytes)
}

object PgnTable {
  /** GAMES_SCHEMA — SURVEY.md §1.2: the seven-tag roster plus the columns the
    * reference pipeline consumes, `movetext`, `parse_error`, and our stable
    * `game_id`.
    */
  val Schema: StructType = StructType(Seq(
    StructField("game_id", LongType, nullable = false),
    StructField("Event", StringType),
    StructField("Site", StringType),
    StructField("Date", StringType),
    StructField("Round", StringType),
    StructField("White", StringType),
    StructField("Black", StringType),
    StructField("Result", StringType),
    StructField("WhiteTitle", StringType),
    StructField("BlackTitle", StringType),
    StructField("WhiteElo", IntegerType),
    StructField("BlackElo", IntegerType),
    StructField("UTCDate", DateType),
    StructField("UTCTime", StringType),
    StructField("ECO", StringType),
    StructField("Opening", StringType),
    StructField("Termination", StringType),
    StructField("TimeControl", StringType),
    StructField("Source", StringType),
    StructField("movetext", StringType),
    StructField("parse_error", StringType)))

  val DefaultSplitBytes: Long = 128L * 1024 * 1024
}

class PgnTable(properties: Map[String, String]) extends Table with SupportsRead {
  override def name(): String = "pgn:" + properties.getOrElse("path", "")
  override def schema(): StructType = PgnTable.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new PgnScanBuilder(properties ++ options.asScala)
}

class PgnScanBuilder(options: Map[String, String])
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = PgnTable.Schema

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = new PgnScan(options, required)
}

class PgnScan(options: Map[String, String], required: StructType)
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new PgnMicroBatchStream(options, required.fieldNames)

  override def planInputPartitions(): Array[InputPartition] = {
    val conf = org.apache.spark.sql.SparkSession.active
      .sparkContext.hadoopConfiguration
    val splitBytes = PgnFiles.splitBytesOf(options)
    // deterministic file order (reference sorts inputs,
    // src/export-to-parquet.ts:40-42) → stable fileIndex → stable game_id
    val sorted = PgnFiles.list(PgnFiles.paths(options), conf)
    sorted.zipWithIndex.flatMap { case (f, fileIdx) =>
      PgnFiles.splitFile(f.getPath.toString, fileIdx, f.getLen, splitBytes)
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new PgnPartitionReaderFactory(
      required.fieldNames,
      new org.apache.spark.util.SerializableConfiguration(
        org.apache.spark.sql.SparkSession.active.sparkContext.hadoopConfiguration))
}

case class PgnInputPartition(path: String, fileIndex: Int, start: Long, end: Long)
    extends InputPartition

class PgnPartitionReaderFactory(
    requiredCols: Array[String],
    conf: org.apache.spark.util.SerializableConfiguration)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new PgnPartitionReader(partition.asInstanceOf[PgnInputPartition], requiredCols, conf.value)
}
