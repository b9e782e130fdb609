package graft.sources

import java.io.InputStream
import java.time.LocalDate
import java.time.format.DateTimeFormatter

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.Text
import org.apache.hadoop.util.LineReader
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.unsafe.types.UTF8String

import graft.pgn.PgnParser

/** Reads the games whose `[Event "` boundary line starts inside
  * `[part.start, part.end)`; the tail of the last owned game may extend past
  * `end` (Hadoop text-split ownership rule). Chunks lines game-by-game —
  * memory is O(one game) regardless of file size.
  */
class PgnPartitionReader(
    part: PgnInputPartition,
    requiredCols: Array[String],
    conf: Configuration)
    extends PartitionReader[InternalRow] {

  // Hadoop text-split convention: for start>0 the seek usually lands mid-line,
  // so the first line read is a partial tail owned by the previous split and
  // must be discarded — otherwise movetext containing "[Event " at exactly the
  // split byte offset would fabricate a boundary. Peeking the byte at start-1
  // distinguishes the one case where `start` IS a genuine line start ('\n'
  // just before it): that line begins exactly at `start` and this split owns
  // it (the previous split stops at boundaries with offset >= its end).
  private var startIsLineStart = true
  private val in: InputStream = {
    val p = new Path(part.path)
    val fs = p.getFileSystem(conf)
    val stream = fs.open(p)
    if (part.start > 0) {
      stream.seek(part.start - 1)
      startIsLineStart = stream.read() == '\n'
    }
    stream
  }
  private val lines = new OffsetLineIterator(in, part.start)

  private var current: InternalRow = _
  private var finished = false

  // --- chunking state ---
  // pending boundary line (already read from `lines`) + its offset
  private var pendingBoundary: String = _
  private var pendingOffset: Long = -1L

  private def isBoundary(l: String): Boolean = {
    val t = l; var i = 0
    while (i < t.length && (t.charAt(i) == ' ' || t.charAt(i) == '\t')) i += 1
    t.startsWith("[Event ", i) || t.startsWith("[Event\t", i)
  }

  /** Brace depth after scanning `l` from `depth`: `{`/`}` update depth
    * (unmatched `}` clamps at 0), `;` at depth 0 starts a line comment.
    * ONE definition shared by [[prime]] and [[nextChunk]] — split-boundary
    * correctness depends on both using the identical rule.
    */
  private def braceDepthAfter(l: String, depth: Int): Int = {
    var brace = depth
    var i = 0
    var lineComment = false
    while (i < l.length && !lineComment) {
      l.charAt(i) match {
        case '{' => brace += 1
        case '}' => if (brace > 0) brace -= 1
        case ';' if brace == 0 => lineComment = true
        case _ => ()
      }
      i += 1
    }
    brace
  }

  /** Advance to the first boundary this split owns. For start==0 the split
    * owns from byte 0 (leading junk before the first boundary becomes a
    * parse_error row). For start>0, skip the partial game the previous split
    * owns. The scan tracks brace depth exactly like [[nextChunk]], so a
    * `{ }` comment that OPENS inside the scanned prefix cannot fabricate a
    * boundary from an embedded "[Event " line.
    *
    * Documented limitation: a multi-line comment already OPEN at `start`
    * (straddling the split boundary) is undetectable from within this split
    * — its state lives in bytes owned by the previous split, and knowing it
    * would require a backward scan. The unmatched '}' clamp keeps depth
    * consistent afterwards, but an "[Event " line inside such a straddling
    * comment still starts a garbage chunk (one parse_error row; the true
    * games are not lost — the previous split owns them through the next real
    * boundary, so the fabricated row is additive noise, never data loss...
    * and requires a comment > the remaining split bytes with a line-leading
    * "[Event " inside, which standard PGN exports never produce).
    */
  private var primed = false
  private def prime(): Unit = {
    primed = true
    if (part.start == 0) {
      if (lines.hasNext) { pendingOffset = lines.nextOffset; pendingBoundary = lines.next() }
    } else {
      // discard the partial tail line owned by the previous split
      if (!startIsLineStart && lines.hasNext) lines.next()
      var brace = 0
      while (pendingBoundary == null && lines.hasNext && lines.nextOffset < part.end) {
        val off = lines.nextOffset
        val l = lines.next()
        if (brace == 0 && isBoundary(l)) { pendingBoundary = l; pendingOffset = off }
        else brace = braceDepthAfter(l, brace)
      }
    }
  }

  /** Read one game chunk: the pending boundary line plus lines up to (not
    * including) the next depth-0 boundary. Returns null when exhausted.
    */
  private def nextChunk(): (Long, Seq[String]) = {
    if (!primed) prime()
    if (pendingBoundary == null || pendingOffset >= part.end) return null
    val chunkStart = pendingOffset
    val buf = ArrayBuffer[String](pendingBoundary)
    pendingBoundary = null; pendingOffset = -1L
    var brace = 0
    var done = false
    while (!done && lines.hasNext) {
      val off = lines.nextOffset
      val l = lines.next()
      // a boundary normally only starts a new game once the current chunk
      // moved past its tag section — but a boundary AT/PAST the range end
      // always ends ownership (the next split will emit that game; merging
      // it here would duplicate it)
      if (brace == 0 && isBoundary(l) &&
          (off >= part.end || (buf.exists(_.trim.nonEmpty) && hasMovetext(buf)))) {
        pendingBoundary = l; pendingOffset = off; done = true
      } else {
        buf += l
        brace = braceDepthAfter(l, brace)
      }
    }
    (chunkStart, buf.toSeq)
  }

  /** A boundary only starts a new game if the current chunk already moved
    * past its tag section (tag lines then movetext); consecutive `[Event`-led
    * tag blocks without movetext stay one (broken) game.
    */
  private def hasMovetext(buf: ArrayBuffer[String]): Boolean = {
    var i = buf.length - 1
    var sawBlank = false
    while (i > 0) {
      val t = buf(i).trim
      if (t.isEmpty) sawBlank = true
      else return sawBlank || !t.startsWith("[")
      i -= 1
    }
    false
  }

  override def next(): Boolean = {
    if (finished) return false
    val chunk = nextChunk()
    if (chunk == null) { finished = true; return false }
    val (offset, chunkLines) = chunk
    val games = PgnParser.parseLines(chunkLines.iterator).toList
    // a chunk is one boundary-to-boundary region → at most one game
    val game = games.headOption.getOrElse(
      PgnParser.Game(Map.empty, "", Some("empty game chunk")))
    val gameId = (part.fileIndex.toLong << 40) | (offset & 0xFFFFFFFFFFL)
    current = buildRow(game, gameId)
    true
  }

  override def get(): InternalRow = current
  override def close(): Unit = in.close()

  // --- row building (pruned to requiredCols) ---

  private val DateFmt = DateTimeFormatter.ofPattern("yyyy.MM.dd")

  private def tag(g: PgnParser.Game, name: String): String =
    g.tags.getOrElse(name,
      g.tags.collectFirst { case (k, v) if k.equalsIgnoreCase(name) => v }.orNull)

  private def utf8(s: String): UTF8String = if (s == null) null else UTF8String.fromString(s)

  private def intTag(g: PgnParser.Game, name: String): Any = {
    val v = tag(g, name)
    if (v == null) null
    else try Integer.valueOf(v.trim.toInt) catch { case _: NumberFormatException => null }
  }

  private def dateTag(g: PgnParser.Game, name: String): Any = {
    val v = tag(g, name)
    if (v == null) null
    else try Integer.valueOf(LocalDate.parse(v.trim, DateFmt).toEpochDay.toInt)
    catch { case _: Exception => null }
  }

  private def buildRow(g: PgnParser.Game, gameId: Long): InternalRow = {
    val values = new Array[Any](requiredCols.length)
    var i = 0
    while (i < requiredCols.length) {
      values(i) = requiredCols(i) match {
        case "game_id"     => gameId
        case "WhiteElo"    => intTag(g, "WhiteElo")
        case "BlackElo"    => intTag(g, "BlackElo")
        case "UTCDate"     => dateTag(g, "UTCDate")
        case "movetext"    => utf8(g.movetext)
        case "parse_error" => utf8(g.parseError.orNull)
        case other         => utf8(tag(g, other))
      }
      i += 1
    }
    new GenericInternalRow(values)
  }
}

/** Line iterator over an InputStream that tracks the byte offset of each
  * line start (`nextOffset` before calling `next()`). UTF-8; a line ends at
  * '\n' and a '\r' before it is dropped (a lone '\r' ends no line). The
  * stream is assumed positioned at `startOffset`; Hadoop's `LineReader`
  * reads it in 64 KiB blocks and reports the bytes each line consumed.
  */
class OffsetLineIterator(in: InputStream, startOffset: Long) extends Iterator[String] {
  private val reader = new LineReader(in, 1 << 16, Array('\n'.toByte))
  private val text = new Text()
  private var pos = startOffset
  private var lineStart = startOffset
  private var nextLine: String = _

  private def readOne(): Unit = {
    lineStart = pos
    val consumed = reader.readLine(text)
    pos += consumed
    nextLine = if (consumed == 0) null else {
      val bytes = text.getBytes
      var n = text.getLength
      if (n > 0 && bytes(n - 1) == '\r') n -= 1
      new String(bytes, 0, n, java.nio.charset.StandardCharsets.UTF_8)
    }
  }

  readOne()

  /** Byte offset where the line returned by the next `next()` starts. */
  def nextOffset: Long = lineStart

  override def hasNext: Boolean = nextLine != null
  override def next(): String = {
    val l = nextLine
    readOne()
    l
  }
}
