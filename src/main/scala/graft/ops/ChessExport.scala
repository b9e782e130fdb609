package graft.ops

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions._

import graft.sources.ForkFreeLocalFs

/** Per-source publish (SURVEY.md §2 S7-S9, P2, P5, F6-F8; reference:
  * src/export-to-parquet.ts:40-112).
  *
  * Reference semantics reproduced:
  *  - the 20-column export projection (ts:69-94) incl.
  *    `COALESCE(clean_timecontrol, TimeControl) AS TimeControl` (ts:85);
  *  - quality filter `UTCDate IS NOT NULL AND year(UTCDate) >= 1500`
  *    (ts:92-93);
  *  - derived partition columns: `year` int via year(UTCDate) and `month`
  *    zero-padded STRING via strftime '%m' (ts:89-90) — the mixed types are
  *    part of the layout contract;
  *  - Hive-partitioned parquet `DataSource=…/year=…/month=…` with clean
  *    overwrite (ts:106-112, 51-56).
  *
  * Each source owns its `DataSource=<key>` subtree: [[publish]] writes a
  * source's rows to a temp dir under `_graft_publish/` (a `_` name, so
  * Spark's file index skips it), deletes the old subtree and moves the new
  * one into its place. The published tree therefore always equals a
  * from-scratch build of the sources last published — a cell whose games
  * vanished goes with its subtree — and [[retain]] removes the subtrees of
  * sources no longer in the registry.
  *
  * Scale notes: the reference layout produced 7.5k partitions × ~750 KB files
  * (BASELINE.md — small-file regime). The write goes through
  * [[PartitionedSink]]: REBALANCE on the partition columns keeps one file
  * per Hive cell at this scale and O(cells) files at 100 TB, while letting
  * AQE split a mega source-month cell across tasks instead of serializing
  * it into one straggler, with a per-file record cap as the AQE-independent
  * bound. A publish's cost is per cell, not per byte: every cell is a
  * directory, a data file and its `.crc`, each given its mode by Hadoop.
  * Stock `file:` forks a `chmod` for each (~3.7 ms); the write and the
  * swap's file system go through [[ForkFreeLocalFs]] instead.
  */
object ChessExport {

  private val TempDir = "_graft_publish"

  /** The 20-column export projection over an enriched games DF
    * (export-to-parquet.ts:69-94; UTCDate is a data column in addition to
    * feeding the derived year/month partition values). */
  def exportProjection(games: DataFrame): DataFrame =
    games
      .filter(col("UTCDate").isNotNull && year(col("UTCDate")) >= 1500)
      .select(
        col("Event"), col("Site"), col("White"), col("Black"), col("Result"),
        col("WhiteTitle"), col("BlackTitle"), col("WhiteElo"), col("BlackElo"),
        col("UTCDate"),
        col("UTCTime"), col("ECO"), col("Opening"), col("Termination"),
        coalesce(col("clean_timecontrol"), col("TimeControl")).as("TimeControl"),
        col("Source"), col("movetext"), col("DataSource"),
        year(col("UTCDate")).as("year"),
        date_format(col("UTCDate"), "MM").as("month"))

  /** The directory name of source `key`'s subtree, escaped as Spark's
    * partitioned writer escapes it. */
  def sourceDir(key: String): String =
    ExternalCatalogUtils.getPartitionPathString("DataSource", key)

  /** Project source `key`'s enriched games (every row tagged
    * `DataSource = key`) and replace its subtree under `outDir` with them.
    * A source with no exportable game ends with no subtree. Returns whether
    * a subtree was published.
    */
  def publish(games: DataFrame, key: String, outDir: String): Boolean = {
    val cell = sourceDir(key)
    val temp = new HPath(new HPath(outDir, TempDir), cell)
    val fs = temp.getFileSystem(ForkFreeLocalFs.hadoopConf(games.sparkSession))
    PartitionedSink.write(exportProjection(games),
      Seq("DataSource", "year", "month"), temp.toString)
    val fresh = new HPath(temp, cell)
    val target = new HPath(outDir, cell)
    fs.delete(target, true)
    val moved = fs.exists(fresh)
    if (moved && !fs.rename(fresh, target))
      throw new java.io.IOException(s"publish failed: $fresh -> $target")
    fs.delete(temp, true)
    moved
  }

  /** Delete every `DataSource=` subtree under `outDir` that is not one of
    * `keys`, and the temp dir [[publish]] leaves behind. */
  def retain(spark: SparkSession, keys: Seq[String], outDir: String): Unit = {
    val out = new HPath(outDir)
    val fs = out.getFileSystem(ForkFreeLocalFs.hadoopConf(spark))
    // a glob under a missing dir matches nothing
    val kept = keys.map(sourceDir).toSet
    fs.globStatus(new HPath(out, "DataSource=*")).map(_.getPath)
      .filterNot(p => kept.contains(p.getName))
      .foreach(fs.delete(_, true))
    fs.delete(new HPath(out, TempDir), true)
  }
}
