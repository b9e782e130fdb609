package graft.ops

import org.apache.spark.sql.{DataFrame, SaveMode}

import graft.sources.ForkFreeLocalFs

/** The shared Hive-partitioned parquet sink tail (r9) — one place owning
  * the layout discipline of every partitioned publisher (ChessExport.publish,
  * the CorpusBuild corpus write, StreamingPublish's staged batches), which
  * previously hand-rolled a bare `repartition(partCols)`:
  *
  *  - **REBALANCE hint on the partition columns** instead of a plain
  *    repartition: same one-task-per-cell → one-file-per-cell layout in
  *    the common case (AQE coalesces small cells into shared tasks; each
  *    task still writes one file per cell it holds, so file counts stay
  *    O(cells)), but a MEGA cell — one source-month holding a large
  *    fraction of a 100 TB corpus, the straggler the r8 verdict flagged —
  *    is now SPLIT by AQE across ceil(cellBytes / advisoryPartitionSize)
  *    tasks instead of serializing into one. A plain repartition hashes
  *    every row of a cell to the same reducer by construction; no AQE
  *    rule may split it, because correctness of downstream per-partition
  *    operators could depend on the co-location. REBALANCE declares
  *    "this partitioning is for write layout only", which is exactly the
  *    license AQE needs (`RebalancePartitions` + skew-split rule).
  *
  *  - **maxRecordsPerFile** as belt-and-suspenders: even inside one
  *    task, no parquet file exceeds [[MaxRecordsPerFile]] records — so a
  *    mega cell can never produce a monolithic file a downstream reader
  *    must then split-scan, and the bound holds even with AQE disabled.
  *
  * LayoutSpec proves both halves on a deliberately skewed corpus: every
  * written file respects the cap while total file count stays O(cells).
  *
  *  - **Small writes run in few tasks**: AQE coalesces the REBALANCE
  *    shuffle to partitions of at least
  *    `spark.sql.adaptive.coalescePartitions.minPartitionSize` (1 MiB),
  *    so a write whose shuffle is below `cores` MiB runs in
  *    ⌈shuffleBytes / 1 MiB⌉ tasks and leaves the other cores idle (the
  *    4-source lakebench catch-up: ~2 MB of shuffle, 2 tasks on 4 cores).
  *    A per-shuffle advisory size does not lift that floor — Spark's
  *    coalescing takes the larger of the target and the minimum — so
  *    filling the cores would take a session-wide AQE setting, or giving
  *    up REBALANCE's split of one very large cell. Neither is done here.
  *
  *  - **Per-cell cost**: each published cell creates a month directory,
  *    a `part-*` file and its `.crc` sidecar, and stock `file:` spends a
  *    forked `chmod` (~3.7 ms wall) on each. The write therefore carries
  *    [[graft.sources.ForkFreeLocalFs.options]], which set those bits in
  *    process; other schemes are untouched.
  */
object PartitionedSink {

  /** Per-file record cap. ~1M rows ≈ 1–2 GB at the chess-game /
    * curated-document row widths — large enough that healthy cells stay
    * one file, small enough that a mega cell's files stay scannable and
    * its write parallelizable. Overridable per call (tests use small
    * caps; a 100 TB deployment tunes it with
    * `spark.sql.files.maxRecordsPerFile` semantics in mind).
    */
  val MaxRecordsPerFile = 1000000L

  /** Overwrite `outDir` with `df`, partitioned by `partCols`. */
  def write(df: DataFrame, partCols: Seq[String], outDir: String,
      maxRecordsPerFile: Long = MaxRecordsPerFile): Unit = {
    require(partCols.nonEmpty, "partitioned sink needs partition columns")
    df.hint("rebalance", partCols: _*)
      .write
      .mode(SaveMode.Overwrite)
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .options(ForkFreeLocalFs.options)
      .partitionBy(partCols: _*)
      .parquet(outDir)
  }
}
