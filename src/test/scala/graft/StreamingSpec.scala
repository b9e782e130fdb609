package graft

import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.StreamingOps
import graft.streaming.StreamingOps.UserEvent

class StreamingSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def ts(min: Int): Timestamp = new Timestamp(min * 60000L)

  test("windowed counts over a memory stream (complete mode)") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(Timestamp, String, Double)]
    val df = in.toDF().toDF("ts", "event_type", "value")
    val q = StreamingOps.windowedCounts(df, "60 minutes", "120 minutes")
      .writeStream.format("memory").queryName("win_counts")
      .outputMode("complete").start()
    try {
      in.addData((ts(5), "click", 1.0), (ts(10), "click", 2.0), (ts(65), "view", 5.0))
      q.processAllAvailable()
      val rows = spark.table("win_counts")
        .select("event_type", "n", "sum_value").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      assert(rows == Set(("click", 2L, 3.0), ("view", 1L, 5.0)))
      // second batch lands in an existing window → count updates
      in.addData((ts(20), "click", 4.0))
      q.processAllAvailable()
      val n2 = spark.table("win_counts")
        .filter(col("event_type") === "click").head().getAs[Long]("n")
      assert(n2 == 3L)
    } finally q.stop()
  }

  test("stream/batch equivalence: incremental windowed counts land exactly on the batch answer") {
    implicit val sq = spark.sqlContext
    val rows = Seq(
      (ts(5), "click", 1.0), (ts(10), "click", 2.0), (ts(65), "view", 5.0),
      (ts(20), "click", 4.0), (ts(70), "view", 1.5), (ts(130), "click", 0.5))
    val in = MemoryStream[(Timestamp, String, Double)]
    val q = StreamingOps.windowedCounts(
        in.toDF().toDF("ts", "event_type", "value"), "60 minutes", "120 minutes")
      .writeStream.format("memory").queryName("sb_equiv")
      .outputMode("complete").start()
    try {
      // three uneven batches — the incremental path must merge partials
      // (processAllAvailable between adds, or MemoryStream coalesces the
      // pending rows into one micro-batch)
      in.addData(rows.take(2))
      q.processAllAvailable()
      in.addData(rows.slice(2, 5))
      q.processAllAvailable()
      in.addData(rows.drop(5))
      q.processAllAvailable()
      val streamed = spark.table("sb_equiv")
        .select("w_start", "event_type", "n", "sum_value").collect()
        .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
        .toSet
      val batch = rows.toDF("ts", "event_type", "value")
        .groupBy(window(col("ts"), "60 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
        .select(col("window.start"), col("event_type"), col("n"), col("sum_value"))
        .collect()
        .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
        .toSet
      assert(streamed == batch,
        s"stream/batch divergence:\nstream=$streamed\nbatch=$batch")
    } finally q.stop()
  }

  test("session windows merge events within gap, split across gap") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long, Double)]
    val df = in.toDF().toDF("ts", "user_id", "value")
    val q = StreamingOps.sessionCounts(df, "30 minutes", "120 minutes")
      .writeStream.format("memory").queryName("sessions")
      .outputMode("complete").start()
    try {
      // user 1: events at 0,10,20 (one session), then 90 (new session)
      in.addData((ts(0), 1L, 0.0), (ts(10), 1L, 0.0), (ts(20), 1L, 0.0), (ts(90), 1L, 0.0))
      q.processAllAvailable()
      val rows = spark.table("sessions")
        .select("user_id", "n_events").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted
      assert(rows.toSeq == Seq((1L, 1L), (1L, 3L)))
    } finally q.stop()
  }

  test("stream-stream interval join: clicks attribute to in-window impressions only") {
    implicit val sq = spark.sqlContext
    // offset event times away from epoch 0: the initial global watermark IS
    // epoch 0, and rows at exactly the watermark are treated as late and
    // dropped from join state (a real pipeline never has epoch-0 events;
    // the test shouldn't either)
    def t(min: Int): Timestamp = ts(min + 1000)
    val imps = MemoryStream[(Long, Timestamp)]
    val clicks = MemoryStream[(Long, Timestamp)]
    val out = StreamingOps.intervalJoinStreams(
      imps.toDF().toDF("key", "ts"), clicks.toDF().toDF("key", "ts"))
    val q = out.writeStream.format("memory").queryName("attr")
      .outputMode("append").start()
    try {
      imps.addData((1L, t(0)), (2L, t(0)))
      // in-window click (t+5), out-of-window click (t+30), unknown key
      clicks.addData((1L, t(5)), (2L, t(30)), (9L, t(5)))
      q.processAllAvailable()
      val rows = spark.table("attr").collect()
        .map(r => (r.getLong(0), r.getTimestamp(2))).toSet
      assert(rows == Set((1L, t(5))),
        s"expected only the in-window attribution, got ${rows.mkString(",")}")
    } finally q.stop()
  }

  test("streaming dedup emits one row per key, drops cross-batch duplicates") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(Timestamp, String, Double)]
    val df = in.toDF().toDF("ts", "key", "value")
    val q = StreamingOps.dedupStream(df, "60 minutes")
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    try {
      in.addData((ts(0), "a", 1.0), (ts(5), "a", 2.0), (ts(10), "b", 3.0))
      q.processAllAvailable()
      in.addData((ts(15), "a", 4.0), (ts(20), "c", 5.0)) // dup across batches
      q.processAllAvailable()
      val rows = spark.table("dedup_stream").select("key", "value").collect()
        .map(r => (r.getString(0), r.getDouble(1))).sortBy(_._1)
      // one row per key; which in-batch duplicate survives is unspecified,
      // but the later-batch duplicate (a, 4.0) must be dropped by state
      assert(rows.map(_._1).toSeq == Seq("a", "b", "c"), s"got ${rows.mkString(",")}")
      assert(rows.head._2 != 4.0, "cross-batch duplicate leaked through")
    } finally q.stop()
  }

  test("streaming opening enrichment labels games live (map-only, no state)") {
    import graft.ops.OpeningEnrichment
    implicit val sq = spark.sqlContext
    val openings = Seq(
      ("C20", "King's Pawn Game", "1. e4 e5", "e2e4 e7e5"),
      ("D00", "Queen's Pawn Game", "1. d4 d5", "d2d4 d7d5")).toDF("eco", "name", "pgn", "uci")
    val in = MemoryStream[(Long, String, String, String)]
    val games = in.toDF().toDF("game_id", "clean_movetext", "ECO", "Opening")
    val q = OpeningEnrichment.enrichTrie(games, openings)
      .writeStream.format("memory").queryName("enriched_stream")
      .outputMode("append").start()
    try {
      in.addData(
        (1L, "1. e4 e5 2. Nf3", null, null),
        (2L, "1. c4 c5", null, null),
        (3L, "1. d4 d5", "X0", "Kept"))
      q.processAllAvailable()
      in.addData((4L, "1. d4 d5 2. c4", null, null))
      q.processAllAvailable()
      val rows = spark.table("enriched_stream").collect()
        .map(r => (r.getAs[Long]("game_id"), r.getAs[String]("Opening"))).toMap
      assert(rows == Map(1L -> "King's Pawn Game", 2L -> null,
        3L -> "Kept", 4L -> "Queen's Pawn Game"))
    } finally q.stop()
  }

  test("transformWithState keeps running per-user totals across batches (RocksDB store)") {
    implicit val sq = spark.sqlContext
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val in = MemoryStream[(Long, Double)]
      val q = StreamingOps.runningTotalsTWS(in.toDS())
        .writeStream.format("memory").queryName("tws_totals")
        .outputMode("update").start()
      try {
        in.addData((1L, 2.0), (1L, 3.0), (2L, 10.0))
        q.processAllAvailable()
        in.addData((1L, 5.0))
        q.processAllAvailable()
        // update mode: last emitted row per user carries the running totals
        val last = spark.table("tws_totals").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
          .groupBy(_._1).map { case (u, rs) => u -> rs.maxBy(_._2) }
        assert(last(1L) == (1L, 3L, 10.0), s"got ${last(1L)}")
        assert(last(2L) == (2L, 1L, 10.0), s"got ${last(2L)}")
      } finally q.stop()
    } finally {
      prev match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
    }
  }

  test("mapGroupsWithState keeps running per-user counts across batches") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[UserEvent]
    val q = StreamingOps.runningUserCounts(in.toDS())
      .writeStream.format("memory").queryName("user_counts")
      .outputMode("update").start()
    try {
      in.addData(UserEvent(1, ts(0), "a"), UserEvent(1, ts(1), "b"), UserEvent(2, ts(2), "a"))
      q.processAllAvailable()
      in.addData(UserEvent(1, ts(3), "c"))
      q.processAllAvailable()
      val counts = spark.table("user_counts")
        .groupBy("user_id").agg(max("count").as("c")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(counts == Map(1L -> 3L, 2L -> 1L)) // state persisted across batches
    } finally q.stop()
  }

  test("throttleStream keeps gap-spaced events, remembers last-kept across batches") {
    import graft.streaming.StreamingOps.ThrottleEvent
    implicit val sq = spark.sqlContext
    val in = MemoryStream[ThrottleEvent]
    val gapMs = 10 * 60000L // 10 minutes
    val q = StreamingOps.throttleStream(in.toDS(), gapMs)
      .writeStream.format("memory").queryName("throttled")
      .outputMode("update").start()
    try {
      // batch 1 (unordered on purpose): minutes 5, 0, 12 for (1, click)
      // → kept 0 and 12 (5 is within 10 min of kept 0); other key untouched
      in.addData(
        ThrottleEvent(1, "click", ts(5)),
        ThrottleEvent(1, "click", ts(0)),
        ThrottleEvent(1, "click", ts(12)),
        ThrottleEvent(2, "view", ts(3)))
      q.processAllAvailable()
      // batch 2: minute 15 is only 3 min after the KEPT 12 → dropped even
      // though it is 10+ past the DROPPED 5 (throttle-to-last-kept, the
      // semantics the batch lag form cannot express); minute 25 is kept
      in.addData(ThrottleEvent(1, "click", ts(15)), ThrottleEvent(1, "click", ts(25)))
      q.processAllAvailable()
      val kept = spark.table("throttled").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getTimestamp(2).getTime / 60000L))
        .toSet
      assert(kept == Set((1L, "click", 0L), (1L, "click", 12L),
        (2L, "view", 3L), (1L, "click", 25L)), s"got $kept")
    } finally q.stop()
  }

  test("streaming CMS state equals the q177 batch grid after the stream drains") {
    implicit val sq = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // the same term stream the batch operator aggregates, split in two
      // arbitrary micro-batches
      val terms = Tables.documents(spark, sf)
        .select(explode(graft.ops.Portable.toks(col("text"))).as("t"))
        .select(lower(col("t"))).as[String].collect()
      val (b1, b2) = terms.splitAt(terms.length / 2)

      val in = MemoryStream[String]
      val q = StreamingOps.cmsCellsStream(in.toDS())
        .writeStream.format("memory").queryName("cms_cells")
        .outputMode("update").start()
      try {
        in.addData(b1.toSeq); q.processAllAvailable()
        in.addData(b2.toSeq); q.processAllAvailable()
        // update mode emits a cell per touch; the running count only grows,
        // so the final state per cell is its max emitted count
        val streamed = spark.table("cms_cells").collect()
          .map(r => ((r.getInt(0), r.getLong(1)), r.getLong(2)))
          .groupBy(_._1).map { case (k, rs) => k -> rs.map(_._2).max }
        val batch = graft.ops.SketchOps.sketchCells(spark, sf).collect()
          .map(r => ((r.getInt(0), r.getLong(1)), r.getLong(2))).toMap
        assert(streamed == batch,
          s"grid mismatch: stream ${streamed.size} cells, batch ${batch.size}")
      } finally q.stop()
    } finally {
      prev match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
    }
  }

  test("streaming digest manifest equals the batch digest after the stream drains") {
    implicit val sq = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // (id, payload) rows an ingest would manifest, in two micro-batches
      // whose split point and order the digest must be blind to
      val rows = Tables.documents(spark, sf)
        .select(col("doc_id"), col("text")).collect()
        .map(r => (r.getLong(0), r.getString(1)))
      val (b1, b2) = rows.reverse.splitAt(rows.length / 3)

      val in = MemoryStream[(Long, String)]
      val q = StreamingOps.digestManifestStream(in.toDS())
        .writeStream.format("memory").queryName("digest_buckets")
        .outputMode("update").start()
      try {
        in.addData(b1.toSeq); q.processAllAvailable()
        in.addData(b2.toSeq); q.processAllAvailable()
        // update mode emits a bucket per touch; the LAST emission per
        // bucket is its final state (n only grows — max n wins)
        val streamed = spark.table("digest_buckets").collect()
          .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
          .groupBy(_._1).map { case (k, rs) => k -> rs.map(_._2).maxBy(_._1) }
        val batch = graft.ops.LakehouseOps.digestManifest(
            Tables.documents(spark, sf).select(col("doc_id"), col("text")),
            col("doc_id"), col("text"))
          .collect()
          .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
          .toMap
        assert(streamed == batch,
          s"manifest mismatch: stream ${streamed.size} buckets, batch ${batch.size}")
      } finally q.stop()
    } finally {
      prev match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
    }
  }

  test("streaming chunk index equals the batch q200 index after the stream drains") {
    implicit val sq = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // documents arrive out of order across two micro-batches; chunk
      // boundaries are content-local so the split cannot matter
      val rows = Tables.documents(spark, sf)
        .select(col("doc_id"), col("text")).collect()
        .map(r => (r.getLong(0), r.getString(1)))
      val (b1, b2) = rows.reverse.splitAt(rows.length / 4)

      val in = MemoryStream[(Long, String)]
      val q = StreamingOps.chunkIndexStream(in.toDS())
        .writeStream.format("memory").queryName("chunk_cells")
        .outputMode("update").start()
      try {
        in.addData(b1.toSeq); q.processAllAvailable()
        in.addData(b2.toSeq); q.processAllAvailable()
        // final state per fp = max emitted running count; cells with
        // n >= 2 must equal the batch index's (chunk_fp, n_occ)
        val streamed = spark.table("chunk_cells").collect()
          .map(r => r.getLong(0) -> r.getLong(1))
          .groupBy(_._1).map { case (k, rs) => k -> rs.map(_._2).max }
          .filter(_._2 >= 2L)
        val batch = graft.ops.Dedup.cdcChunkDedup(spark, sf).collect()
          .map(r => r.getLong(0) -> r.getLong(2)).toMap
        assert(streamed == batch,
          s"chunk index mismatch: stream ${streamed.size} repeated fps, " +
            s"batch ${batch.size}")
      } finally q.stop()
    } finally {
      prev match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
    }
  }
  test("nearDupStream: drained stream equals the batch q24 pair set, across batches") {
    implicit val sq = spark.sqlContext
    // fingerprints with controlled hammings: B near-dups A (3 bits inside
    // one chunk), D near-dups C (7 bits across chunks <= threshold),
    // E is far from everything, F near-dups A but arrives two batches later
    val fpA = 0x123456789ABCDEF0L
    val fpB = fpA ^ 0x7L                  // hamming 3
    val fpC = 0x0F0F0F0F0F0F0F0FL
    val fpD = fpC ^ 0x0101010101010100L   // hamming 7
    val fpE = 0x5A5A5A5AA5A5A5A5L
    val fpF = fpA ^ 0x30L                 // hamming 2 vs A, 5 vs B
    val all = Seq(1L -> fpA, 2L -> fpB, 3L -> fpC, 4L -> fpD, 5L -> fpE,
      6L -> fpF)
    val in = MemoryStream[StreamingOps.FpDoc]
    val q = StreamingOps.nearDupStream(in.toDS())
      .writeStream.format("memory").queryName("neardup_stream")
      .outputMode("append").start()
    try {
      in.addData(StreamingOps.FpDoc(1L, fpA), StreamingOps.FpDoc(3L, fpC))
      q.processAllAvailable()
      in.addData(StreamingOps.FpDoc(2L, fpB), StreamingOps.FpDoc(4L, fpD),
        StreamingOps.FpDoc(5L, fpE))
      q.processAllAvailable()
      in.addData(StreamingOps.FpDoc(6L, fpF))
      q.processAllAvailable()
      val streamed = spark.table("neardup_stream").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val batch = graft.ops.Dedup.simhashPairsDf(
          all.toDF("doc_id", "fp"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(streamed == batch,
        s"stream $streamed != batch $batch")
      // the batch-2 arrival paired with batch-1 state, and the batch-3
      // arrival paired with both earlier batches
      assert(streamed.contains((1L, 2L, 3)) && streamed.contains((3L, 4L, 7)))
      assert(streamed.contains((1L, 6L, 2)) && streamed.contains((2L, 6L, 5)))
      assert(!streamed.exists(t => t._1 == 5L || t._2 == 5L), "far doc paired")
    } finally q.stop()
  }

  test("nearDupStream: bucket cap bounds state and evicts oldest-first") {
    implicit val sq = spark.sqlContext
    // identical fingerprints all land in the same buckets; with cap = 2
    // only the 2 newest are retained, so doc 9 pairs with 3 and 4 only
    val fp = 0x1111222233334444L
    val in = MemoryStream[StreamingOps.FpDoc]
    val q = StreamingOps.nearDupStream(in.toDS(), cap = 2)
      .writeStream.format("memory").queryName("neardup_capped")
      .outputMode("append").start()
    try {
      in.addData((1L to 4L).map(StreamingOps.FpDoc(_, fp)): _*)
      q.processAllAvailable()
      in.addData(StreamingOps.FpDoc(9L, fp))
      q.processAllAvailable()
      val vs9 = spark.table("neardup_capped").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
        .filter(_._2 == 9L)
      assert(vs9 == Set((3L, 9L), (4L, 9L)),
        s"cap-2 retention should pair 9 with {3,4} only, got $vs9")
    } finally q.stop()
  }
}
