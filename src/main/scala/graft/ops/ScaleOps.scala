package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Scale utilities: bounded per-group top-k without window sorts, and
  * skew-mitigation (salting) for aggregations and joins.
  *
  * Why they exist (SURVEY.md "optimize for scale"):
  *  - A window `row_number() ≤ k` must shuffle AND SORT every row of every
  *    group; [[TopKAggregator]] keeps a k-bounded buffer per group and is
  *    partial-aggregable — map-side combine reduces each partition to ≤ k
  *    rows per group before the shuffle. For k=3 over millions of rows per
  *    group that is the difference between shuffling everything and
  *    shuffling 3 rows per group per partition.
  *  - A skewed group key (one hot key holding most rows) serializes into one
  *    reducer. [[saltedAgg]] splits each key into `salt` subkeys (two-phase
  *    aggregation); [[saltedBroadcastJoin]] replicates the small side per
  *    salt so a hot fact key spreads over `salt` tasks. AQE's skew handling
  *    covers sort-merge joins; these cover aggregations and broadcast paths
  *    it doesn't.
  *  - A partition-less window (or a per-key window with one mega key) moves
  *    its whole input to ONE task. [[rangedCumSum]]/[[rangedPrefixMax]]/
  *    [[rangedLag]] split global prefix scans into range-local windows plus
  *    a broadcast cross-range offset; [[sessionizeRanged]] applies the same
  *    idea to per-key gap sessionization ((key, time-range) buckets plus a
  *    calendar-bounded stitch pass) — all spec-proven row-identical to the
  *    single-window forms.
  */
object ScaleOps {

  /** Typed top-k aggregator over (score, id) pairs: keeps the k largest by
    * (score, then smaller id wins ties), merge-associative.
    */
  class TopKAggregator(k: Int)
      extends Aggregator[(Double, Long), Seq[(Double, Long)], Seq[(Double, Long)]] {

    private def best(xs: Seq[(Double, Long)]): Seq[(Double, Long)] =
      xs.sortBy { case (s, id) => (-s, id) }.take(k)

    override def zero: Seq[(Double, Long)] = Seq.empty
    override def reduce(buf: Seq[(Double, Long)], a: (Double, Long)): Seq[(Double, Long)] =
      best(buf :+ a)
    override def merge(a: Seq[(Double, Long)], b: Seq[(Double, Long)]): Seq[(Double, Long)] =
      best(a ++ b)
    override def finish(r: Seq[(Double, Long)]): Seq[(Double, Long)] = r
    override def bufferEncoder: Encoder[Seq[(Double, Long)]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[(Double, Long)]]()
    override def outputEncoder: Encoder[Seq[(Double, Long)]] = bufferEncoder
  }

  /** Per-group top-k as a DataFrame op: groupCol, (scoreCol, idCol) → one
    * row per kept (group, id, score, rank).
    */
  def topKPerGroup(df: DataFrame, groupCol: String, scoreCol: String,
      idCol: String, k: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val agg = udaf(new TopKAggregator(k))
    df.groupBy(col(groupCol))
      .agg(agg(col(scoreCol).cast("double"), col(idCol).cast("long")).as("topk"))
      .select(col(groupCol), posexplode(col("topk")).as(Seq("rank0", "item")))
      .select(
        col(groupCol),
        col("item._2").as(idCol),
        col("item._1").as(scoreCol),
        (col("rank0") + 1).as("rank"))
  }

  /** Two-phase (salted) aggregation: count + sum per key, immune to key
    * skew. Phase 1 aggregates (key, salt) — hot keys spread over `salt`
    * reducers; phase 2 combines the `salt` partials per key.
    *
    * The salt is [[contentSalt]] (row-content hash + partition id):
    * reproducible run-to-run for the same input, spreads even
    * fully-duplicate hot-key rows, and exact under ANY salt (two-phase
    * re-aggregation) — an earlier version salted with
    * `monotonically_increasing_id()`, whose values depend on a per-row
    * counter that shifts whenever rows move between partitions.
    */
  /** Deterministic row salt in [0, salt): hash over every hashable column
    * PLUS the partition id. Content alone would send byte-identical
    * duplicate rows — the most skew-prone input shape — to ONE salt,
    * quietly defeating the mitigation; the partition id disambiguates
    * duplicates across tasks while staying reproducible run-to-run (file
    * split planning and within-partition row order are deterministic for
    * the same input files and config — unlike
    * `monotonically_increasing_id`, there is no per-row counter whose
    * values shift when rows move between partitions of a NON-deterministic
    * upstream). Map-typed columns are excluded (Spark's `hash` rejects
    * MapType).
    */
  def contentSalt(df: DataFrame, salt: Int): Column = {
    import org.apache.spark.sql.types._
    // hash() rejects MapType at ANY nesting depth, not just top level
    def hasMap(dt: DataType): Boolean = dt match {
      case _: MapType => true
      case s: StructType => s.fields.exists(f => hasMap(f.dataType))
      case a: ArrayType => hasMap(a.elementType)
      case _ => false
    }
    val hashable = df.schema.fields
      .filterNot(f => hasMap(f.dataType))
      .map(f => col(f.name)).toIndexedSeq
    pmod(hash(hashable :+ spark_partition_id(): _*), lit(salt))
  }

  /** Pin the parallelism of a byte-light / CPU-heavy stage (r9). AQE's
    * partition coalescing sizes post-shuffle tasks by BYTES
    * (`advisoryPartitionSizeInBytes`), which serializes stages whose cost
    * is per-row CPU over skinny rows — measured on q194's Levenshtein
    * verify at sf1: 4.4 s with the verify coalesced to ~2 tasks vs 0.9 s
    * at full width (task-time 9.6 s against a 4.0 s wall — parallelism
    * 2.4 on a 32-thread box). An explicit NUMBERED repartition plans as
    * REPARTITION_BY_NUM, which AQE is contractually not allowed to
    * coalesce, so the downstream stage keeps the session's shuffle width
    * regardless of its byte volume. Cost: one extra exchange of the
    * (skinny) rows — microseconds next to the work it parallelizes. Use
    * ONLY where per-row CPU dominates bytes (edit-distance DP, set
    * intersections over candidate pairs); everywhere else AQE's
    * byte-sized coalescing is the right call.
    */
  def cpuBound(df: DataFrame): DataFrame =
    df.repartition(
      df.sparkSession.conf.getOption("spark.sql.shuffle.partitions")
        .flatMap(_.toIntOption)
        .getOrElse(df.sparkSession.sparkContext.defaultParallelism))

  def saltedAgg(df: DataFrame, keyCol: String, valueCol: String,
      salt: Int = 16): DataFrame =
    df.withColumn("_salt", contentSalt(df, salt))
      .groupBy(col(keyCol), col("_salt"))
      .agg(count(lit(1)).as("_n"), sum(col(valueCol)).as("_s"))
      .groupBy(col(keyCol))
      .agg(sum("_n").as("n"), sum("_s").as("total"))

  /** Bloom-prefiltered join: build a Bloom filter over the small side's
    * keys, drop big-side rows that cannot match BEFORE the shuffle, then
    * run the exact equi-join. False positives only cost a little extra
    * shuffle — the exact join removes them — so the result is identical to
    * the plain join at any fpp. At 100 TB with a selective dimension this
    * is the difference between shuffling the whole fact table and shuffling
    * the ~matching slice (Spark's runtime row-level filtering covers some
    * shapes via InjectRuntimeFilter; this makes the pattern explicit and
    * works on any plan).
    */
  def bloomPrefilteredJoin(big: DataFrame, small: DataFrame, bigKey: String,
      smallKey: String, expectedItems: Long = 1000000L, fpp: Double = 0.01): DataFrame = {
    val spark = big.sparkSession
    // probe through the SAME typed path the filter was built with:
    // stat.bloomFilter hashes integral types as long and strings as UTF-8
    // bytes — probing a string key as a casted long silently drops matches
    import org.apache.spark.sql.types._
    def integral(t: DataType) =
      t == ByteType || t == ShortType || t == IntegerType || t == LongType
    val keyType = big.schema(bigKey).dataType
    val smallType = small.schema(smallKey).dataType
    // both integral (any width: the filter hashes all integrals via putLong)
    // or both string — NOT exact equality, mixed int/long widths are fine
    require((integral(keyType) && integral(smallType)) ||
      (keyType == StringType && smallType == StringType),
      s"key type mismatch: $keyType vs $smallType")
    val bf = small.stat.bloomFilter(smallKey, expectedItems, fpp)
    val bc = spark.sparkContext.broadcast(bf)
    // native BloomMightContain expression (codegen'd) instead of a Scala
    // udf: the probe runs map-side BEFORE the shuffle it exists to shrink,
    // and now also stays inside the scan's whole-stage-codegen span. Null
    // keys: the expression is nullIntolerant, so they filter out — they
    // cannot match an inner equi-join anyway.
    val probeCol =
      if (integral(keyType)) col(bigKey).cast("long") else col(bigKey)
    import org.apache.spark.sql.graft.ColumnBridge
    val pre = big.filter(ColumnBridge.column(
      graft.functions.BloomMightContain(ColumnBridge.expression(probeCol), bc)))
    pre.join(small, pre(bigKey) === small(smallKey))
  }

  /** Bits per dimension for [[zorder2]] — 16 bits × 2 dims = 32-bit z-value. */
  val ZorderBits = 16

  /** Z-order (Morton) key over two integral columns: interleaves the low
    * [[ZorderBits]] bits of each — the standard multi-dimensional
    * clustering key for lakehouse layout. Sorting/range-partitioning a
    * table by z-value makes EVERY interleaved dimension locally bounded per
    * file, so parquet min/max row-group stats prune selective filters on
    * any of them; a single-column sort clusters only that column. Pure
    * integer arithmetic (shift/mask/add) — stays in whole-stage codegen and
    * is reproducible on any engine.
    */
  def zorder2(a: Column, b: Column): Column = {
    val mask = (1L << ZorderBits) - 1
    val aa = pmod(a.cast("long"), lit(mask + 1))
    val bb = pmod(b.cast("long"), lit(mask + 1))
    (0 until ZorderBits).foldLeft(lit(0L).cast("long")) { (acc, i) =>
      acc +
        shiftright(aa, i).bitwiseAND(1L) * lit(1L << (2 * i)) +
        shiftright(bb, i).bitwiseAND(1L) * lit(1L << (2 * i + 1))
    }
  }

  /** Oracle-side mirror of [[zorder2]] (generated from the same constants).
    * DuckDB's % is sign-preserving while the Spark side uses pmod, so the
    * residue is normalized with `((x % m + m) % m)` — identical for the
    * non-negative keys the gate feeds, and identical for negatives too.
    */
  def zorder2Sql(a: String, b: String): String = {
    val m = (1L << ZorderBits)
    def res(c: String) = s"(($c % $m + $m) % $m)"
    (0 until ZorderBits).map { i =>
      s"((${res(a)} >> $i) & 1) * ${1L << (2 * i)} + ((${res(b)} >> $i) & 1) * ${1L << (2 * i + 1)}"
    }.mkString("(", " + ", ")::BIGINT")
  }

  /** Skew-proof broadcast join: fact rows get a deterministic salt in
    * [0, salt); the (small) dim side is replicated once per salt value and
    * broadcast, so a hot key's rows land on `salt` different tasks instead
    * of one.
    */
  def saltedBroadcastJoin(fact: DataFrame, dim: DataFrame, factKey: String,
      dimKey: String, salt: Int = 16): DataFrame = {
    // row-content salt, same determinism rationale as saltedAgg
    val saltedFact = fact.withColumn("_salt", contentSalt(fact, salt))
    val replicatedDim = dim.withColumn("_salt",
      explode(sequence(lit(0), lit(salt - 1))))
    saltedFact.join(broadcast(replicatedDim),
        saltedFact(factKey) === replicatedDim(dimKey) &&
        saltedFact("_salt") === replicatedDim("_salt"))
      .drop("_salt")
  }

  // ------------------------------------------------- distributed prefix ops

  /** Distributed inclusive running sum over a sorted cell frame, with NO
    * partition-less window (the q120/q139/q157 scale-killer class: a
    * `Window.orderBy(key)` with no partition moves the WHOLE frame to one
    * task — tolerable when the frame is domain-bounded, a straggler on an
    * arbitrary corpus where ndv(key) has no structural cap). Scheme:
    *
    *  1. every cell gets a range id (`rangeId`, a caller-supplied MONOTONE
    *     bucketing of the key, e.g. `floor(key / 64)`); the local running
    *     sum is a window PARTITIONED by range — each task sorts only its
    *     own range's cells;
    *  2. per-range totals (one row per range) are cross-offset with a
    *     broadcast theta-join: range r's offset is the sum of the totals of
    *     ranges strictly before it. O(R²) joined pairs over a
    *     catalog-sized R — no window, no global sort;
    *  3. cum = local running sum + range offset.
    *
    * Exact integer sums make the result bit-identical to the
    * single-partition window form (which the DuckDB oracles keep — a
    * single node has no straggler to avoid), including for nullable
    * value columns: the combine keeps SQL sum semantics (NULL only when
    * the whole global prefix is empty-or-NULL, never NULL + offset).
    * Max task size = cells per range, tunable via the rangeId width.
    */
  def rangedCumSum(cells: DataFrame, key: String, rangeId: Column,
      values: Seq[(String, String)]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val withR = cells.withColumn("__rid", rangeId.cast("long"))
    val locW = Window.partitionBy(col("__rid")).orderBy(col(key))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val loc = values.foldLeft(withR) { case (df, (v, out)) =>
      df.withColumn(out, sum(col(v)).over(locW))
    }
    val totExprs = values.map { case (v, out) => sum(col(v)).as(s"__t_$out") }
    val totals = withR.groupBy(col("__rid")).agg(totExprs.head, totExprs.tail: _*)
    // offsets stay NULL (not 0) when no earlier range has a value, so the
    // combine can distinguish "empty prefix" from "prefix summing to 0"
    val offs = overEarlierRanges(totals, desc = false,
      values.map { case (_, out) => sum(col(s"b.__t_$out")).as(s"__o_$out") })
    val joined = loc.join(broadcast(offs), "__rid")
    values.foldLeft(joined) { case (df, (_, out)) =>
      df.withColumn(out,
        when(col(out).isNull && col(s"__o_$out").isNull, lit(null))
          .otherwise(coalesce(col(out), lit(0L)) + coalesce(col(s"__o_$out"), lit(0L))))
        .drop(s"__o_$out")
    }.drop("__rid")
  }

  /** Distributed STRICT-prefix running max (`ROWS BETWEEN UNBOUNDED
    * PRECEDING AND 1 PRECEDING`) in ascending or descending key order —
    * the skyline/dominance shape (q139). Same range scheme as
    * [[rangedCumSum]]; the cross-range offset is the max of the totals of
    * ranges strictly before this one in sort order, and the per-row result
    * is `greatest(local strict-prefix max, range offset)` — NULL (as in
    * the window form) only for the global first row, because `greatest`
    * skips NULL operands.
    */
  def rangedPrefixMax(cells: DataFrame, key: String, rangeId: Column,
      value: String, out: String, desc: Boolean): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val withR = cells.withColumn("__rid", rangeId.cast("long"))
    val ord = if (desc) col(key).desc else col(key).asc
    val locW = Window.partitionBy(col("__rid")).orderBy(ord)
      .rowsBetween(Window.unboundedPreceding, -1)
    val loc = withR.withColumn("__loc", max(col(value)).over(locW))
    val totals = withR.groupBy(col("__rid")).agg(max(col(value)).as("__t"))
    val offs = overEarlierRanges(totals, desc, Seq(max(col("b.__t")).as("__o")))
    loc.join(broadcast(offs), "__rid")
      .withColumn(out, greatest(col("__loc"), col("__o")))
      .drop("__rid", "__loc", "__o")
  }

  /** Distributed `lag(value, 1)` in ascending key order (q129's
    * period-over-period shape). The local lag is a range-partitioned
    * window; the FIRST row of each range (and only it — a legitimately
    * NULL lagged value elsewhere stays NULL, matching the window form)
    * takes the value of the LAST row of the nearest preceding non-empty
    * range, found by a broadcast theta-join over the per-range argmax
    * rows (one row per range). The global first row stays NULL, as in
    * the window form.
    */
  def rangedLag(cells: DataFrame, key: String, rangeId: Column,
      value: String, out: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val withR = cells.withColumn("__rid", rangeId.cast("long"))
    val locW = Window.partitionBy(col("__rid")).orderBy(col(key))
    val loc = withR.withColumn(out, lag(col(value), 1).over(locW))
      .withColumn("__rn", row_number().over(locW))
    val last = withR.groupBy(col("__rid"))
      .agg(max(struct(col(key).as("k"), col(value).as("v"))).as("l"))
    val prev = overEarlierRanges(last, desc = false,
      Seq(max(struct(col("b.__rid").as("r"), col("b.l.v").as("v"))).as("__p")))
    loc.join(broadcast(prev), "__rid")
      .withColumn(out,
        when(col("__rn") === 1, col("__p.v")).otherwise(col(out)))
      .drop("__rid", "__p", "__rn")
  }

  /** Shared scaffolding of the ranged prefix ops: for each range, aggregate
    * over the ranges strictly EARLIER in sort order (strictly later when
    * `desc`) with a broadcast theta-join — O(R²) joined pairs over the
    * per-range summary (one row per range), no window, no global sort. The
    * `aggs` reference the earlier-range side as `b.*`; ranges with no
    * earlier range aggregate over the empty set (left join → NULL inputs).
    */
  private def overEarlierRanges(perRange: DataFrame, desc: Boolean,
      aggs: Seq[Column]): DataFrame = {
    val before =
      if (desc) col("b.__rid") > col("a.__rid") else col("b.__rid") < col("a.__rid")
    perRange.as("a")
      .join(broadcast(perRange.as("b")), before, "left")
      .groupBy(col("a.__rid"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Gap sessionization WITHOUT a per-key event sort — the mega-user
    * degenerate case every per-user window operator documents (q29/q51/
    * q92/q98/q108: "a mega-user serializes one partition"). The plain form
    * sorts ALL of a user's events in one task; a user with 10¹⁰ events is
    * a straggler no AQE setting fixes. Scheme (the [[rangedCumSum]] idea
    * applied to per-key windows):
    *
    *  1. events bucket into (key, time-range) partitions (`rid = ts div
    *     rangeNs`); the lag/cumsum session pass runs INSIDE each bucket —
    *     max task = one key's events in one rangeNs span;
    *  2. per-(key, range) summaries (first/last event ts, local session
    *     count) stitch on a window partitioned by KEY over the summary
    *     rows — bounded by the CALENDAR (span/rangeNs rows per key, the
    *     q128 discipline), never by event volume. A range whose first
    *     event is within `gapNs` of the previous non-empty range's last
    *     event merges its first local session into that range's last
    *     (lag(1) over non-empty ranges IS the previous event's range, so
    *     the predicate is exactly the window form's is_new, negated);
    *  3. global session index = (Σ earlier ranges' session counts)
    *     + local index − (merge boundaries so far) — chains of
    *     continuous activity across many ranges collapse correctly
    *     because each merged range contributes its own merge boundary.
    *
    * Result is row-identical to the single-window form (spec-asserted,
    * including cross-boundary chains and ties); session indexes are
    * 1-based in event-time order per key, ties broken by `tie`.
    */
  def sessionizeRanged(events: DataFrame, key: String, ts: String,
      tie: String, gapNs: Long, rangeNs: Long,
      out: String = "session_idx"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(gapNs > 0 && rangeNs > 0, "gapNs and rangeNs must be positive")
    // call_function keeps integer-div semantics while accepting any column
    // name (expr-string interpolation would break on dots/spaces/hyphens)
    val withR = events.withColumn("__rid",
      call_function("div", col(ts), lit(rangeNs)))
    val locW = Window.partitionBy(col(key), col("__rid"))
      .orderBy(col(ts).asc, col(tie).asc)
    val loc = withR
      .withColumn("__prev", lag(col(ts), 1).over(locW))
      .withColumn("__new",
        when(col("__prev").isNull || col(ts) - col("__prev") > gapNs, 1L)
          .otherwise(0L))
      .withColumn("__lidx", sum(col("__new"))
        .over(locW.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop("__prev", "__new")
    val summ = loc.groupBy(col(key), col("__rid")).agg(
      min(col(ts)).as("__first"),
      max(col(ts)).as("__last"),
      max(col("__lidx")).as("__nloc"))
    val kw = Window.partitionBy(col(key)).orderBy(col("__rid"))
    val stitched = summ
      .withColumn("__prevLast", lag(col("__last"), 1).over(kw))
      .withColumn("__merge",
        when(col("__prevLast").isNotNull &&
          col("__first") - col("__prevLast") <= gapNs, 1L).otherwise(0L))
      .withColumn("__adj", sum(col("__merge")).over(kw))
      .withColumn("__prefix", coalesce(
        sum(col("__nloc")).over(kw.rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .select(col(key), col("__rid"), col("__adj"), col("__prefix"))
    loc.join(stitched, Seq(key, "__rid"))
      .withColumn(out, col("__prefix") + col("__lidx") - col("__adj"))
      .drop("__rid", "__lidx", "__adj", "__prefix")
  }

  /** As-of carry-in WITHOUT a per-key event sort — the q51 mega-user
    * degenerate case (SURVEY §9's "same summary-frame pattern with
    * last-value seeds", implemented). The union merge-asof (q51) sorts ALL
    * of a key's events in one window partition; a key with 10¹⁰ events is
    * a straggler no AQE setting fixes. Scheme ([[sessionizeRanged]]'s
    * bucket-and-stitch applied to running `last(payload, ignoreNulls)`):
    *
    *  1. events bucket into (key, time-range) partitions (`rid = ts div
    *     rangeNs`); the running last-non-null `payload` runs INSIDE each
    *     bucket — max task = one key's events in one rangeNs span;
    *  2. per-(key, range) summaries (one row per NON-EMPTY range: the
    *     latest build payload in the range, or NULL if the range has only
    *     probe rows) stitch on a window partitioned by KEY over the
    *     summary rows — bounded by the CALENDAR (span/rangeNs rows per
    *     key, the q128 discipline), never by event volume. Range r's
    *     carry-in seed = the last non-null summary over ranges < r;
    *  3. per-row result = coalesce(local running last, range seed) —
    *     row-identical to the single-window form because a row's nearest
    *     preceding build row is either in its own range (local wins) or
    *     the latest build row of the nearest earlier build-bearing range
    *     (the seed).
    *
    * Ordering contract (same as q51's window): rows order by
    * (ts, side, tie) ascending per key; `payload` must be non-null
    * exactly on build rows, and (ts, side, tie) must be unique per key so
    * the carried value is deterministic. Returns the input columns plus
    * `out` = the as-of payload (null until the first build row).
    */
  def rangedAsOf(events: DataFrame, key: String, ts: String, side: String,
      tie: String, payload: String, rangeNs: Long,
      out: String = "asof_p"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(rangeNs > 0, "rangeNs must be positive")
    val withR = events.withColumn("__rid",
      call_function("div", col(ts), lit(rangeNs)))
    val locW = Window.partitionBy(col(key), col("__rid"))
      .orderBy(col(ts).asc, col(side).asc, col(tie).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val loc = withR.withColumn("__loc",
      last(col(payload), ignoreNulls = true).over(locW))
    // latest build payload per (key, range): max over an ordering struct
    // restricted to build rows (max ignores the NULLs probe rows produce)
    val summ = withR.groupBy(col(key), col("__rid")).agg(
      max(when(col(payload).isNotNull,
        struct(col(ts), col(side), col(tie), col(payload).as("p")))).as("__s"))
    val kw = Window.partitionBy(col(key)).orderBy(col("__rid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val seeds = summ
      .withColumn("__seed", last(col("__s"), ignoreNulls = true).over(kw))
      .select(col(key), col("__rid"), col("__seed.p").as("__seedp"))
    loc.join(seeds, Seq(key, "__rid"))
      .withColumn(out, coalesce(col("__loc"), col("__seedp")))
      .drop("__rid", "__loc", "__seedp")
  }

  // ------------------------------------------------ q189 rendezvous shards

  /** Shard count before the scale-out event q189 audits (after = +1). */
  val RendezvousShards = 8

  /** Highest-random-weight (rendezvous) shard for a document id over `n`
    * shards: argmax over shards of the portable per-(doc, shard) hash —
    * ties (2⁻³² probability) break to the higher shard id identically on
    * both engines via lexicographic struct max.
    */
  private def rendezvousShard(doc: Column, n: Int): Column =
    array_max(array((0 until n).map { s =>
      struct(Portable.h32(concat(doc.cast("string"), lit(s"_$s"))).as("w"),
        lit(s).as("s"))
    }: _*)).getField("s")

  private def rendezvousShardSql(docExpr: String, n: Int): String =
    "list_max([" + (0 until n).map { s =>
      s"{'w': ${Portable.h32Sql(s"$docExpr || '_$s'")}, 's': $s}"
    }.mkString(", ") + "]).s"

  /** q189: rendezvous-shard migration audit — how a 100 TB corpus grows
    * its fleet without reshuffling itself. Mod-N placement moves ≈
    * N/(N+1) of ALL data when a shard is added (every residue changes);
    * rendezvous/HRW hashing (Thaler & Ravishankar 1998 — the scheme
    * behind consistent object placement in Riak/Ceph-class stores) moves
    * ONLY the documents whose new shard's weight beats their previous
    * maximum — an expected 1/(N+1) share, and every mover lands on the
    * NEW shard (a structural invariant, not a tendency: weights of the
    * old shards are unchanged, so a doc whose argmax changed can only
    * have been beaten by the new one). The audit computes old and new
    * placement per document and aggregates the (from, to) migration
    * matrix: diagonal = stayers, one column = the movers.
    *
    * Scale shape: placement is a pure narrow projection (N+1 portable
    * hashes + one array-max per row, whole-stage codegen, no state); the
    * matrix is ONE hash agg on a ≤ N·(N+1)-cell key space. Nothing
    * shuffles but the final cells — the audit costs one scan, which is
    * the point: you can PRICE a scale-out before buying it.
    */
  def shardMigration(spark: SparkSession, sfDir: String): DataFrame =
    graft.Tables.documents(spark, sfDir)
      .select(
        rendezvousShard(col("doc_id"), RendezvousShards).as("shard_old"),
        rendezvousShard(col("doc_id"), RendezvousShards + 1).as("shard_new"))
      .groupBy(col("shard_old"), col("shard_new"))
      .agg(count(lit(1)).as("n_docs"))
      .select(col("shard_old"), col("shard_new"), col("n_docs"),
        (col("shard_old") =!= col("shard_new")).as("moved"))

  val shardMigrationSql: String =
    s"""SELECT shard_old, shard_new, count(*)::BIGINT AS n_docs,
       |       (shard_old <> shard_new) AS moved
       |FROM (
       |  SELECT ${rendezvousShardSql("doc_id::VARCHAR", RendezvousShards)} AS shard_old,
       |         ${rendezvousShardSql("doc_id::VARCHAR", RendezvousShards + 1)} AS shard_new
       |  FROM documents)
       |GROUP BY 1, 2""".stripMargin

  // -------------------------------------- q223 optimizer-rewritten cumsum

  /** Range width for the q223 auto-rewrite (key units — orderkeys are
    * dense, so this is also ~max rows per local-sort task).
    */
  val AutoRangeBucket = 4096L

  /** q223: the AUTOMATIC mega-key recovery — this query is written as the
    * NAIVE partition-less running sum (`sum(cents).over(Window.orderBy
    * (o_orderkey))`, the exact plan q51/q172 exist to avoid), and the
    * [[graft.functions.AutoRangeCumSum]] optimizer rule — injected via
    * GraftExtensions, enabled by the session conf it keys on, which this
    * builder sets only while it optimizes its own plan — rewrites it into
    * the proven [[rangedCumSum]] plan during optimization. The
    * oracle replays the window form, so the hash match proves the
    * OPTIMIZER-produced plan row-identical to the naive semantics; the
    * suite-wide PlanSpec assertion (no gate query plans a partition-less
    * window) passes for this query ONLY because the rule fires. This is
    * the q213 grid discipline lifted from hand-written operators to the
    * engine itself: a user who writes the scale-killer gets the
    * recovery for free.
    *
    * Scale shape: after the rewrite, identical to [[rangedCumSum]] —
    * range-partitioned local windows + one broadcast theta-join over
    * catalog-sized range totals; nothing global remains.
    *
    * Parity: cents are exact integers; the sum is BIGINT on both
    * engines.
    */
  def autorangeCumSum(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.AutoRangeCumSum.BucketKey
    val w = Window.orderBy(col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val naive = graft.Tables.orders(spark, sfDir)
      .select(col("o_orderkey"),
        floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"))
      .withColumn("cum_cents", sum(col("cents")).over(w))
      .select(col("o_orderkey"), col("cents"), col("cum_cents"))
    // the rule is enabled only while this plan is optimized: the session
    // conf is restored before returning, so no later query is rewritten.
    // The returned frame wraps the already-rewritten plan (the rule
    // no-ops on it when it runs again).
    val prev = spark.conf.getOption(BucketKey)
    spark.conf.set(BucketKey, AutoRangeBucket.toString)
    val rewritten =
      try naive.queryExecution.optimizedPlan
      finally prev.fold(spark.conf.unset(BucketKey))(spark.conf.set(BucketKey, _))
    org.apache.spark.sql.graft.PlanBridge.ofRows(spark, rewritten)
  }

  val autorangeCumSumSql: String =
    s"""SELECT o_orderkey,
       |       floor(o_totalprice * 100 + 0.5)::BIGINT AS cents,
       |       sum(floor(o_totalprice * 100 + 0.5)::BIGINT) OVER (
       |         ORDER BY o_orderkey
       |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |         ::BIGINT AS cum_cents
       |FROM orders""".stripMargin
}
