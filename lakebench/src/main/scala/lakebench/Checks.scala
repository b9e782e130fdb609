package lakebench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.chess
import graft.ops.OpeningEnrichment

/** Order-invariant, bit-exact fingerprint of a frame: row count,
  * bit_xor and sum of xxhash64 over the name-sorted columns. Equal
  * fingerprints mean equal multisets of rows, up to hash collisions.
  */
final case class Fp(rows: Long, xor: Long, sum: BigDecimal)

object Checks {
  def fingerprint(df: DataFrame): Fp = {
    val h = xxhash64(struct(df.columns.sorted.map(col).toSeq: _*))
    val r = df.select(
      count(lit(1)),
      coalesce(bit_xor(h), lit(0L)),
      coalesce(sum(h.cast("decimal(38,0)")), lit(java.math.BigDecimal.ZERO)))
      .collect()(0)
    Fp(r.getLong(0), r.getLong(1), BigDecimal(r.getDecimal(2)))
  }

  /** The committed per-query fingerprints (`invariance_sf01.json`, the
    * first configuration's values).
    */
  def expectedQueries(json: Path): Map[String, Fp] = {
    import org.json4s._
    val j = org.json4s.jackson.JsonMethods.parse(Files.readString(json))
    val JObject(qs) = j \ "queries": @unchecked
    qs.map { case (name, q) =>
      val JArray(rows :: _) = q \ "rows": @unchecked
      val JArray(JString(x) :: _) = q \ "xor": @unchecked
      val JArray(JString(s) :: _) = q \ "sum": @unchecked
      val n = rows match { case JInt(i) => i.toLong; case other => sys.error(s"rows: $other") }
      name -> Fp(n, x.toLong, BigDecimal(s))
    }.toMap
  }

  /** A publish must hold exactly the games the generator wrote. */
  def gameCount(published: Fp, generated: Long): Option[String] =
    if (published.rows != generated) Some(s"published ${published.rows} games, generated $generated")
    else None

  /** Every regular file under `dirs` with its size and modification time:
    * a run that rewrites or adds a file changes the snapshot.
    */
  def snapshot(dirs: Path*): Map[String, (Long, Long)] =
    dirs.filter(Files.exists(_)).flatMap { d =>
      Files.walk(d).iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
        p.toString -> (Files.size(p), Files.getLastModifiedTime(p).toMillis)
      }
    }.toMap

  /** Why a no-change re-run broke its guarantee, if it did: it must
    * rewrite, add or delete no file under staging or the publish dir,
    * and leave the published multiset as it was.
    */
  def noChange(before: Map[String, (Long, Long)], after: Map[String, (Long, Long)],
      fpBefore: Fp, fpAfter: Fp): Option[String] = {
    val changed = (before.keySet ++ after.keySet).filter(k => before.get(k) != after.get(k))
    if (changed.nonEmpty)
      Some(s"no-change re-run touched ${changed.size} file(s), e.g. ${changed.min}")
    else if (fpBefore != fpAfter)
      Some(s"no-change re-run changed the published rows: $fpBefore -> $fpAfter")
    else None
  }

  /** The join-based `OpeningEnrichment.enrich` reference: normalized
    * movetext -> (ECO, Opening) for every distinct movetext of `games` (a
    * frame of PGN games with `movetext`). Enrichment is a function of the
    * normalized movetext alone (the generated games carry no Opening or
    * ECO tag), so the distinct movetexts stand for all games.
    */
  def openingReference(games: DataFrame, openings: DataFrame): Map[String, (String, String)] = {
    val spark = games.sparkSession
    // keep the cross join spread over every core: AQE would coalesce the
    // few thousand movetexts into one partition
    val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
    val coalesce0 = spark.conf.getOption(coalesceKey)
    spark.conf.set(coalesceKey, "false")
    try {
      val distinctMoves = games.select(chess.movesNormalize(col("movetext")).as("clean_movetext"))
        .distinct()
        .withColumn("game_id", monotonically_increasing_id())
        .withColumn("ECO", lit(null).cast("string"))
        .withColumn("Opening", lit(null).cast("string"))
        .repartition(Session.cores)
      OpeningEnrichment.enrich(distinctMoves, openings)
        .select("clean_movetext", "ECO", "Opening").collect()
        .map(r => r.getString(0) -> ((r.getString(1), r.getString(2)))).toMap
    } finally coalesce0.fold(spark.conf.unset(coalesceKey))(spark.conf.set(coalesceKey, _))
  }

  /** Published games whose ECO/Opening differ from `reference`, or whose
    * movetext it does not know.
    */
  def openingMismatches(published: DataFrame, reference: Map[String, (String, String)]): Long =
    published.groupBy(chess.movesNormalize(col("movetext")), col("ECO"), col("Opening"))
      .agg(count(lit(1))).collect()
      .filterNot(r => reference.get(r.getString(0)).contains((r.getString(1), r.getString(2))))
      .map(_.getLong(3)).sum

  def read(spark: SparkSession, dir: Path): DataFrame = spark.read.parquet(dir.toString)
}
