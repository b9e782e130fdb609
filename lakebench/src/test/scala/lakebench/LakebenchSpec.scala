package lakebench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.ChessPipeline

class LakebenchSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val work: Path = Files.createTempDirectory("lakebench-spec")
  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .withExtensions(new graft.functions.GraftExtensions)
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  override def afterAll(): Unit = {
    spark.stop()
    Session.rmTree(work)
  }

  test("tail percentile is the highest with at least 10 samples beyond it") {
    for (n <- 11 to 400) {
      val p = Stats.tailPercentile(n).get
      def beyond(q: Int) = n - math.ceil(q / 100.0 * n).toInt
      assert(beyond(p) >= 10, s"n=$n p=$p")
      assert(p == 100 || beyond(p + 1) < 10, s"n=$n p=$p is not the highest")
    }
    assert(Stats.tailPercentile(10).isEmpty)
    assert(Stats.tailPercentile(30).contains(66))
    assert(Stats.tailPercentile(100).contains(90))
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.tail(xs) == (("p90", 90.0)))
    assert(Stats.tail(Seq(3.0, 1.0, 2.0)) == (("max", 3.0)))
    assert(Stats.tail((1 to 19).map(_.toDouble)) == (("max", 19.0)))
    assert(Stats.tail((1 to 20).map(_.toDouble)) == (("p50", 10.0)))
  }

  test("fingerprint is order-invariant and rejects one changed value") {
    import spark.implicits._
    val a = Seq((1L, "x", 1.5), (2L, "y", 2.5), (3L, "z", 3.5)).toDF("id", "s", "d")
    val shuffled = a.orderBy(desc("id")).repartition(3)
    val changed = a.withColumn("d", when(col("id") === 2, lit(2.5000000000000004)).otherwise(col("d")))
    assert(Checks.fingerprint(a) == Checks.fingerprint(shuffled))
    assert(Checks.fingerprint(a) != Checks.fingerprint(changed))
  }

  test("pipeline checks reject a dropped game and a rewritten staging file") {
    val tree = Corpus.tree(work.resolve("in"), 64L << 10, 2, seed = 7)
    val openings = Corpus.openings(spark, tree.root.resolve(tree.keys.head).resolve("games.pgn"),
      work.resolve("openings"), 200, seed = 7)
    val staging = work.resolve("staging")
    val out = work.resolve("out")
    def run(): Unit = Console.withOut(new java.io.PrintStream(java.io.OutputStream.nullOutputStream()))(
      ChessPipeline.run(spark, tree.pipelineSources, openings, staging.toString, out.toString))
    run()
    val published = spark.read.parquet(out.toString)
    val fp = Checks.fingerprint(published)
    assert(Checks.gameCount(fp, tree.games).isEmpty)
    val reference = Checks.openingReference(tree.read(spark), openings)
    assert(Checks.openingMismatches(published, reference) == 0)
    val dropped = Checks.fingerprint(published.limit(tree.games.toInt - 1))
    assert(Checks.gameCount(dropped, tree.games).nonEmpty)

    val before = Checks.snapshot(staging, out)
    run()
    val after = Checks.snapshot(staging, out)
    val fpAfter = Checks.fingerprint(spark.read.parquet(out.toString))
    assert(Checks.noChange(before, after, fp, fpAfter).isEmpty)

    val staged = after.keys.filter(_.endsWith(".parquet")).filter(_.startsWith(staging.toString)).min
    val p = java.nio.file.Paths.get(staged)
    Files.write(p, Files.readAllBytes(p))
    Files.setLastModifiedTime(p, java.nio.file.attribute.FileTime.fromMillis(after(staged)._2 + 1000))
    val rewritten = Checks.snapshot(staging, out)
    assert(Checks.noChange(before, rewritten, fp, fpAfter).exists(_.contains("touched 1 file")))
  }
}
