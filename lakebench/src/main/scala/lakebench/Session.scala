package lakebench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** The one Spark session a benchmark process runs in: `local[nproc]`, AQE
  * on, graft's extensions, with every scratch directory under the
  * benchmark's work directory so a run writes only inside its checkout.
  */
object Session {
  val cores: Int = Runtime.getRuntime.availableProcessors()

  def start(work: Path): SparkSession = {
    val local = Files.createDirectories(work.resolve("spark-local"))
    val spark = SparkSession.builder()
      .appName("lakebench")
      .master(s"local[$cores]")
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", local.toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Recursively delete `p` if it exists. */
  def rmTree(p: Path): Unit =
    if (Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      val all = Files.walk(p).iterator().asScala.toVector
      all.reverse.foreach(Files.delete)
    }

  def fresh(p: Path): Path = { rmTree(p); Files.createDirectories(p) }

  def path(s: String): Path = Paths.get(s).toAbsolutePath.normalize
}
