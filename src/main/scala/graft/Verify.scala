package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Correctness dump: each SparkEntry gate query's result → parquet, plus
  * oracle_sql.json, for the DuckDB oracle compare (`tools/crosscheck.py`). */
object Verify {
  /** The `oracle_sql.json` body: one `name: sql` member per entry.
    * JSON string escape: backslash, quote, and ALL control chars (<0x20)
    * — a tab or CR in an entry's SQL would otherwise make the reader's
    * json.load fail and silently zero every oracle comparison.
    */
  def oracleJson(entries: Seq[GateQuery]): String = {
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    entries.map(g => s"${q(g.name)}: ${q(g.oracleSql)}").mkString("{", ",", "}")
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional 3rd arg (for iteration; the full gate passes 2): a
    // SparkEntry.select list — dump and emit oracle SQL for just those
    val entries = SparkEntry.select(args.lift(2))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    entries.foreach { g =>
      try g.build(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/${g.name}")
      catch { case e: Throwable =>
        System.err.println(s"[verify] ${g.name} failed: ${e.getMessage}")
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), oracleJson(entries))
    spark.stop()
  }
}
