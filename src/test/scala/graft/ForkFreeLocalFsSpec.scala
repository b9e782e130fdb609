package graft

import java.net.URI
import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.PartitionedSink
import graft.sources.{ForkFreeLocalFs, ForkFreeRawLocalFs}

/** [[ForkFreeLocalFs]] must leave exactly the bytes, names and modes the
  * stock `file:` file system leaves; it only stops forking `chmod`. */
class ForkFreeLocalFsSpec extends AnyFunSuite with SparkTestBase {

  private def mode(p: JPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  private def octal(s: String): Short = Integer.parseInt(s, 8).toShort

  private def initialized(fs: RawLocalFileSystem): RawLocalFileSystem = {
    fs.initialize(URI.create("file:///"), new Configuration())
    fs
  }

  test("setPermission leaves the modes stock RawLocalFileSystem leaves") {
    val stock = initialized(new RawLocalFileSystem)
    val forkFree = initialized(new ForkFreeRawLocalFs)
    val root = Files.createTempDirectory("ffl_modes")
    // a setgid parent: its new subdirectories inherit the bit, and a
    // 4-digit chmod keeps it
    val setgid = Files.createDirectory(root.resolve("setgid"))
    Files.setAttribute(setgid, "unix:mode", Integer.valueOf(octal("2755")))
    for (m <- Seq("0644", "0755", "0600", "0700", "0777", "0000", "1755");
         parent <- Seq(root, setgid);
         dir <- Seq(false, true)) {
      val modes = Seq(stock, forkFree).map { fs =>
        val p = parent.resolve(s"${fs.getClass.getSimpleName}-$m-$dir")
        if (dir) Files.createDirectory(p) else Files.createFile(p)
        fs.setPermission(new Path(p.toUri), new FsPermission(octal(m)))
        mode(p)
      }
      assert(modes.distinct.size == 1,
        f"mode $m (dir=$dir, parent=${parent.getFileName}): " +
          modes.map(x => f"$x%o").mkString(" vs "))
    }
  }

  test("PartitionedSink writes the tree a stock DataFrameWriter writes") {
    val df = spark.range(0, 600).select(
      (col("id") % 3).cast("string").as("src"),
      (col("id") % 2).as("y"),
      col("id"), sha2(col("id").cast("string"), 256).as("payload"))
      .coalesce(2)
    val root = Files.createTempDirectory("ffl_sink")
    val sink = root.resolve("sink").toString
    val stock = root.resolve("stock").toString
    PartitionedSink.write(df, Seq("src", "y"), sink)
    df.hint("rebalance", "src", "y").write.mode(SaveMode.Overwrite)
      .option("maxRecordsPerFile", PartitionedSink.MaxRecordsPerFile)
      .partitionBy("src", "y").parquet(stock)
    // (relative path with the write's job id masked, size, mode)
    val uuid = "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}".r
    def tree(dir: String) = {
      val base = java.nio.file.Paths.get(dir)
      Files.walk(base).iterator().asScala.filterNot(_ == base).map { p =>
        val rel = uuid.replaceAllIn(base.relativize(p).toString, "<job>")
        (rel, if (Files.isDirectory(p)) -1L else Files.size(p), mode(p))
      }.toSeq.sorted
    }
    val written = tree(sink)
    assert(written == tree(stock))
    assert(written.exists(_._1 == "_SUCCESS") && written.exists(_._1 == "._SUCCESS.crc"))
    assert(written.count(_._1.endsWith(".parquet")) == 6)
    assert(written.count(_._1.endsWith(".parquet.crc")) == 6)
  }

  test("the helper's conf resolves file: to ForkFreeLocalFs and leaves other schemes alone") {
    val conf = ForkFreeLocalFs.hadoopConf(spark)
    conf.set("fs.mockfs.impl", classOf[MockRemoteFs].getName)
    val dir = Files.createTempDirectory("ffl_conf").toUri
    assert(new Path(dir).getFileSystem(conf).isInstanceOf[ForkFreeLocalFs])
    val mock = new Path(s"mockfs://${dir.getPath}").getFileSystem(conf)
    assert(mock.isInstanceOf[MockRemoteFs])
    // mockfs keeps the FileSystem cache; only file: bypasses it
    assert(FileSystem.get(mock.getUri, conf) eq mock)
    // the session's own conf still resolves file: to the stock class
    val stock = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    assert(!stock.isInstanceOf[ForkFreeLocalFs])
  }
}
