package graft

import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import graft.ops.OpeningEnrichment
import graft.pipeline.ChessPipeline
import graft.sources.PgnScan

class ChessPipelineSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def pgn(white: String, date: String, moves: String): String =
    s"""[Event "T"]
       |[Site "S"]
       |[White "$white"]
       |[Black "B"]
       |[Result "1-0"]
       |[UTCDate "$date"]
       |[UTCTime "10:00:00"]
       |[TimeControl "300+3"]
       |[Termination "Normal"]
       |
       |$moves 1-0
       |""".stripMargin

  private lazy val root: Path = {
    val d = Files.createTempDirectory("chess_pipe")
    val s1 = Files.createDirectories(d.resolve("in/src_a"))
    val s2 = Files.createDirectories(d.resolve("in/src_b"))
    Files.writeString(s1.resolve("one.pgn"),
      pgn("P1", "2020.01.15", "1. e4 e5 2. Nf3 Nc6 3. Bb5 a6") + "\n" +
      pgn("P2", "2020.02.20", "1. d4 d5 2. c4 e6") + "\n" +
      pgn("BadDate", "????.??.??", "1. e4 c5"))   // filtered by P5
    Files.writeString(s2.resolve("two.pgn"),
      pgn("P3", "2021.03.10", "1. e4 e5 2. Nf3 Nc6"))
    val openings = Seq(
      ("C60", "Ruy Lopez", "1. e4 e5 2. Nf3 Nc6 3. Bb5", "e2e4 e7e5 g1f3 b8c6 f1b5"),
      ("C40", "King's Knight Opening", "1. e4 e5 2. Nf3", "e2e4 e7e5 g1f3"),
      ("D00", "Queen's Pawn Game", "1. d4 d5", "d2d4 d7d5"))
      .toDF("eco", "name", "pgn", "uci")
    openings.write.parquet(d.resolve("openings").toString)
    d
  }

  test("end-to-end: ingest → enrich → partitioned publish") {
    val openings = spark.read.parquet(root.resolve("openings").toString)
    val sources = Seq(
      ChessPipeline.Source("src_a", root.resolve("in/src_a").toString),
      ChessPipeline.Source("src_b", root.resolve("in/src_b").toString))
    ChessPipeline.run(spark, sources, openings,
      root.resolve("staging").toString, root.resolve("out").toString)

    val out = spark.read.parquet(root.resolve("out").toString)
    // bad-date game filtered: 4 games in, 3 published
    assert(out.count() == 3)
    // 20-column contract (export-to-parquet.ts:69-94 incl. UTCDate)
    assert(out.columns.length == 20)
    assert(out.columns.contains("DataSource") && out.columns.contains("year")
      && out.columns.contains("month"))
    // partition layout DataSource=…/year=…/month=… (month zero-padded string)
    val p1 = root.resolve("out/DataSource=src_a/year=2020/month=01")
    val p3 = root.resolve("out/DataSource=src_b/year=2021/month=03")
    assert(Files.exists(p1), s"missing $p1")
    assert(Files.exists(p3), s"missing $p3")
    // enrichment applied (longest match) + timecontrol coalesce
    val ruy = out.filter(col("White") === "P1").head()
    assert(ruy.getAs[String]("ECO") == "C60")
    assert(ruy.getAs[String]("Opening") == "Ruy Lopez")
    assert(ruy.getAs[String]("TimeControl") == "300+3")
    val qp = out.filter(col("White") === "P2").head()
    assert(qp.getAs[String]("Opening") == "Queen's Pawn Game")
  }

  test("q35 output matches the committed golden oracle table") {
    // drift guard: if the fixture, normalizers, enrichment, or projection
    // change without regenerating tools/q35_golden.py's output, this fails
    // before the driver's oracle does
    val golden = spark.read.parquet("src/test/resources/graft/golden/q35_expected.parquet")
    val q35 = graft.ops.PgnDemo.pgnPipeline(spark, "")
    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select(df.columns.sorted.toIndexedSeq.map(c => col(c).cast("string")): _*)
        .collect()
        .map(_.toSeq.map(v => if (v == null) "NULL" else v.toString).mkString("|"))
        .sorted.toSeq
    assert(q35.columns.sorted.sameElements(golden.columns.sorted))
    assert(canon(q35) == canon(golden))
  }

  test("openings ingest: file:// recursive glob takes the remote-URI code path") {
    // mirror layout like the hf dataset: nested dirs, parquet leaves, plus a
    // non-matching file the leaf glob must ignore
    val m = Files.createTempDirectory("openings_mirror")
    val sub = Files.createDirectories(m.resolve("data/part0"))
    Seq(("C60", "Ruy Lopez", "1. e4 e5 2. Nf3 Nc6 3. Bb5", "e2e4 e7e5 g1f3 b8c6 f1b5"))
      .toDF("eco", "name", "pgn", "uci")
      .coalesce(1).write.mode("overwrite").parquet(sub.toString)
    Files.writeString(m.resolve("data/README.txt"), "not a parquet")
    val df = graft.sources.OpeningsSource.load(spark,
      s"file://$m/**/*.parquet")
    assert(df.count() == 1 && df.select("eco").head().getString(0) == "C60")
    // a dataset missing contract columns fails loudly
    val badDir = Files.createTempDirectory("openings_bad")
    Seq(("x")).toDF("eco").write.mode("overwrite").parquet(badDir.resolve("o").toString)
    val e = intercept[IllegalArgumentException] {
      graft.sources.OpeningsSource.load(spark, s"file://$badDir/**/*.parquet")
    }
    assert(e.getMessage.contains("missing column"))
  }

  test("openings ingest through a registered non-file Hadoop scheme (mockfs://)") {
    // the reference reads hf://datasets/... directly; OpeningsSource takes
    // any Hadoop-mountable scheme. Execute that path end-to-end: register a
    // custom scheme and load the dimension through it — same recursive-glob
    // translation, same contract validation, zero special-casing.
    spark.sparkContext.hadoopConfiguration
      .set("fs.mockfs.impl", classOf[MockRemoteFs].getName)
    val m = Files.createTempDirectory("openings_remote")
    val sub = Files.createDirectories(m.resolve("chess-openings/part0"))
    Seq(("A00", "Polish Opening", "1. b4", "b2b4"),
        ("B00", "King's Pawn", "1. e4", "e2e4"))
      .toDF("eco", "name", "pgn", "uci")
      .coalesce(1).write.mode("overwrite").parquet(sub.toString)
    val df = graft.sources.OpeningsSource.load(spark, s"mockfs://$m/**/*.parquet")
    assert(df.count() == 2)
    assert(df.select("eco").collect().map(_.getString(0)).sorted
      .sameElements(Array("A00", "B00")))
  }

  test("markdown validation rendering matches the duckdb -markdown shape (S10)") {
    val df = Seq((1L, "a", 3.5), (22L, null.asInstanceOf[String], -0.25))
      .toDF("id", "name", "score")
    val md = graft.pipeline.Markdown.render(df)
    val lines = md.split("\n")
    // header | separator | one line per row, all pipe-delimited and aligned
    assert(lines.length == 4)
    assert(lines(0).matches("""\| *id \| name *\| *score \|"""), lines(0))
    // numeric columns right-aligned (separator ends in ':'), strings not
    val seps = lines(1).stripPrefix("|").stripSuffix("|").split("\\|")
    assert(seps.length == 3 && seps(0).endsWith(":") && !seps(1).endsWith(":")
      && seps(2).endsWith(":"), lines(1))
    assert(seps.forall(_.matches("-+:?")), lines(1))
    assert(lines(2).contains("3.5") && lines(3).contains("NULL"))
    // all rows padded to equal width
    assert(lines.map(_.length).distinct.length == 1, md)
    // maxRows caps the driver collect with an explicit ellipsis marker
    val many = spark.range(10).toDF("id")
    val capped = graft.pipeline.Markdown.render(many, maxRows = 4)
    assert(capped.split("\n").length == 7 && capped.contains("..."), capped)
  }

  /** Every regular file under `dirs` with its size and modification time. */
  private def snapshot(dirs: Path*): Map[String, (Long, FileTime)] =
    dirs.flatMap { d =>
      Files.walk(d).iterator().asScala.filter(Files.isRegularFile(_)).map(p =>
        p.toString -> (Files.size(p), Files.getLastModifiedTime(p))).toSeq
    }.toMap

  test("manifest skip: second run reuses staging") {
    val openings = spark.read.parquet(root.resolve("openings").toString)
    val sources = Seq(
      ChessPipeline.Source("src_a", root.resolve("in/src_a").toString))
    val stage = root.resolve("staging2").toString
    ChessPipeline.run(spark, sources, openings, stage, root.resolve("out2").toString)
    val mtime = Files.getLastModifiedTime(
      root.resolve("staging2/src_a/_graft_manifest"))
    // the openings fingerprint staging trees already on disk carry: a
    // change to it would restage every source
    assert(Files.readAllLines(root.resolve("staging2/src_a/_graft_manifest")).get(3) ==
      "5dde9389de7d51962bf8b66ab8bf08bc53e062a8f37530e2c0ac3dc3959e0f3c")
    val before = snapshot(root.resolve("staging2"), root.resolve("out2"))
    ChessPipeline.run(spark, sources, openings, stage, root.resolve("out2").toString)
    // manifest untouched → stage skipped
    assert(Files.getLastModifiedTime(
      root.resolve("staging2/src_a/_graft_manifest")) == mtime)
    // and the skip adds, rewrites or deletes no file under staging or out
    assert(snapshot(root.resolve("staging2"), root.resolve("out2")) == before)
  }

  test("empty source list fails fast") {
    val openings = spark.read.parquet(root.resolve("openings").toString)
    intercept[IllegalArgumentException] {
      ChessPipeline.run(spark, Nil, openings,
        root.resolve("staging3").toString, root.resolve("out3").toString)
    }
  }

  /** The published rows as a sorted multiset of canonical strings. */
  private def rowsOf(out: Path): Seq[String] = {
    val df = spark.read.parquet(out.toString)
    df.select(df.columns.sorted.toIndexedSeq.map(c => col(c).cast("string")): _*)
      .collect().map(_.mkString("|")).sorted.toSeq
  }

  /** Every directory of the published tree, relative to it, outside
    * `_`-named (hidden) dirs. */
  private def cellsOf(out: Path): Set[String] =
    Files.walk(out).iterator().asScala.filter(Files.isDirectory(_))
      .map(out.relativize(_).toString)
      .filter(r => r.nonEmpty && !r.split('/').exists(_.startsWith("_")))
      .toSet

  /** Runs the pipeline over a tree where `src_a` holds a January and a
    * February file and `src_b` one game, then `change`s the tree (it returns
    * the new registry) and re-runs incrementally. The re-run's publish must
    * equal a from-scratch build of the changed tree, row for row and cell
    * for cell. Returns the incremental publish dir.
    */
  private def incrementalVsScratch(change: Path => Seq[ChessPipeline.Source]): Path = {
    val d = Files.createTempDirectory("chess_incr")
    val a = Files.createDirectories(d.resolve("in/src_a"))
    val b = Files.createDirectories(d.resolve("in/src_b"))
    Files.writeString(a.resolve("jan.pgn"),
      pgn("P1", "2020.01.15", "1. e4 e5 2. Nf3 Nc6 3. Bb5 a6"))
    Files.writeString(a.resolve("feb.pgn"), pgn("P2", "2020.02.20", "1. d4 d5 2. c4 e6"))
    Files.writeString(b.resolve("one.pgn"), pgn("P3", "2021.03.10", "1. e4 e5 2. Nf3 Nc6"))
    val openings = spark.read.parquet(root.resolve("openings").toString)
    val out = d.resolve("out")
    ChessPipeline.run(spark, both(d), openings, d.resolve("staging").toString, out.toString)
    assert(Files.exists(out.resolve("DataSource=src_a/year=2020/month=02")))
    val sources = change(d)
    ChessPipeline.run(spark, sources, openings, d.resolve("staging").toString, out.toString)
    val scratch = d.resolve("scratch_out")
    ChessPipeline.run(spark, sources, openings,
      d.resolve("scratch_staging").toString, scratch.toString)
    assert(cellsOf(out) == cellsOf(scratch))
    assert(rowsOf(out) == rowsOf(scratch))
    assert(!Files.exists(out.resolve("_graft_publish")))
    out
  }

  private def both(d: Path) = Seq(
    ChessPipeline.Source("src_a", d.resolve("in/src_a").toString),
    ChessPipeline.Source("src_b", d.resolve("in/src_b").toString))

  test("incremental re-run equals a from-scratch build: a vanished cell is deleted") {
    val out = incrementalVsScratch { d =>
      Files.delete(d.resolve("in/src_a/feb.pgn"))
      both(d)
    }
    assert(!Files.exists(out.resolve("DataSource=src_a/year=2020/month=02")))
    assert(Files.exists(out.resolve("DataSource=src_a/year=2020/month=01")))
  }

  test("incremental re-run equals a from-scratch build: a dropped source loses its subtree") {
    val out = incrementalVsScratch { d =>
      Seq(ChessPipeline.Source("src_a", d.resolve("in/src_a").toString))
    }
    assert(!Files.exists(out.resolve("DataSource=src_b")))
  }

  test("incremental re-run equals a from-scratch build: a source left with only pre-1500 games publishes nothing") {
    val out = incrementalVsScratch { d =>
      Files.delete(d.resolve("in/src_a/feb.pgn"))
      Files.writeString(d.resolve("in/src_a/jan.pgn"), pgn("Old", "1499.12.31", "1. e4 e5"))
      both(d)
    }
    assert(!Files.exists(out.resolve("DataSource=src_a")))
    assert(Files.exists(out.resolve("DataSource=src_b/year=2021/month=03")))
    // its manifest records that it published nothing, so the next run
    // skips it and changes no file
    val d = out.getParent
    val before = snapshot(d.resolve("staging"), out)
    ChessPipeline.run(spark, both(d), spark.read.parquet(root.resolve("openings").toString),
      d.resolve("staging").toString, out.toString)
    assert(snapshot(d.resolve("staging"), out) == before)
  }

  /** Cold-runs one source whose files live in `dir` and which the
    * pipeline reads as `pgnDir`, adds a `.pgn` to `dir` and re-runs. The
    * source must restage, and the tree must equal a from-scratch build.
    */
  private def restagesOnNewFile(dir: Path, pgnDir: String): Unit = {
    Files.writeString(dir.resolve("jan.pgn"),
      pgn("P1", "2020.01.15", "1. e4 e5 2. Nf3 Nc6 3. Bb5 a6"))
    val d = Files.createTempDirectory("chess_forms")
    val openings = spark.read.parquet(root.resolve("openings").toString)
    def runInto(out: String) = ChessPipeline.run(spark, Seq(ChessPipeline.Source("src_a", pgnDir)),
      openings, d.resolve(s"${out}_staging").toString, d.resolve(out).toString)
    runInto("out")
    val manifest = d.resolve("out_staging/src_a/_graft_manifest")
    val cold = Files.readString(manifest)
    Files.writeString(dir.resolve("feb.pgn"), pgn("P2", "2020.02.20", "1. d4 d5 2. c4 e6"))
    runInto("out")
    assert(Files.readString(manifest) != cold, "src_a was not restaged")
    runInto("scratch")
    assert(Files.exists(d.resolve("out/DataSource=src_a/year=2020/month=02")))
    assert(cellsOf(d.resolve("out")) == cellsOf(d.resolve("scratch")))
    assert(rowsOf(d.resolve("out")) == rowsOf(d.resolve("scratch")))
  }

  test("incremental re-run equals a from-scratch build: a source given as a file: URI restages on a new file") {
    val dir = Files.createTempDirectory("chess_uri")
    restagesOnNewFile(dir, s"file://$dir")
  }

  test("incremental re-run equals a from-scratch build: a source given as a glob restages on a new file") {
    val dir = Files.createTempDirectory("chess_glob")
    restagesOnNewFile(dir, s"$dir/*.pgn")
  }

  test("incremental re-run equals a from-scratch build: an hf:// source restages on a new file") {
    // a hub-shaped local tree served by the offline transport; the FS cache
    // is bypassed so no hf:// instance mounted on another root serves it
    val hub = Files.createTempDirectory("chess_hf")
    val dir = Files.createDirectories(hub.resolve("datasets/graft/pgn-src/data"))
    val conf = spark.sparkContext.hadoopConfiguration
    val set = Map(
      "fs.hf.impl" -> classOf[graft.sources.HfFileSystem].getName,
      "fs.hf.transport.impl" -> classOf[graft.sources.LocalHfTransport].getName,
      "fs.hf.test.root" -> hub.toString,
      "fs.hf.impl.disable.cache" -> "true")
    val saved = set.keys.map(k => k -> Option(conf.get(k)))
    set.foreach { case (k, v) => conf.set(k, v) }
    try restagesOnNewFile(dir, "hf://datasets/graft/pgn-src/data")
    finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("file: URI staging and publish dirs: the re-run skips every source and touches no file") {
    val d = Files.createTempDirectory("chess_uri_dirs")
    val openings = spark.read.parquet(root.resolve("openings").toString)
    def runIt() = ChessPipeline.run(spark, both(root), openings,
      s"file://${d.resolve("staging")}", s"file://${d.resolve("out")}")
    runIt()
    assert(Files.exists(d.resolve("staging/src_b/_graft_manifest")))
    val before = snapshot(d.resolve("staging"), d.resolve("out"))
    val log = new java.io.ByteArrayOutputStream
    Console.withOut(log)(runIt())
    for (k <- Seq("src_a", "src_b"))
      assert(log.toString.contains(s"[pipeline] skip $k (manifest match)"), log.toString)
    assert(snapshot(d.resolve("staging"), d.resolve("out")) == before)
    assert(rowsOf(d.resolve("out")).size == 3)
  }

  private def deleteTree(p: Path): Unit =
    Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete(_))

  test("incremental re-run equals a from-scratch build: a deleted outDir is republished") {
    val out = incrementalVsScratch { d =>
      deleteTree(d.resolve("out"))
      both(d)
    }
    assert(Files.exists(out.resolve("DataSource=src_a/year=2020/month=02")))
  }

  test("staging reused against a new outDir publishes every source there") {
    val out = incrementalVsScratch(both)
    val d = out.getParent
    val moved = d.resolve("out_new")
    ChessPipeline.run(spark, both(d), spark.read.parquet(root.resolve("openings").toString),
      d.resolve("staging").toString, moved.toString)
    assert(cellsOf(moved) == cellsOf(out))
    assert(rowsOf(moved) == rowsOf(out))
  }

  /** The jobs `body` launches: (short call site, whether the job runs
    * inside a SQL query execution). Marker jobs before and after `body`
    * fence the listener's view off from other work. */
  private def jobsDuring(body: => Unit): Seq[(String, Boolean)] = {
    val sc = spark.sparkContext
    val key = "graft.spec.marker"
    val jobs = new ConcurrentLinkedQueue[(String, Boolean)]
    val started, ended = new CountDownLatch(1)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(key))) match {
          case Some("start") => started.countDown()
          case Some(_) => ended.countDown()
          // the result stage is named after the job's call site
          case None => if (started.getCount == 0)
            jobs.add((e.stageInfos.maxBy(_.stageId).name,
              e.properties.getProperty("spark.sql.execution.id") != null))
        }
    }
    def marker(m: String): Unit = {
      sc.setLocalProperty(key, m)
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(key, null)
    }
    sc.addSparkListener(l)
    try {
      marker("start")
      assert(started.await(60, TimeUnit.SECONDS))
      body
      marker("end")
      assert(ended.await(60, TimeUnit.SECONDS))
    } finally sc.removeSparkListener(l)
    jobs.asScala.toSeq
  }

  /** Broadcast variables created during `body` (their ids are sequential). */
  private def broadcastsDuring(body: => Unit): Long = {
    def nextId() = { val b = spark.sparkContext.broadcast(0); b.destroy(); b.id }
    val from = nextId()
    body
    nextId() - from - 1
  }

  private object Plans extends AdaptiveSparkPlanHelper

  test("a source's staging write scans its PGN once and broadcasts nothing") {
    val d = Files.createTempDirectory("chess_plan")
    val plans = new ConcurrentLinkedQueue[QueryExecution]
    val l = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = plans.add(qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    def pgnScans(p: SparkPlan) =
      Plans.collect(p) { case s: BatchScanExec if s.scan.isInstanceOf[PgnScan] => s }
    spark.listenerManager.register(l)
    try {
      ChessPipeline.run(spark, both(root), spark.read.parquet(root.resolve("openings").toString),
        d.resolve("staging").toString, d.resolve("out").toString)
      // one staging write per source
      val staging = eventually(timeout(60.seconds)) {
        val ws = plans.asScala.toSeq.map(_.executedPlan).filter(pgnScans(_).nonEmpty)
        assert(ws.size == 2)
        ws
      }
      staging.foreach { p =>
        assert(pgnScans(p).size == 1, p.toString)
        assert(Plans.collect(p) { case b: BroadcastExchangeExec => b }.isEmpty, p.toString)
      }
    } finally spark.listenerManager.unregister(l)
  }

  test("a cold run reads the openings once and counts the publish without schema inference") {
    val d = Files.createTempDirectory("chess_cold")
    val reads = spark.sparkContext.longAccumulator("openings rows read")
    val counted = udf { () => reads.add(1); true }.asNondeterministic()
    val openings = spark.read.parquet(root.resolve("openings").toString).filter(counted())
    val jobs = jobsDuring(ChessPipeline.run(spark, both(root), openings,
      d.resolve("staging").toString, d.resolve("out").toString))
    assert(reads.value == 3, "the 3 openings rows must be read by one collect")
    // schema inference runs its job outside any query execution
    assert(jobs.forall(_._2), jobs.mkString(", "))
  }

  test("a no-change re-run launches one job and broadcasts no trie") {
    val d = Files.createTempDirectory("chess_noop")
    val openings = spark.read.parquet(root.resolve("openings").toString)
    def runIt() = ChessPipeline.run(spark, both(root), openings,
      d.resolve("staging").toString, d.resolve("out").toString)
    runIt()
    var broadcasts = -1L
    val jobs = jobsDuring { broadcasts = broadcastsDuring(runIt()) }
    assert(jobs.size == 1, jobs.mkString(", "))
    // exactly the broadcasts of that one job: the openings collect
    assert(broadcasts ==
      broadcastsDuring(OpeningEnrichment.dimension(openings).collect()))
  }

  test("the source window is clamp(cores, 2, 16)") {
    assert(Seq(1, 2, 4, 16, 32).map(ChessPipeline.windowFor) == Seq(2, 2, 4, 16, 16))
  }

  test("every job of a source stage is named after its stage and source") {
    val d = Files.createTempDirectory("chess_sites")
    val keys = Seq("src_a", "src_b")
    val openings = spark.read.parquet(root.resolve("openings").toString)
    val names = jobsDuring(ChessPipeline.run(spark, both(root), openings,
      d.resolve("staging").toString, d.resolve("out").toString)).map(_._1)
    assert(!names.exists(_.contains("CompletableFuture")), names.mkString(", "))
    val (sourced, runLevel) = names.partition(n => keys.exists(k => n.endsWith(s" $k")))
    for (k <- keys; st <- Seq("stage", "publish"))
      assert(sourced.contains(s"$st $k"), names.mkString(", "))
    // outside the source stages: the openings collect and the published count
    assert(runLevel.count(_.startsWith("collect at ChessPipeline.scala")) == 1, names.mkString(", "))
    assert(runLevel.size >= 2 && runLevel.count(_ == "published") == runLevel.size - 1,
      names.mkString(", "))
  }

  test("a restaging run releases its trie broadcast") {
    import org.apache.spark.graft.BlockManagerBridge
    def tries() = BlockManagerBridge.broadcastIds(_.isInstanceOf[graft.ops.OpeningTrie])
    val before = tries()
    val d = Files.createTempDirectory("chess_release")
    val openings = spark.read.parquet(root.resolve("openings").toString)
    // checked right after each run: the release is asynchronous, but a
    // leaked broadcast would wait for a GC and the context cleaner
    for (i <- 1 to 2) {
      ChessPipeline.run(spark, both(root), openings,
        d.resolve(s"staging$i").toString, d.resolve(s"out$i").toString)
      eventually(timeout(3.seconds), interval(10.millis)) {
        assert((tries() -- before).isEmpty)
      }
    }
  }
}
