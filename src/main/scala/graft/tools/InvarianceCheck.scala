package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Partition-invariance proof for the whole gate suite (r9 verdict #1).
  *
  * The repo's loudest claim class is "exact under ANY partitioning"
  * (contentSalt, integer-scaled sums, index-ordered folds) — but every
  * committed Spark-side hash comes from ONE config (driver: local[32],
  * shuffle=32; specs: local[4]). This main runs every
  * `SparkEntry.queries` entry under TWO SparkSessions in one JVM — the
  * canonical config and an adversarial one (defaults: local[5],
  * `spark.sql.shuffle.partitions=7`, AQE on — odd thread/partition
  * counts so every exchange hashes rows into different buckets and
  * every multi-partition fold runs in a different order) — and diffs an
  * order-invariant, BIT-EXACT fingerprint per query:
  *
  *   (row count,
  *    bit_xor(xxhash64(struct(all columns, name-sorted))),
  *    sum(xxhash64(...) as decimal(38,0)))
  *
  * xor+sum+count together make the fingerprint multiset-exact (xor
  * alone cancels duplicate pairs; the decimal sum cannot overflow and
  * counts multiplicity), and xxhash64 hashes the raw value bits — one
  * ulp of float drift flips it. This is deliberately STRICTER than the
  * DuckDB oracle gate, which rounds floats to 6 decimals
  * (tools/crosscheck.py `canon`): a query can pass the oracle at both
  * configs while drifting in the last ulp — here that reads as a
  * mismatch, i.e. a real determinism bug the oracle cannot see.
  *
  * Usage: runMain graft.tools.InvarianceCheck <sfDir> <outJson>
  *          [cpusA,shuffleA[,aqe][,key=val…]] [cpusB,…] [q1,q2,…]
  * The query list is a `SparkEntry.select` list (short keys or names).
  * Config args are split on UNESCAPED commas before key=val extraction;
  * a conf VALUE containing a comma (a list-valued conf) is written with
  * `\,` (shell-quoted), e.g. `32,32,true,spark.foo=a\,b`.
  * Extra key=val components become session confs per config, so an
  * operator VALVE can be pinned on one side (e.g.
  * `graft.lpa.broadcastBudgetBytes=0` demotes the LPA broadcast kernel
  * to the shuffled-join rounds, proving the two forms fingerprint
  * identically at real scale — the r11 form-equivalence artifact).
  * Writes per-query fingerprints + match booleans to <outJson>; exits 1
  * on any mismatch or error.
  */
object InvarianceCheck {
  /** One A/B side: (cpus, shuffle partitions, AQE on, extra confs). */
  type Cfg = (Int, Int, Boolean, Seq[(String, String)])

  /** Parse a `cpus,shuffle[,aqe][,key=val…]` config arg. Components are
    * split on UNESCAPED commas — `\,` inside a component stands for a
    * literal comma, so a list-valued Spark conf IS expressible (r12
    * advice closed: e.g. `5,7,true,spark.foo=a\,b\,c` pins
    * `spark.foo=a,b,c` on that side).
    */
  private[tools] def parseCfg(arg: String): Cfg = {
    val a = arg.split("(?<!\\\\),").map(_.replace("\\,", ","))
    val extra = a.drop(2).filter(_.contains("="))
      .map { kv => val Array(k, v) = kv.split("=", 2); (k, v) }.toSeq
    (a(0).toInt, a(1).toInt,
      a.lift(2).filterNot(_.contains("=")).forall(_.toBoolean), extra)
  }

  final case class Fp(rows: Long, xor: Long, sum: BigDecimal,
      wall: Double = 0.0) {
    /** Equality ignores the wall — only the fingerprint is the contract. */
    override def equals(o: Any): Boolean = o match {
      case f: Fp => f.rows == rows && f.xor == xor && f.sum == sum
      case _ => false
    }
    override def hashCode(): Int = (rows, xor, sum).hashCode()
  }

  private def fmt(extra: Seq[(String, String)]): String =
    extra.map { case (k, v) => s" $k=$v" }.mkString

  private def session(cpus: Int, shuffle: Int, aqe: Boolean,
      extra: Seq[(String, String)]): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", shuffle)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", aqe.toString)
      .config("spark.ui.enabled", "false")
    val s = extra.foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }
      .getOrCreate()
    // getOrCreate can return a pre-existing session in one-JVM A/B runs;
    // force the graft session confs onto it either way
    extra.foreach { case (k, v) => s.conf.set(k, v) }
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Order-invariant bit-exact fingerprint of a DataFrame. */
  private def fingerprint(df: org.apache.spark.sql.DataFrame): Fp = {
    val cols = df.columns.sorted.map(col).toSeq
    val h = xxhash64(struct(cols: _*))
    val r = df.select(
      count(lit(1)).as("n"),
      coalesce(bit_xor(h), lit(0L)).as("x"),
      coalesce(sum(h.cast("decimal(38,0)")), lit(java.math.BigDecimal.ZERO))
        .as("s"))
      .collect()(0)
    Fp(r.getAs[Long]("n"), r.getAs[Long]("x"),
      BigDecimal(r.getAs[java.math.BigDecimal]("s")))
  }

  private def timedFingerprint(df: => org.apache.spark.sql.DataFrame): Fp = {
    val t0 = System.nanoTime()
    val fp = fingerprint(df)
    fp.copy(wall = (System.nanoTime() - t0) / 1e9)
  }

  private def runAll(spark: SparkSession, sfDir: String,
      only: Option[String]): Map[String, Either[String, Fp]] =
    graft.SparkEntry.select(only)
      .map { case graft.GateQuery(name, fn, _) =>
        name -> (try Right(timedFingerprint(fn(spark, sfDir)))
        catch { case e: Throwable =>
          System.err.println(s"[invariance] $name failed: ${e.getMessage}")
          Left(e.getClass.getSimpleName)
        })
      }.toMap

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val outJson = args.lift(1).getOrElse("invariance.json")
    // config arg: "cpus,shuffle[,aqe][,key=val…]" — the optional third
    // component turns AQE off, a separate invariance axis (AQE re-plans
    // exchanges and coalesces/splits partitions at runtime); any further
    // key=val components become session confs, so operator VALVES can be
    // forced per-config (e.g. graft.lpa.broadcastBudgetBytes=0 demotes
    // the LPA broadcast kernel to the shuffled-join rounds — both forms
    // must fingerprint identically by contract). `\,` escapes a literal
    // comma inside a conf value (see parseCfg).
    def cfg(i: Int, dflt: Cfg): Cfg =
      args.lift(i).map(parseCfg).getOrElse(dflt)
    val (cpusA, shA, aqeA, extraA) = cfg(2, (32, 32, true, Seq.empty))
    val (cpusB, shB, aqeB, extraB) = cfg(3, (5, 7, true, Seq.empty))
    val only = args.lift(4)

    val sA = session(cpusA, shA, aqeA, extraA)
    val a = runAll(sA, sfDir, only)
    // session-scoped memos hold RDDs of the about-to-die context; drop
    // them so config B cannot touch a dead SparkContext's blocks
    graft.ops.AdvancedOps.invalidateDedupCache(sA)
    graft.ops.GraphOps.invalidateGraphCache(sA)
    sA.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()

    val sB = session(cpusB, shB, aqeB, extraB)
    val b = runAll(sB, sfDir, only)
    graft.ops.AdvancedOps.invalidateDedupCache(sB)
    graft.ops.GraphOps.invalidateGraphCache(sB)
    sB.stop()

    val names = (a.keySet ++ b.keySet).toSeq.sorted
    val rows = names.map { n =>
      (a.get(n), b.get(n)) match {
        case (Some(Right(fa)), Some(Right(fb))) =>
          val ok = fa == fb
          (n, ok,
            s""""$n":{"match":$ok,"rows":[${fa.rows},${fb.rows}],""" +
            s""""xor":["${fa.xor}","${fb.xor}"],"sum":["${fa.sum}","${fb.sum}"],""" +
            s""""wall_s":[${"%.2f".formatLocal(java.util.Locale.ROOT, fa.wall)},""" +
            s"""${"%.2f".formatLocal(java.util.Locale.ROOT, fb.wall)}]}""")
        case (ea, eb) =>
          val msg = Seq(ea, eb).flatten.collect { case Left(m) => m }
            .mkString(";")
          (n, false, s""""$n":{"match":false,"error":"$msg"}""")
      }
    }
    val nOk = rows.count(_._2)
    val json =
      s"""{"sf_dir":"$sfDir","config_a":"local[$cpusA] shuffle=$shA aqe=$aqeA${fmt(extraA)}",""" +
      s""""config_b":"local[$cpusB] shuffle=$shB aqe=$aqeB${fmt(extraB)}",""" +
      s""""fingerprint":"count + bit_xor(xxhash64) + sum(xxhash64) over name-sorted columns, bit-exact",""" +
      s""""n_match":$nOk,"n_total":${rows.size},""" +
      s""""queries":{${rows.map(_._3).mkString(",")}}}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outJson), json)
    println(s"[invariance] $nOk/${rows.size} bit-exact across " +
      s"local[$cpusA]/sh=$shA vs local[$cpusB]/sh=$shB -> $outJson")
    rows.filterNot(_._2).foreach(r => println(s"[invariance] MISMATCH ${r._1}"))
    if (nOk != rows.size) sys.exit(1)
  }
}
