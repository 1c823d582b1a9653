package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Per-run state shared by the workloads: the session, the seed, the op
  * log, the correctness tally and the tracer.
  */
final class Ctx(val spark: SparkSession, val seed: Long, val work: Path,
                val tracer: Tracer, val cores: Int) {
  /** One timed operation: kind, wall ms, rows it handled, traced or not,
    * and the loop round it ran in.
    */
  final case class Op(kind: String, ms: Double, rows: Long, traced: Boolean, round: Int = 0,
                      cpuMs: Double = 0.0)
  val ops = mutable.ArrayBuffer.empty[Op]
  /** Current loop round; rounds before `firstCounted` only warm up. */
  var round = 0
  var firstCounted = 1
  val tracedGcMs = mutable.HashMap.empty[Int, Long]

  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  val digests = mutable.LinkedHashMap.empty[String, String]
  val info = mutable.LinkedHashMap.empty[String, Any]
  /** Counters traced rounds accumulate outside the listener, per round. */
  val counters = mutable.HashMap.empty[(Int, String), Double].withDefaultValue(0.0)
  def count(key: String, v: Double): Unit = counters((round, key)) += v

  def span[T](name: String)(body: => T): T = tracer.span(name)(body)

  /** Time `body` as one op of `kind`: its wall time, and its CPU time —
    * the driver thread's plus every Spark task's that ran meanwhile (JIT
    * and GC threads excluded; on a shared host this moves far less between
    * runs than wall time). An exception counts as a failed op and ends the
    * round (see [[OpFailed]]).
    */
  def op[T](kind: String, rows: Long = 0L)(body: => T): T = {
    attempted += 1
    tracer.flush()
    val t0 = System.nanoTime()
    val d0 = Main.threadCpuNs()
    val k0 = tracer.listener.taskCpuNs
    try {
      val r = body
      val ms = (System.nanoTime() - t0) / 1e6
      val driverNs = Main.threadCpuNs() - d0
      tracer.flush()
      ops += Op(kind, ms, rows, tracer.enabled, round, (driverNs + tracer.listener.taskCpuNs - k0) / 1e6)
      r
    } catch {
      case e: Exception =>
        failed += 1
        failures += s"$kind: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
        throw new OpFailed(e)
    }
  }

  /** Record an output check; a mismatch counts as a failed op. */
  def check(name: String, ok: Boolean, detail: => String = ""): Unit =
    if (!ok) { failed += 1; failures += s"check $name failed $detail".take(300) }

  /** Record an op's output digest: every round of one seed must agree. */
  def digest(opName: String, d: String): Unit = digests.get(opName) match {
    case Some(prev) => check(s"digest:$opName", prev == d, s"$prev != $d")
    case None => digests(opName) = d
  }

  private def counted(kind: String, traced: Boolean) =
    ops.filter(o => o.kind == kind && o.traced == traced && o.round >= firstCounted)

  /** Wall ms of the counted ops of `kind`. */
  def samples(kind: String, traced: Boolean = false): Seq[Double] = counted(kind, traced).map(_.ms).toSeq

  /** CPU ms of the counted ops of `kind` (see [[op]]). */
  def cpuSamples(kind: String): Seq[Double] = counted(kind, traced = false).map(_.cpuMs).toSeq

  def rowsOf(kind: String): Long = counted(kind, traced = false).map(_.rows).sum

  def freshDir(name: String): Path = {
    val p = work.resolve(s"$name-${System.nanoTime()}")
    Files.createDirectories(p)
    p
  }
}

/** A failed op, already counted; the loop drops the rest of the round. */
final class OpFailed(cause: Exception) extends RuntimeException(cause)

/** A workload: set-up (repeatable), a measured round, output checks and
  * the per-layer read-out of the traced rounds.
  */
trait Workload {
  /** Generate and materialize the inputs; called several times. */
  def setup(ctx: Ctx): Unit
  /** One round of the closed loop (one client, ops back to back). The
    * warm-up round passes `keep = true`: it keeps its outputs for
    * [[checks]], which compare them with independent recomputations, and
    * the measured rounds must reproduce its digests.
    */
  def round(ctx: Ctx, keep: Boolean): Unit
  /** Length of one warm round on a 4-vCPU machine, s: `--seconds` over it
    * is the number of counted rounds.
    */
  def nominalRoundS: Double
  /** The op kind whose traced vs untraced medians give the tracing overhead. */
  def overheadKind: String
  /** Independent recomputation on seeded samples of the warm-up outputs. */
  def checks(ctx: Ctx): Unit
  /** The end-to-end metrics each workload defines on its own ops:
    * rows_per_cpu_s and op_cpu_ms.
    */
  def endToEnd(ctx: Ctx): Map[String, Double]
  /** This workload's own named metrics (the detail line). */
  def named(ctx: Ctx): Seq[(String, Double, String)]
  /** Input rows of the workload. */
  def inputRows: Long
  /** Sample of the workload's own points (n-vectors) for kernel timings. */
  def samplePoints(ctx: Ctx): Array[graft.geo.Vec3]
  def cleanup(ctx: Ctx): Unit = ()
}

object Main {
  val Workloads: Map[String, () => Workload] = Map(
    "tile_pipeline" -> (() => new TilePipeline),
    "geo_join" -> (() => new GeoJoin),
    "ingest_query" -> (() => new IngestQuery))

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (the numpy default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = pos.floor.toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** (count, digest) of a DataFrame in one action that materializes every
    * output column: row count, sum of the low 32 bits and xor of xxhash64
    * over all columns (order-independent).
    */
  def digestOf(df: DataFrame): (Long, String) = {
    val h = xxhash64(df.columns.map(c => col(s"`$c`")): _*)
    val r = df.select(h.as("__h"))
      .agg(count(lit(1)), sum(col("__h").bitwiseAND(0xffffffffL)), bit_xor(col("__h")))
      .collect()(0)
    val n = r.getLong(0)
    (n, s"$n:${if (r.isNullAt(1)) 0L else r.getLong(1)}:${if (r.isNullAt(2)) 0L else r.getLong(2)}")
  }

  def loadavg(): String =
    try Files.readString(Paths.get("/proc/loadavg")).trim catch { case _: Exception => "" }

  def peakRssMb(): Double =
    try {
      Files.readAllLines(Paths.get("/proc/self/status")).asScala
        .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
    } catch { case _: Exception => Double.NaN }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum finally s.close()
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists) finally s.close()
    }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val wlName = opts.getOrElse("workload", sys.error("--workload required"))
    val seed = opts.getOrElse("seed", "1").toLong
    val seconds = opts.getOrElse("seconds", "20").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val out = Paths.get(opts.getOrElse("out", "perfbench-result.json"))
    val work = Paths.get(opts.getOrElse("work", "perfbench-work")).toAbsolutePath
    val mk = Workloads.getOrElse(wlName, sys.error(s"unknown workload $wlName"))
    val cores = Runtime.getRuntime.availableProcessors()
    val load0 = loadavg()

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$wlName")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9

    val tracer = new Tracer(spark.sparkContext, enabled = false)
    val ctx = new Ctx(spark, seed, work, tracer, cores)
    val wl = mk()
    try {
      val setups = (1 to 3).map { _ =>
        val s0 = System.nanoTime(); wl.setup(ctx); (System.nanoTime() - s0) / 1e9
      }
      val setupS = sessionS + median(setups)

      // closed loop, one client, a fixed number of rounds: `seconds` over
      // the workload's nominal round length, plus round 0, so every run
      // stops at the same point of the JIT's warm-up. Round 0 is cold (JIT,
      // codegen) and keeps its outputs for the checks. Only the later half
      // of the other rounds is counted: the first ones still run code the
      // JIT is compiling, and how far it got depends on how much CPU the
      // host gave it. A traced run alternates untraced and traced rounds
      // from round 1 and counts them all, so both kinds see the same
      // warm-up.
      def guarded(what: String)(body: => Unit): Unit =
        try body
        catch {
          case _: OpFailed =>
          case e: Exception =>
            ctx.attempted += 1; ctx.failed += 1
            ctx.failures += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
        }
      val loop0 = System.nanoTime()
      def elapsed = (System.nanoTime() - loop0) / 1e9
      var checksS = 0.0
      val rounds = 1 + math.max(if (trace) 2 else 1, math.round(seconds / wl.nominalRoundS).toInt)
      while (ctx.round < rounds) {
        tracer.enabled = trace && ctx.round % 2 == 0 && ctx.round > 0
        tracer.round = ctx.round
        val gc0 = gcMs()
        guarded(s"round ${ctx.round}")(wl.round(ctx, keep = ctx.round == 0))
        if (tracer.enabled) ctx.tracedGcMs(ctx.round) = gcMs() - gc0
        tracer.enabled = false
        if (ctx.round == 0) {
          val c0 = System.nanoTime()
          guarded("checks")(wl.checks(ctx))
          checksS = (System.nanoTime() - c0) / 1e9
        }
        ctx.round += 1
      }
      ctx.firstCounted = if (trace) 1 else 1 + (rounds - 1) / 2
      ctx.info("loop_s") = elapsed
      ctx.info("checks_s") = checksS
      ctx.info("rounds") = ctx.round
      val layer =
        if (!trace) Map.empty[String, (Double, String)]
        else {
          tracer.flush()
          Files.writeString(work.getParent.resolve(s"trace-$wlName-seed$seed.json"), tracer.spansJson)
          Layers.readout(ctx, wl)
        }
      crossRunDigests(ctx, work.getParent.resolve("digests"), s"$wlName-rows${wl.inputRows}", seed)
      val load1 = loadavg()
      ctx.info("op_ms") = opMs(ctx)
      ctx.info("op_cpu_ms") = collection.immutable.ListMap(ctx.ops.groupBy(_.kind).toSeq.sortBy(_._1)
        .map { case (k, os) => k -> os.map(o => math.round(o.cpuMs)) }: _*)

      val e2e = wl.endToEnd(ctx) ++ Map("setup_s" -> setupS, "peak_rss_mb" -> peakRssMb())
      val units = Map("rows_per_cpu_s" -> "rows/s", "op_cpu_ms" -> "ms", "setup_s" -> "s",
        "peak_rss_mb" -> "MB")
      val named = wl.named(ctx) ++ Seq(
        ("setup_s", setupS, "s"),
        ("ops_failed_frac", ctx.failed.toDouble / math.max(1L, ctx.attempted), "ratio"),
        ("peak_rss_mb", peakRssMb(), "MB"))
      val context = collection.immutable.ListMap[String, Any](
        "workload" -> wlName, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
        "nproc" -> cores, "master" -> spark.sparkContext.master,
        "driver_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
        "loadavg_start" -> load0, "loadavg_end" -> load1,
        "input_rows" -> wl.inputRows, "session_start_s" -> sessionS,
        "setup_runs_s" -> setups) ++ ctx.info
      val metrics =
        if (trace) layer.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }
        else e2e.map { case (k, v) => k -> Map("value" -> v, "unit" -> units(k)) }
      println(Json.obj("context" -> context,
        "named_metrics" -> collection.immutable.ListMap(named.map { case (k, v, u) =>
          k -> Map("value" -> v, "unit" -> u) }: _*),
        "digests" -> ctx.digests, "failures" -> ctx.failures))
      val result = Json.obj("correct" -> (ctx.failed == 0), "attempted" -> ctx.attempted,
        "failed" -> ctx.failed, "metrics" -> collection.immutable.ListMap(metrics.toSeq.sortBy(_._1): _*))
      Files.writeString(out, result + "\n")
    } finally {
      wl.cleanup(ctx)
      spark.stop()
    }
  }

  /** Every op's wall ms by kind (traced ones apart), for the detail line. */
  def opMs(ctx: Ctx): Map[String, Seq[Double]] =
    collection.immutable.ListMap(ctx.ops.groupBy(o => (o.kind, o.traced)).toSeq
      .sortBy(_._1.toString).map { case ((k, tr), os) =>
        (if (tr) s"$k.traced" else k) -> os.map(o => math.round(o.ms * 10) / 10.0).toSeq }: _*)

  /** CPU time of the calling thread, ns. */
  def threadCpuNs(): Long = java.lang.management.ManagementFactory.getThreadMXBean.getCurrentThreadCpuTime

  def gcMs(): Long = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  /** Digests of one seed must match across runs: the first run of a seed
    * stores them, later runs compare.
    */
  def crossRunDigests(ctx: Ctx, dir: Path, wl: String, seed: Long): Unit = {
    Files.createDirectories(dir)
    val f = dir.resolve(s"$wl-seed$seed.txt")
    val mine = ctx.digests.map { case (k, v) => s"$k=$v" }.toSeq.sorted
    if (Files.exists(f)) {
      val prev = Files.readAllLines(f).asScala.toSeq
      ctx.check("cross-run digests", prev == mine,
        prev.diff(mine).mkString(",") + " vs " + mine.diff(prev).mkString(","))
    } else if (ctx.failed == 0) Files.write(f, mine.asJava)
  }
}
