package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.geo.{Gade, Karney, Vec3}
import graft.functions.geo
import graft.index.cells
import graft.sources.SnapshotStore

/** Per-layer metrics of the traced rounds of a run. Span names are the
  * layer metrics' prefixes (`sources.verify`, `operators.dist`, ...); a
  * metric of a layer call the workload never makes reads 0.
  */
object Layers {
  /** Files a pruned read opened, the share of them holding a row that
    * passed the zone-map filter, and the manifest it was planned from.
    * Runs outside every span and op.
    */
  def recordPrune(ctx: Ctx, pruned: DataFrame, root: Path, store: SnapshotStore, table: String): Unit = {
    val opened = pruned.inputFiles.length
    val useful = pruned.select(input_file_name()).distinct().count()
    val manifest = root.resolve("_snapshots").resolve(s"v${store.versionOf(table).get}.json")
    ctx.count("prune.reads", 1)
    ctx.count("prune.files", opened)
    ctx.count("prune.useful", useful)
    ctx.count("prune.manifest_bytes", Files.size(manifest))
  }

  private def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b

  /** Per-layer metrics over the counted traced rounds; sums are per traced
    * round, so runs of different length compare.
    */
  def readout(ctx: Ctx, wl: Workload): Map[String, (Double, String)] = {
    val t = ctx.tracer
    val from = ctx.firstCounted
    val tracedRounds = ctx.tracedGcMs.keys.filter(_ >= from).toSeq
    val nr = math.max(1, tracedRounds.size).toDouble
    def c(key: String) = ctx.counters.collect { case ((r, k), v) if r >= from && k == key => v }.sum
    def spans(n: String) = t.named(n, from)
    def busyS(ns: String*) = ns.flatMap(spans).map(s => t.tasksOf(s).runMs).sum / 1000.0 / nr
    def driverS(ns: String*) = ns.flatMap(spans).map(t.driverMs).sum / 1000.0 / nr
    def tasks(ns: String*) = ns.flatMap(spans).map(t.tasksOf).foldLeft(Tracer.TaskAgg())(_ + _)
    def jobs(ns: String*) = ns.flatMap(spans).map(s => t.jobsOf(s).size).sum
    val roots = t.spans.filter(s => s.parent == -1 && s.round >= from).toSeq
    val all = roots.map(t.tasksOf).foldLeft(Tracer.TaskAgg())(_ + _)
    val allJobs = roots.map(s => t.jobsOf(s).size).sum
    val wallS = roots.map(t.wallMs).sum / 1000.0
    val groups = roots.flatMap(r => t.spans.filter(_.round == r.round)).map(s => Tracer.groupOf(s.id)).toSet
    val skew = {
      val st = t.listener.stages.values.filter(s => groups(s.group) && s.taskMs.size >= 2)
      if (st.isEmpty) 1.0
      else {
        val slow = st.maxBy(_.wallMs)
        slow.taskMs.max / math.max(1.0, Main.median(slow.taskMs.map(_.toDouble).toSeq))
      }
    }
    val requestSpans = if (spans("query").nonEmpty) Seq("query") else roots.map(_.name).distinct
    val requests = requestSpans.map(spans(_).size).sum
    val dist = tasks("operators.dist"); val pip = tasks("operators.pip")
    val (karneyNs, gcNs) = kernelNs(wl.samplePoints(ctx))
    val traced = ctx.samples(wl.overheadKind, traced = true)
    val untraced = ctx.samples(wl.overheadKind)
    Map(
      "sources.verify.busy_s" -> (busyS("sources.verify"), "s"),
      "sources.scan.bytes" -> (all.inputBytes / nr, "bytes"),
      "sources.commit.s" -> (driverS("sources.commit", "sources.merge"), "s"),
      "sources.commit.write_amp" -> (ratio(tasks("sources.commit", "sources.merge", "sources.lineage")
        .outputBytes, c("user_bytes")), "ratio"),
      "sources.prune.files_opened" -> (c("prune.files") / nr, "count"),
      "sources.prune.useful_frac" -> (ratio(c("prune.useful"), c("prune.files")), "ratio"),
      "sources.manifest.bytes" -> (ratio(c("prune.manifest_bytes"), c("prune.reads")), "bytes"),
      "sources.lineage.s" -> (driverS("sources.lineage"), "s"),
      "index.cellAt.busy_s" -> (busyS("index.cellAt"), "s"),
      "index.cover.s" -> (spans("index.cover").map(t.selfMs).sum / 1000.0 / nr, "s"),
      "index.cover.rows_per_probe" -> (ratio((dist + pip).shuffleWriteRecords,
        c("dist.probe_rows") + c("pip.probe_rows")), "ratio"),
      "operators.dist.busy_s" -> (busyS("operators.dist"), "s"),
      "operators.dist.pairs_per_shuffle_record" -> (ratio(c("dist.output_rows"), dist.shuffleWriteRecords), "ratio"),
      "operators.knn.busy_s" -> (busyS("operators.knn"), "s"),
      "operators.knn.jobs" -> (ratio(jobs("operators.knn"), spans("operators.knn").size), "count"),
      "operators.pip.busy_s" -> (busyS("operators.pip"), "s"),
      "operators.pip.hits_per_shuffle_record" -> (ratio(c("pip.output_rows"), pip.shuffleWriteRecords), "ratio"),
      "operators.aoi.busy_s" -> (busyS("operators.aoi"), "s"),
      "geo.karney_inverse_ns" -> (karneyNs, "ns"),
      "geo.gc_distance_ns" -> (gcNs, "ns"),
      "functions.nvec_cell_rows_per_s" -> (nvecCellRowsPerS(ctx), "rows/s"),
      "spark.jobs" -> (allJobs / nr, "count"),
      "spark.tasks" -> (all.tasks / nr, "count"),
      "spark.shuffle_write_bytes" -> (all.shuffleWriteBytes / nr, "bytes"),
      "spark.shuffle_fetch_wait_s" -> (all.fetchWaitMs / 1000.0 / nr, "s"),
      "spark.gc_s" -> (tracedRounds.map(ctx.tracedGcMs).sum / 1000.0 / nr, "s"),
      "spark.spill_bytes" -> (all.spillBytes / nr, "bytes"),
      "spark.task_skew" -> (skew, "ratio"),
      "spark.core_util" -> (ratio(all.runMs / 1000.0, wallS * ctx.cores), "ratio"),
      "spark.jobs_per_query" -> (ratio(jobs(requestSpans: _*), requests), "count"),
      "trace.overhead" -> (Main.median(traced) / Main.median(untraced) - 1.0, "ratio"))
  }

  /** Median ns per call of Karney.inverse and Gade.greatCircleDistanceRad
    * over consecutive pairs of the workload's own points.
    */
  def kernelNs(pts: Array[Vec3]): (Double, Double) = {
    val n = pts.length
    val lat = pts.map(p => math.atan2(p.z, math.hypot(p.x, p.y)))
    val lon = pts.map(p => math.atan2(p.y, p.x))
    val k = Karney.WGS84
    var sink = 0.0
    def karney(): Unit = { var i = 0; while (i < n) { val j = (i + 1) % n
      sink += k.inverse(lat(i), lon(i), lat(j), lon(j))._1; i += 1 } }
    def gc(): Unit = { var i = 0; while (i < n) {
      sink += Gade.greatCircleDistanceRad(pts(i), pts((i + 1) % n)); i += 1 } }
    def perCall(reps: Int)(f: () => Unit): Double = Main.median((1 to 7).map { _ =>
      val t0 = System.nanoTime(); (1 to reps).foreach(_ => f()); (System.nanoTime() - t0).toDouble / (reps * n)
    })
    perCall(5)(() => karney()); perCall(50)(() => gc()) // warm up
    val r = (perCall(5)(() => karney()), perCall(50)(() => gc()))
    if (sink.isNaN) println("")
    r
  }

  /** Rows per second of a geo.nvec + cells.cellAt (L8 and L4) select over
    * cached seeded lat/lon rows, written to the noop sink.
    */
  def nvecCellRowsPerS(ctx: Ctx): Double = {
    val rows = 1000000L
    val (lat, lon) = Gen.uniformLatLon(ctx.seed, 90, col("id"))
    val src = ctx.spark.range(0, rows, 1, ctx.cores).select(lat.as("lat"), lon.as("lon")).persist()
    src.count()
    def once(): Double = {
      val t0 = System.nanoTime()
      src.select(geo.nvec(col("lat"), col("lon")).as("n"))
        .select(cells.cellAt(col("n"), 8), cells.cellAt(col("n"), 4))
        .write.format("noop").mode("overwrite").save()
      rows / ((System.nanoTime() - t0) / 1e9)
    }
    once()
    val r = Main.median((1 to 3).map(_ => once()))
    src.unpersist()
    r
  }
}
