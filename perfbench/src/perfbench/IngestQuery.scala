package perfbench

import java.nio.file.Path
import org.apache.spark.sql.functions._
import graft.functions.geo
import graft.index.{CellIndex, cells}
import graft.operators.SpatialJoins
import graft.sources.SnapshotStore

/** A growing tiled table without pixels: micro-batches upserted with
  * SnapshotStore.merge (about 10% of each batch's keys already present,
  * zone-map stats on tile_coarse), each followed by a burst of AOI-scoped
  * reads (CellIndex.capCells cover, readPrunedIn, aoiJoin, count) over
  * discs of 50 km to 2000 km. A pass ends with compact + expireSnapshots.
  */
final class IngestQuery extends Workload {
  val Batches = 6
  val BatchRows = 2000
  val Overlap = 0.1
  val QueriesPerBatch = 4
  /** Batches of the warm-up pass, whose every query is recounted. */
  val WarmupBatches = 3
  val inputRows: Long = Batches.toLong * BatchRows
  val nominalRoundS = 12.0
  val overheadKind = "query"

  private var dir: Path = _
  private def batchPath(b: Int) = dir.resolve(s"batch=$b").toString

  def setup(ctx: Ctx): Unit = {
    dir = ctx.work.resolve("ingest-batches")
    (0 until Batches).map(b => Gen.batch(ctx.spark, ctx.seed, b, BatchRows, Overlap))
      .reduce(_ union _).write.mode("overwrite").partitionBy("batch").parquet(dir.toString)
    ctx.info("input_bytes_on_disk") = Main.dirBytes(dir)
  }

  /** One pass: `keep` (the warm-up) runs the first WarmupBatches batches
    * and recounts every query by a full-scan filter.
    */
  def round(ctx: Ctx, keep: Boolean): Unit = {
    val spark = ctx.spark
    val batches = if (keep) WarmupBatches else Batches
    val root = ctx.freshDir("ingest")
    val store = new SnapshotStore(spark, root.toString)
    val counts = new StringBuilder
    try {
      (0 until batches).foreach { b =>
        val upd = spark.read.parquet(batchPath(b)).withColumn("batch", lit(b))
          .select("id", "n", "tile_coarse", "batch", "v")
        if (ctx.tracer.enabled) ctx.count("user_bytes", Main.dirBytes(java.nio.file.Paths.get(batchPath(b))))
        ctx.op("merge", BatchRows) {
          ctx.span("sources.merge") {
            if (b == 0) store.commit("tiles", upd, Some("tile_coarse"))
            else store.merge("tiles", upd, Seq("id"), Some("tile_coarse"))
          }
        }
        (0 until QueriesPerBatch).foreach { j =>
          val q = b * QueriesPerBatch + j
          val (aoi, c, r) = Gen.query(ctx.seed, q)
          val (n, pruned) = ctx.op("query") {
            ctx.span("query") {
              val cover = ctx.span("index.cover")(CellIndex.capCells(c.x, c.y, c.z, Gen.CoarseLevel, r))
              val pruned = ctx.span("sources.prune")(store.readPrunedIn("tiles", cover))
              (ctx.span("operators.aoi")(SpatialJoins.aoiJoin(pruned, "n", Seq(aoi)).count()), pruned)
            }
          }
          if (ctx.tracer.enabled) Layers.recordPrune(ctx, pruned, root, store, "tiles")
          counts.append(n).append(',')
          if (keep) {
            val full = store.read("tiles")
              .filter(cells.pointInPolygon(col("n"), cells.polygonLiteral(aoi.vertsLatLonDeg))).count()
            ctx.check(s"query $q pruned count vs full scan", n == full, s"$n != $full")
          }
        }
      }
      ctx.op("maintenance") {
        ctx.span("sources.maintenance") {
          store.compact("tiles")
          store.expireSnapshots(1)
        }
      }
      val tiles = store.read("tiles")
      val expect = Gen.distinctIds(batches, BatchRows, Overlap)
      val (n, h) = Main.digestOf(tiles)
      ctx.check("final rows == distinct ids", n == expect, s"$n != $expect")
      val ids = spark.read.parquet(dir.toString).filter(col("batch") < batches)
        .select("id").distinct().count()
      ctx.check("final rows == distinct ingested ids", n == ids, s"$n != $ids")
      ctx.digest(s"table.$batches", h)
      ctx.digest(s"query_counts.$batches", counts.toString.hashCode.toString)
      ctx.info("store_bytes_on_disk") = Main.dirBytes(root)
    } finally Main.deleteTree(root)
  }

  def checks(ctx: Ctx): Unit = ()

  def endToEnd(ctx: Ctx): Map[String, Double] =
    Map("rows_per_cpu_s" -> ctx.rowsOf("merge") / (ctx.cpuSamples("merge").sum / 1000.0),
      "op_cpu_ms" -> Main.median(ctx.cpuSamples("query")))

  def named(ctx: Ctx): Seq[(String, Double, String)] = {
    val q = ctx.samples("query")
    Seq(("ingest_rows_per_s", ctx.rowsOf("merge") / (ctx.samples("merge").sum / 1000.0), "rows/s"),
      ("aoi_query_p50_ms", Main.median(q), "ms"),
      ("aoi_query_p90_ms", Main.quantile(q, 0.9), "ms"),
      ("aoi_query_samples", q.size.toDouble, "count"),
      ("maintenance_s", Main.median(ctx.samples("maintenance")) / 1000.0, "s"))
  }

  def samplePoints(ctx: Ctx): Array[graft.geo.Vec3] = {
    val spark = ctx.spark
    import spark.implicits._
    spark.read.parquet(batchPath(0)).select(geo.vx(col("n")), geo.vy(col("n")), geo.vz(col("n")))
      .limit(4096).as[(Double, Double, Double)].collect().map { case (x, y, z) => graft.geo.Vec3(x, y, z) }
  }
}
