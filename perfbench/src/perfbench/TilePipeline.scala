package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, functions}
import org.apache.spark.sql.functions._
import graft.functions.geo
import graft.index.{CellIndex, cells}
import graft.operators.SpatialJoins
import graft.sources.{ImageTable, Lineage, SnapshotStore}
import scala.jdk.CollectionConverters._

/** The PipelineMain stage chain over a seeded image + caption table:
  * ingest, verify (PSNR / phash / caption), tile (cells.cellAt at L8 and
  * L4), AOI stats (cover, pruned read, aoiJoin, lineage commit) and
  * nearest (k = 3 knnJoin with Karney re-rank against 512 landmarks), each
  * committed through a SnapshotStore; see [[round]] for the resume.
  */
final class TilePipeline extends Workload {
  val Rows = 1000L
  val TileLevel = 8
  val CoarseLevel = 4
  val inputRows: Long = Rows
  val aois = Gen.pipelineAois

  private var src: Path = _
  private var lastStore: Path = _
  private var lastPruned: DataFrame = _
  val stageKinds = Seq("stage.ingest", "stage.verify", "stage.tile", "stage.aoi", "stage.nearest")
  val nominalRoundS = 10.0
  val overheadKind = "pass"

  def setup(ctx: Ctx): Unit = {
    src = ctx.work.resolve("src-images")
    Gen.images(ctx.spark, ctx.seed, Rows, 2 * ctx.cores)
      .write.mode("overwrite").parquet(src.toString)
    ctx.info("input_bytes_on_disk") = Main.dirBytes(src)
  }

  private def stage[T](ctx: Ctx, kind: String, layer: String)(body: => T): T =
    ctx.op(kind)(ctx.span(layer)(body))

  private def commitSpan[T](ctx: Ctx)(body: => T): T = ctx.span("sources.commit")(body)

  /** Stages 1-3 (resumed by name when already committed). */
  private def front(ctx: Ctx, store: SnapshotStore, timed: Boolean): DataFrame = {
    val spark = ctx.spark
    import spark.implicits._
    def run[T](kind: String, layer: String)(body: => T): T =
      if (timed) stage(ctx, kind, layer)(body) else body
    val images = run("stage.ingest", "sources.ingest") {
      commitSpan(ctx)(store.getOrCompute("images")(spark.read.parquet(src.toString)))
    }
    val verified = run("stage.verify", "sources.verify") {
      commitSpan(ctx)(store.getOrCompute("verified") {
        images.select("image_id", "bytes", "w", "h", "fmt", "caption", "phash")
          .as[ImageTable.ImageRow].map { r =>
            val ord = r.image_id.drop(4).toLong
            val ok = ImageTable.referencePsnr(ord, r.bytes, r.w, r.h, r.fmt) >= 40.0 &&
              ImageTable.payloadPhash(r.bytes, r.w, r.h, r.fmt) == r.phash &&
              ImageTable.referenceCaption(ord) == r.caption
            (r.image_id, r.phash, r.caption, ok)
          }.toDF("image_id", "phash", "caption", "verify_ok")
      })
    }
    run("stage.tile", "index.cellAt") {
      commitSpan(ctx)(store.getOrCompute("tiled", statsCol = Some("tile_coarse")) {
        val (lat, lon) = Gen.imageLatLon(ctx.seed, substring(col("image_id"), 5, 12).cast("long"))
        verified
          .withColumn("n", geo.nvec(lat, lon))
          .withColumn("tile", cells.cellAt(col("n"), TileLevel))
          .withColumn("tile_coarse", cells.cellAt(col("n"), CoarseLevel))
          .select("image_id", "phash", "verify_ok", "n", "tile", "tile_coarse")
          .repartitionByRange(col("tile_coarse"), col("tile"))
      })
    }
  }

  /** Stages 4-5 (resumed by name when already committed). */
  private def back(ctx: Ctx, store: SnapshotStore, timed: Boolean): Unit = {
    val spark = ctx.spark
    def run[T](kind: String, layer: String)(body: => T): T =
      if (timed) stage(ctx, s"stage.$kind", layer)(body) else ctx.span(layer)(body)
    run("aoi", "operators.aoi") {
      if (store.versionOf("tile_stats").isEmpty) {
        require(store.statsColOf("tiled").contains("tile_coarse"), "tiled lacks tile_coarse stats")
        val sample = store.read("tiled").select("tile_coarse").limit(1).collect()
        val level = if (sample.isEmpty) CoarseLevel else CellIndex.levelOf(sample(0).getLong(0))
        val cover = ctx.span("index.cover") {
          aois.flatMap(a => CellIndex.capCells(a.centroid.x, a.centroid.y, a.centroid.z,
            level, a.circumAngle)).distinct
        }
        val pruned = ctx.span("sources.prune")(store.readPrunedIn("tiled", cover))
        lastPruned = pruned
        val assigned = SpatialJoins.aoiJoin(pruned, "n", aois)
        val stats = assigned.groupBy("aoi_id", "tile")
          .agg(count(lit(1)).as("n_imgs"), geo.meanPosition(col("n")).as("mean_n"),
            sum(when(!col("verify_ok"), 1).otherwise(0)).as("n_bad"))
          .select(col("aoi_id"), col("tile"), col("n_imgs"), col("n_bad"),
            functions.round(geo.latDeg(col("mean_n")), 6).as("mean_lat"),
            functions.round(geo.lonDeg(col("mean_n")), 6).as("mean_lon"))
        ctx.span("sources.lineage")(Lineage.commitWithMetrics(store, "tile_stats", stats))
      }
    }
    val stats = store.read("tile_stats")
    run("nearest", "operators.knn") {
      commitSpan(ctx)(store.getOrCompute("nearest") {
        val tileCenters = stats
          .withColumn("mean_n", geo.nvecDeg(col("mean_lat"), col("mean_lon")))
          .withColumn("tile_key", concat_ws(":", col("aoi_id"), col("tile")))
          .select("tile_key", "mean_n")
        SpatialJoins.knnJoin(tileCenters, Gen.landmarks(spark, ctx.seed), "mean_n", "lm_n",
            "tile_key", "lm_id", k = 3, geodesicReRank = true)
          .select(col("tile_key"), col("rank"), col("lm_id"), functions.round(col("geodesic_m"), 3).as("geodesic_m"))
      })
    }
  }

  /** A store holding exactly the committed snapshots of `from`, with its
    * manifests pointing at its own (hard-linked) data files.
    */
  private def copyStore(ctx: Ctx, from: Path): Path = {
    val to = ctx.freshDir("resume")
    val fromUri = from.toUri.getPath.stripSuffix("/")
    val toUri = to.toUri.getPath.stripSuffix("/")
    val s = Files.walk(from)
    try s.iterator().asScala.toSeq.foreach { p =>
      val q = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q)
      else if (p.getParent.getFileName.toString == "_snapshots")
        Files.writeString(q, Files.readString(p).replace(fromUri, toUri))
      else Files.createLink(q, p)
    } finally s.close()
    to
  }

  /** One full pass whose last two stages run as a resume: stages 1-3
    * commit to a fresh store, and a fresh SnapshotStore over a copy of it
    * (holding exactly those three snapshots) finishes the pipeline. The
    * pass time is the sum of the five stages; `resume` is the wall of
    * finishing from the copy.
    */
  def round(ctx: Ctx, keep: Boolean): Unit = {
    val spark = ctx.spark
    if (lastStore != null) Main.deleteTree(lastStore)
    val dir = ctx.freshDir("pass")
    val before = ctx.ops.size
    front(ctx, new SnapshotStore(spark, dir.toString), timed = true)
    val rdir = copyStore(ctx, dir)
    Main.deleteTree(dir)
    lastStore = rdir
    val store = new SnapshotStore(spark, rdir.toString)
    ctx.op("resume") {
      ctx.span("resume") {
        front(ctx, store, timed = false)
        back(ctx, store, timed = true)
      }
    }
    val tracing = ctx.tracer.enabled
    ctx.tracer.enabled = false
    if (tracing) {
      Layers.recordPrune(ctx, lastPruned, rdir, store, "tiled")
      ctx.count("user_bytes", Main.dirBytes(src))
    }
    val stages = ctx.ops.drop(before).filter(o => stageKinds.contains(o.kind))
    ctx.ops += ctx.Op("pass", stages.map(_.ms).sum, Rows, tracing, ctx.round, stages.map(_.cpuMs).sum)
    ctx.info("store_bytes_on_disk") = Main.dirBytes(rdir)
    ctx.digest("tile_stats", Main.digestOf(store.read("tile_stats"))._2)
    ctx.digest("nearest", Main.digestOf(store.read("nearest"))._2)
    ctx.tracer.enabled = tracing
  }

  /** Checks on the warm-up round's store, recomputed on the driver without
    * the engine's covers or joins.
    */
  def checks(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val store = new SnapshotStore(spark, lastStore.toString)
    val tiled = store.read("tiled")
      .select(col("image_id"), geo.vx(col("n")), geo.vy(col("n")), geo.vz(col("n")),
        col("tile"), col("tile_coarse"), col("verify_ok"))
      .as[(String, Double, Double, Double, Long, Long, Boolean)].collect()
    ctx.check("tiled rows", tiled.length == Rows, s"${tiled.length} != $Rows")
    val notOk = tiled.count(!_._7)
    ctx.check("every payload verifies", notOk == 0, s"$notOk rows failed verification")
    // exact tile assignment: scalar cell ids of every row
    val badTiles = tiled.count { case (_, x, y, z, t, tc, _) =>
      CellIndex.cellAt(x, y, z, TileLevel) != t || CellIndex.cellAt(x, y, z, CoarseLevel) != tc }
    ctx.check("tile assignment", badTiles == 0, s"$badTiles of ${tiled.length}")
    // AOI stats: brute-force point-in-polygon of every row, no cover
    val rings = aois.map(a => a.id -> a.vertsLatLonDeg.map { case (la, lo) => Brute.nvec(la, lo) })
    val brute = tiled.toSeq.flatMap { case (_, x, y, z, t, _, _) =>
      rings.collect { case (id, r) if Brute.inConvex(r, graft.geo.Vec3(x, y, z)) => (id, t) } }
      .groupBy(identity).map { case (k, v) => (k._1, k._2, v.size.toLong) }.toSet
    val stats = store.read("tile_stats")
    val got = stats.select("aoi_id", "tile", "n_imgs").as[(String, Long, Long)].collect().toSet
    ctx.check("aoi stats vs brute-force PIP", brute == got,
      s"${(brute diff got).size} missing, ${(got diff brute).size} extra")
    val nBad = stats.agg(coalesce(sum("n_bad"), lit(0L))).collect()(0).getLong(0)
    ctx.check("n_bad == 0", nBad == 0, s"n_bad=$nBad")
    // nearest: geodesic distance to all 512 landmarks, top 3 by (distance, id)
    val lm = Gen.landmarks(spark, ctx.seed)
      .select(col("lm_id"), geo.lat(col("lm_n")), geo.lon(col("lm_n"))).as[(Long, Double, Double)].collect()
    val centers = stats.select(concat_ws(":", col("aoi_id"), col("tile")), col("mean_lat"), col("mean_lon"))
      .as[(String, Double, Double)].collect()
    val bruteKnn = centers.toSeq.flatMap { case (key, la, lo) =>
      lm.map { case (id, lla, llo) =>
        (graft.geo.Karney.WGS84.inverse(math.toRadians(la), math.toRadians(lo), lla, llo)._1, id)
      }.sorted.take(3).zipWithIndex.map { case ((_, id), r) => (key, r + 1, id) }
    }.toSet
    val gotKnn = store.read("nearest").select("tile_key", "rank", "lm_id").as[(String, Int, Long)].collect().toSet
    ctx.check("nearest vs brute-force geodesic", bruteKnn.nonEmpty && bruteKnn == gotKnn,
      s"${(bruteKnn diff gotKnn).size} missing of ${bruteKnn.size}")
  }

  def endToEnd(ctx: Ctx): Map[String, Double] =
    Map("rows_per_cpu_s" -> Rows / (Main.median(ctx.cpuSamples("pass")) / 1000.0),
      "op_cpu_ms" -> Main.median(ctx.cpuSamples("resume")))

  def named(ctx: Ctx): Seq[(String, Double, String)] =
    Seq(("images_per_s", Rows / (Main.median(ctx.samples("pass")) / 1000.0), "rows/s"),
      ("images_per_cpu_s", Rows / (Main.median(ctx.cpuSamples("pass")) / 1000.0), "rows/s"),
      ("resume_s", Main.median(ctx.samples("resume")) / 1000.0, "s"),
      ("resume_cpu_s", Main.median(ctx.cpuSamples("resume")) / 1000.0, "s"),
      ("passes", ctx.samples("pass").size.toDouble, "count")) ++
      stageKinds.map(k => (s"${k.drop(6)}_s", Main.median(ctx.samples(k)) / 1000.0, "s"))

  def samplePoints(ctx: Ctx): Array[graft.geo.Vec3] = {
    val spark = ctx.spark
    import spark.implicits._
    val (lat, lon) = Gen.imageLatLon(ctx.seed, col("id"))
    spark.range(Gen.imageBase(ctx.seed), Gen.imageBase(ctx.seed) + 4096).select(lat, lon)
      .as[(Double, Double)].collect().map { case (la, lo) => graft.geo.Gade.latLonToNvec(la, lo) }
  }

  override def cleanup(ctx: Ctx): Unit = if (lastStore != null) Main.deleteTree(lastStore)
}
