package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.geo
import graft.index.cells
import graft.operators.SpatialJoins
import graft.operators.SpatialJoins.Aoi
import graft.sources.{ImageTable, Lineage, SnapshotStore}

/** The full image join+tile pipeline as a spark-submit entry point:
  *
  * {{{
  * spark-submit --class graft.PipelineMain envectorspark.jar \
  *   --store /data/graft_store [--generate 1000000] [--images <parquet>] \
  *   [--tile-level 8] [--compact <name>] [--expire-keep N]
  * }}}
  *
  * No master/parallelism is hard-coded — cluster size comes entirely
  * from spark-submit, which is what makes the N vs 4N executor
  * comparison of BASELINE.json runnable as-is on a real cluster.
  *
  * Every stage commits a named snapshot with per-partition lineage;
  * re-running after a crash resumes from the last committed stage
  * (SnapshotStore.getOrCompute), so the job is idempotent end to end.
  */
object PipelineMain {
  def main(args: Array[String]): Unit = {
    // strict pairing: sliding(2,2) silently mispaired or dropped
    // options when a value was missing or a stray token appeared
    val opts = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") =>
        k.drop(2) -> v
      case bad => sys.error(
        s"malformed arguments near '${bad.mkString(" ")}' — expected --flag value pairs")
    }.toMap
    if (!opts.contains("store")) sys.error("--store <dir> is required")

    val spark = SparkSession.builder()
      .appName("graft-image-tile-pipeline")
      .getOrCreate() // master/executors from spark-submit
    spark.sparkContext.setLogLevel("WARN")
    println(run(spark, opts))
    spark.stop()
  }

  /** Run (or resume) the pipeline on the store at `opts("store")`
    * with the options of [[main]] (keys without the leading `--`),
    * and return the one-line JSON summary: tiles, assigned images,
    * bad payloads, nearest rows and committed snapshots (5 after a
    * run without maintenance).
    */
  def run(spark: SparkSession, opts: Map[String, String]): String = {
    val store = new SnapshotStore(spark, opts("store"))
    // NOTE resume is keyed by snapshot NAME only: re-running an
    // existing store with different --tile-level/--images/--generate
    // returns the previously committed stages unchanged — use a fresh
    // --store (or expire the old snapshots) when parameters change
    val tileLevel = opts.getOrElse("tile-level", "8").toInt

    // stage 1: ingest (committed snapshot = resumable source of truth)
    val images = store.getOrCompute("images") {
      opts.get("images") match {
        case Some(path) => spark.read.parquet(path)
        case None =>
          val n = opts.getOrElse("generate", "100000").toLong
          ImageTable.generate(spark, n,
            math.max(spark.sparkContext.defaultParallelism * 2, 8))
      }
    }

    // stage 2: payload verification (PSNR >= 40dB, phash, caption)
    val verified = store.getOrCompute("verified") {
      import spark.implicits._
      images.as[ImageTable.ImageRow].map { r =>
        val ord = r.image_id.drop(4).toLong
        val ok = ImageTable.referencePsnr(ord, r.bytes, r.w, r.h, r.fmt) >= 40.0 &&
          ImageTable.payloadPhash(r.bytes, r.w, r.h, r.fmt) == r.phash &&
          ImageTable.referenceCaption(ord) == r.caption
        (r.image_id, r.phash, r.caption, ok)
      }.toDF("image_id", "phash", "caption", "verify_ok")
    }

    // stage 3: tile assignment (multi-resolution cell encode),
    // committed CLUSTERED by (coarse tile, tile) with zone-map stats
    // on the COARSE tile in the manifest: range partitioning gives
    // every data file a tight coarse-tile range (and, within it, tile
    // clustering), so any later AOI/tile-scoped read
    // (store.readPrunedIn over a disc cover at the coarse level)
    // opens only the overlapping files — at 10^12 rows that's the
    // difference between a full-table scan and a few files per query
    val coarseLevel = math.max(1, tileLevel - 4)
    val tiledName = "tiled"
    store.getOrCompute(tiledName, statsCol = Some("tile_coarse")) {
      verified
        .withColumn("ord", substring(col("image_id"), 5, 12).cast("long"))
        .withColumn("lat", SparkEntry.latRad(col("ord"))) // shared overflow-safe position hash
        .withColumn("lon", SparkEntry.lonRad(col("ord")))
        .withColumn("n", geo.nvec(col("lat"), col("lon")))
        .withColumn("tile", cells.cellAt(col("n"), tileLevel))
        .withColumn("tile_coarse", cells.cellAt(col("n"), coarseLevel))
        .select("image_id", "phash", "verify_ok", "n", "tile", "tile_coarse")
        .repartitionByRange(col("tile_coarse"), col("tile"))
    }

    // stage 4: AOI assignment + per-tile statistics (with lineage)
    val aois = Seq(
      Aoi("eq", Seq((-25.0, -30.0), (-25.0, 30.0), (25.0, 30.0), (25.0, -30.0))),
      Aoi("am", Seq((-30.0, 150.0), (-30.0, -150.0), (30.0, -150.0), (30.0, 150.0))),
      Aoi("nc", (0 until 8).map(i => (55.0, -180.0 + 45.0 * i))),
      Aoi("sb", Seq((-65.0, -120.0), (-65.0, 0.0), (-35.0, 0.0), (-35.0, -120.0))))
    val statsName = "tile_stats"
    if (store.versionOf(statsName).isEmpty) {
      // ZONE-MAP-PRUNED input: the AOI join can only match points
      // inside some AOI's circumdisc, and a complete disc cover at
      // the committed coarse level (CellIndex.capCells — every cell
      // whose lower-bound distance to the centroid is inside the
      // disc) lists exactly the coarse tiles such points can occupy.
      // readPrunedIn opens only data files whose coarse-tile range
      // holds a cover cell, so the AOI stage reads a few files of the
      // range-clustered snapshot instead of scanning the table; the
      // residual isin + exact winding filter keep the result
      // IDENTICAL to aoiJoin over the full read (spec-pinned).
      // the cover MUST be built at the level the committed snapshot's
      // tile_coarse cells actually carry: a rerun on an existing
      // store with a different --tile-level resumes the OLD snapshot
      // (resume is keyed by name), and cell ids at different levels
      // never match — the isin filter would silently commit an EMPTY
      // tile_stats. Read the level back from the committed data's
      // zone map: the manifest's min of tile_coarse (no job).
      // ... and the cover must target the column the snapshot's zone
      // maps were actually built on: a 'tiled' snapshot committed by
      // an older writer with statsCol 'tile' would pass fine-tile ids
      // through the coarse-cell isin filter and commit an EMPTY
      // tile_stats. Fail loudly instead of writing wrong (empty) data.
      store.statsColOf(tiledName).foreach { sc =>
        if (sc != "tile_coarse") sys.error(
          s"committed '$tiledName' snapshot carries zone-map stats on " +
            s"'$sc', not 'tile_coarse' — it was written by an " +
            "incompatible pipeline version; use a fresh --store")
      }
      val committedCoarseLevel = store.statsRange(tiledName)
        .fold(coarseLevel) { case (lo, _) => graft.index.CellIndex.levelOf(lo) }
      if (committedCoarseLevel != coarseLevel)
        System.err.println(s"[pipeline] WARNING: committed 'tiled' snapshot " +
          s"is at coarse level $committedCoarseLevel but --tile-level implies " +
          s"$coarseLevel — resuming with the committed level (use a fresh " +
          "--store to change tiling parameters)")
      val cover = aois.flatMap { a =>
        graft.index.CellIndex.capCells(a.centroid.x, a.centroid.y,
          a.centroid.z, committedCoarseLevel, a.circumAngle)
      }.distinct
      val tiledPruned = store.readPrunedIn(tiledName, cover)
      val assigned = SpatialJoins.aoiJoin(tiledPruned, "n", aois)
      val stats = assigned.groupBy("aoi_id", "tile")
        .agg(count(lit(1)).as("n_imgs"),
          geo.meanPosition(col("n")).as("mean_n"),
          sum(when(!col("verify_ok"), 1).otherwise(0)).as("n_bad"))
        .select(col("aoi_id"), col("tile"), col("n_imgs"), col("n_bad"),
          round(geo.latDeg(col("mean_n")), 6).as("mean_lat"),
          round(geo.lonDeg(col("mean_n")), 6).as("mean_lon"))
      Lineage.commitWithMetrics(store, statsName, stats)
    }
    val stats = store.read(statsName)

    // stage 5: nearest landmarks per populated tile — the kNN join
    // with ellipsoidal re-rank, completing the north_star chain
    // (cell index -> PIP -> aggregation -> kNN re-rank) under the
    // same resumable snapshot protocol
    val nearest = store.getOrCompute("nearest") {
      val landmarks = spark.range(512)
        .withColumn("lm_lat", asin(((col("id") * 2654435761L + 7L) % 180001L) / 90000.5 - 1.0))
        .withColumn("lm_lon", (((col("id") * 40503L + 11L) % 360001L) / 180000.5 - 1.0) * math.Pi)
        .select(col("id").as("lm_id"),
          geo.nvec(col("lm_lat"), col("lm_lon")).as("lm_n"))
      val tileCenters = stats
        .withColumn("mean_n",
          geo.nvecDeg(col("mean_lat"), col("mean_lon")))
        .withColumn("tile_key", concat_ws(":", col("aoi_id"), col("tile")))
        .select("tile_key", "mean_n")
      SpatialJoins.knnJoin(tileCenters, landmarks, "mean_n", "lm_n",
          "tile_key", "lm_id", k = 3, geodesicReRank = true)
        .select(col("tile_key"), col("rank"), col("lm_id"),
          round(col("geodesic_m"), 3).as("geodesic_m"))
    }
    // coalesce: an empty stats table (tiny --generate, or every point
    // outside the AOIs) makes the sums null and getLong would throw
    // at the very last step after all the expensive work succeeded
    val summary = stats.agg(count(lit(1)).as("tiles"),
      coalesce(sum("n_imgs"), lit(0L)).as("assigned"),
      coalesce(sum("n_bad"), lit(0L)).as("bad_payloads")).collect()(0)
    val nearestRows = nearest.count()

    // table maintenance, same spark-submit surface: --compact <name>
    // rewrites that snapshot to ~128 MB files (zone-map clustering
    // and stats carry over), --expire-keep N drops all but the newest
    // N versions per name (long-running ingest must bound history).
    // Runs AFTER the summary/nearest actions above: those lazy plans
    // reference the pre-maintenance versions' files, and expiring
    // first would delete parquet out from under them
    opts.get("compact").foreach(store.compact(_))
    opts.get("expire-keep").foreach(n => store.expireSnapshots(n.toInt))

    s"""{"tiles":${summary.getLong(0)},"assigned":${summary.getLong(1)},""" +
      s""""bad_payloads":${summary.getLong(2)},"nearest_rows":$nearestRows,""" +
      s""""snapshots":${store.snapshots.size}}"""
  }
}
