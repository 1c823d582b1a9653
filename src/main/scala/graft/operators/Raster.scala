package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.geo
import graft.index.{CellIndex, CellKernels, cells}
import graft.geo.{Vec3, VecMath}

/** Raster <-> vector conversions over the cell grid (north_rule:
  * "H3/S2 index, point-in-polygon, kNN, raster<->vector").
  *
  * A "raster" here is the discrete global grid at a cell level: a
  * DataFrame of (cell: Long, <measures>). Rasterize aggregates vector
  * points into that grid; downsample re-aggregates to a coarser
  * level with pure integer parent arithmetic (no shuffle beyond one
  * group-by); vectorize turns cells back into spherical polygons
  * (corner rings) interoperable with the point-in-polygon operator.
  */
object Raster {
  /** Aggregate point rows into the level-`level` cell grid.
    * `measures` are aggregate expressions evaluated per cell
    * (e.g. `count(lit(1)).as("n")`, `avg(col("v")).as("v")`).
    */
  def rasterize(points: DataFrame, nvecCol: String, level: Int,
                measures: Seq[Column]): DataFrame =
    points.withColumn("cell", cells.cellAt(col(nvecCol), level))
      .groupBy("cell")
      .agg(measures.head, measures.tail: _*)

  /** Re-aggregate a raster to a coarser level; `measures` aggregate
    * the existing measure columns (e.g. `sum(col("n")).as("n")`).
    * Parent ids are pure bit arithmetic — a single hash aggregation.
    */
  def downsample(raster: DataFrame, toLevel: Int, measures: Seq[Column]): DataFrame =
    // per-ROW ancestor arithmetic (CellKernels.parentAt): no eager
    // head() job (which also crashed on empty rasters), and
    // mixed-level rasters — multi-resolution encodes — each climb
    // their own distance instead of inheriting one sampled row's
    // level; cells already at or coarser than toLevel pass through
    raster.withColumn("cell",
        org.apache.spark.sql.GraftSqlBridge.staticInvoke(
          Class.forName("graft.index.CellKernels"),
          org.apache.spark.sql.types.LongType, "parentAt",
          Seq(col("cell"), lit(toLevel)),
          Seq(org.apache.spark.sql.types.LongType,
            org.apache.spark.sql.types.IntegerType)))
      .groupBy("cell")
      .agg(measures.head, measures.tail: _*)

  /** Corner ring of a cell as flat [x0,y0,z0,...] n-vector array —
    * directly consumable by `cells.pointInPolygon` (pure cell
    * geometry; delegates to the index layer).
    */
  def cellCornersFlat(id: Long): Array[Double] = CellIndex.cellCornersFlat(id)

  /** Vectorize: cells -> polygon rows (cell, corner lat/lon arrays in
    * degrees + the flat n-vector ring). The inverse of rasterize at
    * the geometry level.
    */
  def vectorize(raster: DataFrame): DataFrame = {
    // per-row PROJECTION (no join): the previous derive-then-join-back
    // shape executed the entire upstream raster plan twice and paid a
    // shuffle for what is pure per-row integer/trig math
    val ring = org.apache.spark.sql.GraftSqlBridge.staticInvoke(
      Class.forName("graft.index.CellKernels"),
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.DoubleType, containsNull = false),
      "cornersFlat", Seq(col("cell")), Seq(org.apache.spark.sql.types.LongType))
    def cx(i: Column) = element_at(col("ring_nvec_flat"), i * 3 + 1)
    def cy(i: Column) = element_at(col("ring_nvec_flat"), i * 3 + 2)
    def cz(i: Column) = element_at(col("ring_nvec_flat"), i * 3 + 3)
    raster.withColumn("ring_nvec_flat", ring)
      .withColumn("corner_lat_deg", transform(sequence(lit(0), lit(3)),
        i => degrees(atan2(cz(i), hypot(cx(i), cy(i))))))
      .withColumn("corner_lon_deg", transform(sequence(lit(0), lit(3)),
        i => degrees(atan2(cy(i), cx(i)))))
  }

  /** Inverse-distance-weighted interpolation of `valueCol` from
    * sample points onto query points: for each query q,
    * `est = sum(v_s / d^p) / sum(1 / d^p)` over samples within
    * `radiusMeters` great-circle distance, with d clamped below by
    * `minDistMeters` (an exact-hit sample dominates at weight
    * 1/minDist^p instead of dividing by zero). Samples with a null
    * value carry no field information and are dropped up front
    * (otherwise their weight would enter the denominator while the
    * numerator skips them — a silent bias toward 0). Queries with no
    * usable sample in range emit `n_samples = 0` and a null
    * estimate; duplicate query rows each aggregate independently
    * (keyed by a synthetic row id, not by value equality — a null
    * in a query payload column must not detach its aggregates).
    *
    * Scale shape: one disc-cover [[SpatialJoins.distanceJoin]]
    * (queries x samples confined to cells of the radius, never all
    * pairs) then a single per-query aggregation — partial aggregates
    * combine map-side, so the shuffle carries two doubles per query,
    * not the candidate pairs. Output: query columns + `est` +
    * `n_samples`.
    */
  def idw(queries: DataFrame, queryNvec: String,
          samples: DataFrame, sampleNvec: String, valueCol: String,
          radiusMeters: Double, power: Double = 2.0,
          minDistMeters: Double = 1.0,
          sphereRadius: Double = graft.geo.Ellipsoids.MeanEarthRadius,
          estCol: String = "est",
          queryIdCol: Option[String] = None): DataFrame = {
    require(radiusMeters > 0.0, s"radius must be > 0 (got $radiusMeters)")
    require(minDistMeters > 0.0, s"minDist must be > 0 (got $minDistMeters)")
    val qCols = queries.columns.map(col).toSeq
    // synthetic key contract: the keyed frame is referenced by TWO
    // plan subtrees (the distance-join input and the final left
    // join), and monotonically_increasing_id is only deterministic
    // per partition CONTENT — a shuffle upstream of `queries` may
    // order partitions differently across the two executions and
    // bind __qid to different rows, mis-associating the estimates.
    // Either the caller names an existing unique id column (no
    // checkpoint at all — the cheap path), or the keyed frame is
    // pinned with a LAZY localCheckpoint so both branches read the
    // SAME materialized rows: the block manager computes each
    // partition exactly once under a per-block lock on first use, so
    // lazy is binding-consistent while keeping idw() free to call
    // (no job until the result is acted on). Executor-local blocks;
    // on executor loss the job fails rather than silently recomputing
    // with a different binding. The checkpointed blocks live until
    // the RDD is GC'd — long-lived sessions issuing many keyless idw
    // calls should pass queryIdCol to avoid storage accretion.
    val keyed = queryIdCol match {
      case Some(c) => queries.withColumn("__qid", col(c))
      case None =>
        queries.withColumn("__qid", monotonically_increasing_id())
          .localCheckpoint(eager = false)
    }
    val joined = SpatialJoins.distanceJoin(
        keyed,
        samples.filter(col(valueCol).isNotNull)
          .select(col(sampleNvec), col(valueCol).as("__v")),
        queryNvec, sampleNvec, radiusMeters, sphereRadius)
      .withColumn("__w",
        lit(1.0) / pow(greatest(col("dist_m"), lit(minDistMeters)), power))
    keyed.join(
        joined.groupBy("__qid")
          .agg(sum(col("__w") * col("__v")).as("__num"),
            sum(col("__w")).as("__den"),
            count(lit(1)).as("n_samples")),
        Seq("__qid"), "left")
      .select(qCols ++ Seq(
        (col("__num") / col("__den")).as(estCol),
        coalesce(col("n_samples"), lit(0L)).as("n_samples")): _*)
  }

  /** Grid KDE heatmap: truncated-Gaussian-smoothed point density per
    * OCCUPIED cell at `level` — what a heatmap tile service renders.
    * density(t) = Σ over occupied cells c' with
    * gc(center(t), center(c')) <= cutoff of
    * n(c') * exp(-d_m^2 / (2 sigma^2)), including t itself at weight
    * 1 (exact grid KDE over cell-aggregated counts, NOT a per-point
    * KDE: points collapse to their cell center first — the standard
    * heatmap quantization, error bounded by the cell diagonal).
    *
    * Scale shape: the raw points are scanned and shuffled ONCE into
    * per-cell counts; the smoothing is counts x ring(counts) — each
    * occupied cell explodes into its (2k+1)^2 ring as candidate
    * targets with k the SMALLEST ring width whose provable coverage
    * ([[CellIndex.coverageLowerBound]]) reaches the cutoff, so the
    * candidate factor is a small constant and the exact distance
    * filter drops the ring corners. Targets are kept only if
    * occupied (one equi-join against the counts), so the output is
    * bounded by the occupied-cell count, never by the grid size.
    * Completeness: apply the coverage bound AT the source c' (its
    * center is a valid query position inside c'): d(center t,
    * center c') <= cutoff <= coverage means center(t) falls in a
    * cell of ring(c', k), and the cell containing center(t) IS t —
    * so expanding sources reaches every in-cutoff target.
    *
    * @return (cell, n, density) — n the cell's own point count.
    */
  def kdeDensity(df: DataFrame, nvecCol: String, level: Int,
                 sigmaMeters: Double, cutoffMeters: Double,
                 sphereRadius: Double = graft.geo.Ellipsoids.MeanEarthRadius,
                 maxRing: Int = 8): DataFrame = {
    require(sigmaMeters > 0.0, s"sigma must be > 0 (got $sigmaMeters)")
    require(cutoffMeters > 0.0, s"cutoff must be > 0 (got $cutoffMeters)")
    val cutoffRad = cutoffMeters / sphereRadius
    val k = (1 to maxRing).find(k =>
        CellIndex.coverageLowerBound(level, k) >= cutoffRad)
      .getOrElse(throw new IllegalArgumentException(
        s"no ring width <= $maxRing provably covers ${cutoffMeters} m at " +
          s"level $level (bound saturates ~0.26 rad; coarsen the level or " +
          s"shrink the cutoff)"))
    // centers computed ONCE per distinct occupied cell — on the
    // source side below the ring explode (the Generate only carries
    // child columns, it does not recompute them) and on the target
    // side inside the join's aggregate branch — never per candidate
    // pair
    val counts = df
      .groupBy(cells.cellAt(col(nvecCol), level).as("cell"))
      .agg(count(lit(1)).as("n"))
      .withColumn("__c", cells.cellCenter(col("cell")))
    val twoSigmaSq = 2.0 * sigmaMeters * sigmaMeters
    val spread = counts
      .select(col("cell").as("__src"), col("n").as("__sn"),
        col("__c").as("__sc"))
      .withColumn("cell", explode(cells.ringCells(col("__src"), k)))
      .join(counts.select(col("cell"), col("n"), col("__c").as("__tc")),
        "cell")
      .withColumn("__d", geo.gcDistance(col("__tc"), col("__sc"),
        sphereRadius))
      .filter(col("__d") <= cutoffMeters)
    spread
      .groupBy("cell")
      .agg(first(col("n")).as("n"),
        sum(col("__sn") * exp(-col("__d") * col("__d") / twoSigmaSq))
          .as("density"))
  }
}
