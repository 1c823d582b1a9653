package graft.operators

import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.{GetArrayItem, KnownNotNull, KnownNullable, Literal}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.storage.StorageLevel
import graft.functions.geo
import graft.index.{CellIndex, CellKernels, cells}
import graft.geo.{Ellipsoids, Gade, Vec3, VecMath}

/** Spatial join operators: cell-index candidate generation (equi-join,
  * shuffle on cell id) followed by exact geodesic verification — the
  * candidate -> verify -> select pattern (SURVEY.md §3 EP-3). A small
  * kNN data side or a small polygon set instead ships as plan literals
  * to one kernel scan per row, which generates and verifies the row's
  * candidates itself. No custom physical operators: the planner
  * keeps choosing broadcast vs shuffled hash vs sort-merge, AQE keeps
  * handling stragglers, and every filter stays codegen'd.
  */
object SpatialJoins {
  import Ellipsoids.MeanEarthRadius

  /** An area-of-interest polygon given as (latDeg, lonDeg) vertices
    * (implicitly closed, any orientation, smaller than a hemisphere):
    * a view of the one-ring [[AoiM]] `asRings`, which every join,
    * cover and kernel below runs on.
    */
  final case class Aoi(id: String, vertsLatLonDeg: Seq[(Double, Double)]) {
    lazy val asRings: AoiM = AoiM(id, Seq(vertsLatLonDeg))
    def vertsN: Array[Vec3] = asRings.ringsN.head
    def centroid: Vec3 = asRings.ringCentroids.head
    /** Circumscribed angular radius around the centroid [rad]. */
    def circumAngle: Double = asRings.ringCircumAngles.head
    def flatVerts: Array[Double] = CellIndex.flatNvecs(vertsLatLonDeg)
    /** Enforce the winding disambiguator's validity region (see
      * [[AoiM.validated]]): near-hemispheric slivers would get
      * silently wrong containment answers otherwise.
      */
    def validated: Aoi = { asRings.validated; this }
  }

  /** A multipolygon / polygon-with-holes area of interest: a LIST of
    * (latDeg, lonDeg) rings (each implicitly closed, any orientation,
    * each smaller than a hemisphere). Containment is EVEN-ODD over
    * the rings — outer-with-holes, disjoint parts, and
    * islands-in-lakes all fall out of parity with no orientation or
    * nesting bookkeeping, which is also what makes the predicate
    * SQL-mirrorable ring by ring.
    */
  final case class AoiM(id: String, ringsLatLonDeg: Seq[Seq[(Double, Double)]]) {
    require(ringsLatLonDeg.nonEmpty, s"AOI '$id' has no rings")
    ringsLatLonDeg.zipWithIndex.foreach { case (r, i) =>
      require(r.length >= 3, s"AOI '$id' ring $i has ${r.length} vertices (< 3)") }
    lazy val ringsN: Seq[Array[Vec3]] = ringsLatLonDeg.map(_.map { case (la, lo) =>
      Gade.latLonToNvec(math.toRadians(la), math.toRadians(lo))
    }.toArray)
    /** Per-ring vertex centroids / circumscribed angular radii — the
      * cover machinery prunes per RING (a multipolygon's parts may be
      * arbitrarily far apart; only each ring must fit a hemisphere).
      */
    lazy val ringCentroids: Seq[Vec3] = ringsN.map(r => VecMath.unit(r.reduce(_ + _)))
    lazy val ringCircumAngles: Seq[Double] = ringsN.indices.map { i =>
      ringsN(i).map(v => Gade.greatCircleDistanceRad(ringCentroids(i), v)).max
    }
    /** Ring-list encoding [k, n_0..n_{k-1}, coords...] (all doubles). */
    def flatRings: Array[Double] = CellIndex.ringList(ringsLatLonDeg)
    /** Hemisphere contract: each ring within 90 deg of its OWN vertex
      * centroid — the per-ring winding disambiguator's validity
      * region, and (geodesic balls of radius < pi/2 being convex)
      * the guarantee that each ring's interior stays inside its own
      * circumdisc, which is what the per-ring cover prunes with. No
      * GLOBAL span limit: a multipolygon's parts may be antipodal.
      */
    def validated: AoiM = {
      ringsLatLonDeg.indices.foreach { i =>
        require(ringCircumAngles(i) < math.Pi / 2,
          f"AOI '$id' ring $i spans ${ringCircumAngles(i)}%.3f rad from its " +
            "vertex centroid (>= pi/2): exceeds the winding test's " +
            "hemisphere contract — split the ring")
      }
      this
    }
  }

  /** Distance join: all (left, right) pairs with great-circle distance
    * <= radiusMeters. Columns of both inputs are preserved (names must
    * be disjoint) plus `distCol`. Each left row explodes its per-row
    * quadtree DISC COVER (cells.capCells: the cells whose safe
    * lower-bound distance is within the radius — provably complete at
    * any radius, including cells across cube-face edges where the
    * gnomonic projection compresses) at a level sized so a cap covers
    * ~48 cells; each right row keeps exactly one cell, and cover cells
    * are distinct, so every (left, right) pair is a candidate at most
    * once and no pair dedup is needed. The exact distance filter
    * decides membership. Only caps spanning most of the sphere — where
    * the output itself is quadratic and pruning cannot help — take the
    * exact-filtered cross join.
    *
    * Join side, from Catalyst statistics (no job): the build side
    * (right, one cell per row) is broadcast when its estimated bytes,
    * times `skewSalt` when salted, fit
    * `spark.sql.autoBroadcastJoinThreshold`. The exploded probe
    * side may be broadcast only when its estimate times the cells of
    * one cover (a cap at a cube-face corner, where cells are smallest)
    * still fits; Spark sizes a Generate like its input, so otherwise
    * it would hash a whole cover per probe row on the driver. Past
    * both, the join shuffles.
    *
    * @param broadcastRight forces the build-side broadcast whatever its
    *   estimate.
    * @param probeSideBloom when true, the cover-exploded probe rows
    *   are prefiltered by a Bloom filter over the build side's
    *   OCCUPIED cells before the shuffle. At low cell occupancy
    *   (build rows << cells in reach) most exploded rows target an
    *   empty cell and would ride the exchange for nothing — the
    *   probe-side explode factor dominates the join cost there, and
    *   the bloom cuts it to ~occupied hits. False positives only ADD
    *   candidates (the exact distance filter still decides); false
    *   negatives cannot occur, so results are unchanged. Costs one
    *   extra pass over the build side (cheap when the caller has it
    *   persisted) — leave off for small or broadcast builds.
    */
  def distanceJoin(left: DataFrame, right: DataFrame,
                   leftNvec: String, rightNvec: String,
                   radiusMeters: Double,
                   sphereRadius: Double = MeanEarthRadius,
                   distCol: String = "dist_m",
                   broadcastRight: Boolean = false,
                   skewSalt: Int = 0,
                   hotCellThreshold: Long = 1000000L,
                   probeSideBloom: Boolean = false): DataFrame = {
    val angle = radiusMeters / sphereRadius
    require(radiusMeters >= 0 && angle <= math.Pi,
      s"radiusMeters=$radiusMeters out of range for sphereRadius=$sphereRadius")
    // Cap level: the cap (fraction capFrac of the sphere) covers ~48 of
    // the sphere's 6 * 4^level cells, clamped to MaxLevel. Below the
    // double-precision floor of 1 - cos(angle) (angles < ~1e-8 rad,
    // radius 0 included) capFrac is 0 and MaxLevel is set directly.
    val capFrac = (1.0 - math.cos(angle)) / 2.0
    if (capFrac > 0.7) {
      val b = if (broadcastRight) broadcast(right) else right
      return left.crossJoin(b)
        .withColumn(distCol, geo.gcDistance(col(leftNvec), col(rightNvec), sphereRadius))
        .filter(col(distCol) <= radiusMeters)
    }
    val level =
      if (capFrac <= 0.0) CellIndex.MaxLevel
      else math.max(1, math.min(CellIndex.MaxLevel,
        (math.log(8.0 / capFrac) / math.log(4.0)).floor.toInt))
    // a positive floor keeps a radius-0 probe's own cell in its cover
    // even when cellMinDistLB rounds a hair above 0; slack only adds
    // candidates
    val coverAngle = math.max(angle, 1e-12)
    def coverOf(n: Column): Column = cells.capCells(n, level, coverAngle)
    val probesAll = left.withColumn("__cell", explode(coverOf(col(leftNvec))))
    val build0 = right.withColumn("__cell", cells.cellAt(col(rightNvec), level))
    val probes0 =
      if (!probeSideBloom) probesAll
      else {
        // sized from an exact build count (one cheap job, opt-in);
        // 2% fpp keeps the filter ~1.1 B/row while letting through
        // only a trickle of empty-cell probes. An empty build side
        // NPEs Spark's bloom aggregate — and matches nothing anyway.
        val bn = build0.count()
        if (bn == 0L) probesAll.filter(lit(false))
        else {
          val bf = build0.stat.bloomFilter("__cell", math.max(1000L, bn), 0.02)
          val might = udf((c: Long) => bf.mightContainLong(c))
          probesAll.filter(might(col("__cell")))
        }
      }
    val (probes, build1) =
      if (skewSalt <= 1) (probes0.withColumn("__salt", lit(0)),
        build0.withColumn("__salt", lit(0)))
      else {
        // heavy-hitter detection on a BOUNDED SAMPLE of the probe side:
        // AQE can split skewed shuffle partitions but not one giant
        // key, so hot cells get a per-row salt while the build side
        // replicates only those cells x skewSalt (north_rule "salted
        // repartitioning of hot cells"). Sampling BEFORE the cover
        // explode keeps the pre-pass a column-pruned 0.1% scan + tiny
        // agg instead of a full groupBy over every probe row (at
        // 100 TB the full pre-pass doubled the probe-side scan): a
        // cell with >= hotCellThreshold rows appears >= threshold *
        // frac times in expectation, and the detection cut at HALF
        // that count makes a miss exponentially unlikely (Chernoff:
        // P[Binomial(1e6, 1e-3) < 500] < 1e-70). Detection only
        // steers COST (which cells get salted), never correctness —
        // the join result is identical for any hot set, so sampling
        // noise can only under- or over-salt a borderline-warm cell.
        val frac = math.min(1.0, math.max(
          0.001, 1000.0 / math.max(1.0, hotCellThreshold.toDouble)))
        val sampleCut = math.max(2L, (hotCellThreshold * frac / 2.0).toLong)
        val hot = left.sample(withReplacement = false, frac, seed = 42L)
          .select(explode(coverOf(col(leftNvec))).as("__cell"))
          .groupBy("__cell").count()
          .filter(col("count") >= sampleCut)
          .collect().map(_.getLong(0))
        val hotSet = hot.toSet
        val isHot = (c: Column) =>
          if (hotSet.isEmpty) lit(false) else c.isInCollection(hotSet)
        val p = probes0.withColumn("__salt",
          when(isHot(col("__cell")),
            pmod(xxhash64(geo.vx(col(leftNvec))), lit(skewSalt)).cast("int"))
            .otherwise(lit(0)))
        val b = build0.withColumn("__salt",
          explode(when(isHot(col("__cell")),
            sequence(lit(0), lit(skewSalt - 1)))
            .otherwise(array(lit(0)))))
        (p, b)
      }
    // the hash table goes on the build side: Spark sizes a Generate
    // like its input, so by its own estimate the exploded probe side
    // (a whole cover per row) looks as small as the probe table
    val threshold = left.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    def fits(bytes: BigInt): Boolean = threshold >= 0 && bytes <= threshold
    // salting replicates the build side's hot cells skewSalt times
    def buildBytes: BigInt = estBytes(build1) * math.max(1, skewSalt)
    // a cap at a cube-face corner, where cells are smallest, has the
    // largest cover
    def coverCells: Int = {
      val c = 1.0 / math.sqrt(3.0)
      CellIndex.capCells(c, c, c, level, coverAngle).length
    }
    val (probeSide, build) =
      if (broadcastRight || fits(buildBytes)) (probes, broadcast(build1))
      else if (fits(estBytes(probes) * coverCells)) (probes, build1)
      else (GraftSqlBridge.noBroadcastHash(probes), build1)
    probeSide.join(build, Seq("__cell", "__salt"))
      .withColumn(distCol, geo.gcDistance(col(leftNvec), col(rightNvec), sphereRadius))
      .filter(col(distCol) <= radiusMeters)
      .drop("__cell", "__salt")
  }

  /** k-nearest-neighbor join with exact re-ranking. Output: query
    * columns + data columns + distCol + `rank` (1..k, ties broken by
    * data id for determinism), then `geodesic_m` with
    * `geodesicReRank`. `qId` must be unique per query row (both paths
    * key their per-query state on it). Rows with a null position, on
    * either side, never rank.
    *
    * Small data side (<= 100k estimated rows, <= 64 MB, Q x D within
    * `bruteForceThreshold`): one kernel scan per query row
    * ([[graft.functions.GeoKernels.knnScan]]). The data side is
    * collected once in `dId` order and rides as a flat n-vector plan
    * literal; the kernel's (index, distance) hits join its payload
    * back through a broadcast local relation. No cross join, no
    * shuffle, no rank window: the top-k and the geodesic re-rank's
    * provable cut both run inside the kernel.
    *
    * Otherwise, per query row: candidates from successively wider
    * blocks around the query's cell; a query is complete once it has
    * k candidates whose k-th distance lies inside the block's EXACT
    * per-query coverage radius (CellIndex.ringCoverageRad — accounts
    * for gnomonic compression at cube-face edges, so nothing closer
    * can hide in an unprobed cell). Queries left unsatisfied (sparse
    * regions) escalate to COARSER levels via parent-cell arithmetic —
    * never a cross join against the data side — ending in a
    * full-sphere wrap block whose coverage is pi, which closes the
    * proof for every query. Each round's candidate set and the
    * straggler chain are persisted MEMORY_AND_DISK (recomputable on
    * executor loss, unlike localCheckpoint) and explicitly unpersisted
    * once the final result is materialized.
    *
    * @param level cell level of the ring path; pass <= 0 to auto-size
    *              from data count so a cell holds ~2k points on average.
    */
  def knnJoin(queries: DataFrame, data: DataFrame,
              qNvec: String, dNvec: String, qId: String, dId: String,
              k: Int, level: Int = -1,
              sphereRadius: Double = MeanEarthRadius,
              distCol: String = "dist_m",
              bruteForceThreshold: Long = 2000000L,
              geodesicReRank: Boolean = false): DataFrame = {
    val w = Window.partitionBy(qId).orderBy(col(distCol), col(dId))
    // partition-wide stats window: same hash partitioning as `w`, so
    // chaining it after the rank window adds no exchange and no sort
    val wStat = Window.partitionBy(qId)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)

    // a spherical coverage radius only bounds GEODESIC distances after
    // deflation: the n-vector angle theta between two points satisfies
    // theta <= s / R_min (the normal turns at most 1/R_min radians per
    // meter of path, R_min = min radius of curvature = the meridional
    // M at the equator = a(1-f)^2), so geodesic s >= theta * a(1-f)^2
    // = gc_m * (a(1-f)^2 / sphereRadius). The previous factor (1 - f)
    // alone was NOT a sound bound: R*(1-f) ~ 6349.7 km exceeds
    // a(1-f)^2 ~ 6335.4 km, so an equatorial meridional near-tie
    // could beat the certified coverage by up to 0.22%.
    val covDeflate =
      if (geodesicReRank) {
        val e = graft.geo.Ellipsoids.WGS84
        e.a * (1.0 - e.f) * (1.0 - e.f) / sphereRadius
      } else 1.0

    // candidate selection always uses the spherical metric (the block
    // coverage proof is spherical); with geodesicReRank the final
    // ordering re-ranks by the exact Karney ellipsoidal distance over
    // a PROVABLY sufficient pool (see reRankGeodesic)
    def rank(cand: DataFrame): DataFrame = {
      val gcRanked = cand
        .withColumn(distCol, geo.gcDistance(col(qNvec), col(dNvec), sphereRadius))
        .withColumn("rank", row_number().over(w))
      if (!geodesicReRank) gcRanked.filter(col("rank") <= k)
      else reRankGeodesic(gcRanked)
    }

    /** Exact ellipsoidal re-rank with a provable pool cut. A geodesic
      * distance is bounded below by the deflated spherical one
      * (geodesic >= gc * covDeflate with covDeflate = a(1-f)^2 / R —
      * see covDeflate's derivation; NOT the naive (1 - f), which is
      * unsound), the same bound the ring coverage test uses, so:
      *
      *  1. rank the first 3k spherical candidates by exact geodesic;
      *     their k-th geodesic `__gk1` is an UPPER bound on the true
      *     k-th (the pool is a valid candidate set of >= k rows
      *     whenever the partition has >= k rows);
      *  2. any candidate with gc * covDeflate > __gk1 has geodesic
      *     > __gk1 >= true k-th and is provably outside the top-k;
      *     every other candidate gets the exact geodesic and enters
      *     the final rank.
      *
      * The second tier is almost always empty (flattening only
      * reorders near-ties, so the 3k pool already contains the cut),
      * but the cut is what makes the result EXACT for any
      * distribution, not heuristic. All windows share the qId hash
      * partitioning — one exchange, extra sorts only.
      */
    def reRankGeodesic(gcRanked: DataFrame): DataFrame = {
      val geodExpr = geo.geodesicDistance(
        geo.lat(col(qNvec)), geo.lon(col(qNvec)),
        geo.lat(col(dNvec)), geo.lon(col(dNvec)))
      val wG1 = Window.partitionBy(qId)
        .orderBy(col("__g1").asc_nulls_last, col(dId))
      val wG = Window.partitionBy(qId)
        .orderBy(col("geodesic_m").asc_nulls_last, col(dId))
      gcRanked
        .withColumn("__g1", when(col("rank") <= 3 * k, geodExpr))
        .withColumn("__rg1", row_number().over(wG1))
        .withColumn("__gk1", max(when(col("__rg1") <= k, col("__g1"))).over(wStat))
        .withColumn("geodesic_m",
          when(col("__g1").isNotNull, col("__g1"))
            .otherwise(when(col(distCol) * covDeflate <= col("__gk1"), geodExpr)))
        .withColumn("rank", row_number().over(wG))
        .filter(col("rank") <= k && col("geodesic_m").isNotNull)
        .drop("__g1", "__rg1", "__gk1")
    }

    /** rank() plus the per-query satisfaction stats folded into the
      * SAME window shuffle (no separate groupBy + semi join): `__cnt`
      * = candidate count in this block, `__kth` = the worst kept
      * distance in the FINAL metric (geodesic when re-ranking — the
      * coverage test must bound the metric that orders the output).
      */
    def rankWithStats(cand: DataFrame): DataFrame = {
      // __cnt uses the rank window's spec with an unbounded frame, so
      // both land in ONE WindowExec (one exchange, one sort)
      val wAllOrd = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val gcRanked = cand
        .withColumn(distCol, geo.gcDistance(col(qNvec), col(dNvec), sphereRadius))
        .withColumn("rank", row_number().over(w))
        .withColumn("__cnt", count(lit(1)).over(wAllOrd))
      val top =
        if (!geodesicReRank) gcRanked.filter(col("rank") <= k)
        else reRankGeodesic(gcRanked)
      // child is already hash-partitioned and qId-clustered: no
      // exchange, no sort for the unordered stats window
      top.withColumn("__kth",
        max(col(if (geodesicReRank) "geodesic_m" else distCol)).over(wStat))
    }

    // stats-derived estimates can sit near Long.MaxValue (sizeInBytes
    // fallback), so pair budgets must be compared without overflow: a
    // wrapped product could falsely pass the <= threshold test and
    // unleash the Q x D path on an enormous side
    def pairBudgetOk(a: Long, b: Long, budget: Long): Boolean =
      a <= budget && b <= budget &&
        (BigInt(math.max(1L, a)) * BigInt(math.max(1L, b))) <= BigInt(budget)
    val dataCount = estRows(data)
    val dataBytes = estBytes(data)
    // cost guard: the kernel scan costs Q x D distance evaluations
    // and ships the collected data side to every task — only cheaper
    // than the ring machinery when that product is small (and the data
    // side must fit the driver and the plan)
    if (dataCount <= 100000 && dataBytes <= (64L << 20) &&
        pairBudgetOk(dataCount, estRows(queries), bruteForceThreshold)) {
      return knnScanJoin(queries, data, qNvec, dNvec, dId, k, sphereRadius,
        distCol, geodesicReRank, covDeflate)
    }
    val lvl =
      if (level > 0) level
      else {
        val n = math.max(1L, dataCount)
        // target ~2.5 points per cell (a first 3x3 ring then holds
        // ~23 candidates) — the measured optimum at the 1M and 4M
        // probes and the sf0.1 gate; for large k keep ~k/4 per cell
        // so the first ring can still satisfy. Cells go 4x per level,
        // so ROUND to the nearest level: rounding coarse multiplies
        // the rank-window volume 4x for every query, rounding fine
        // only sends a few sparse queries one escalation ring further.
        val perCell = math.max(2.5, k / 4.0)
        val l = math.round(
          math.log(n.toDouble / (6.0 * perCell)) / math.log(4.0)).toInt
        math.max(2, math.min(CellIndex.MaxLevel, l))
      }
    // escalation schedule: widen at the base level, then coarsen the
    // level (data cells derived by exact parent arithmetic — no
    // re-encode), ending in the CHEAPEST wrap block (level 2, 96
    // cells; coverage = pi). Wrap-sized intermediate steps are
    // filtered out — they'd explode 4^lvl cells per straggler for the
    // same guarantee the level-2 terminal gives. Stragglers shrink
    // each round, so the later joins broadcast the tiny probe side
    // and scan data once instead of shuffling it.
    val steps: Seq[(Int, Int)] =
      ((Seq((lvl, 1), (lvl, 3)) ++
        Iterator.iterate(lvl - 2)(_ - 2).takeWhile(_ > 2).map(l => (l, 3)).toSeq)
        .filter { case (l, r) => CellIndex.coverageLowerBound(l, r) < math.Pi }
        :+ ((2, 2))).distinct
    val dBase = data.withColumn("__cell", cells.cellAt(col(dNvec), lvl))

    var remaining: DataFrame = queries
    var done: List[DataFrame] = Nil
    val persisted = scala.collection.mutable.ListBuffer.empty[DataFrame]
    var stepList: List[(Int, Int)] = steps.toList
    while (remaining != null && stepList.nonEmpty) {
      val (l, r) = stepList.head
      stepList = stepList.tail
      val dCells =
        if (l == lvl) dBase
        else dBase.withColumn("__cell", cells.parentCell(col("__cell"), lvl - l))
      val probes = remaining
        .withColumn("__cov", cells.ringCoverage(col(qNvec), l, r))
        .withColumn("__cell", explode(cells.ringCells(cells.cellAt(col(qNvec), l), r)))
      if (CellIndex.coverageLowerBound(l, r) == math.Pi) {
        // wrap block: every cell probed, nothing can hide anywhere
        val cand = rank(probes.join(dCells, "__cell").drop("__cell"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        persisted += cand
        done ::= cand.drop("__cov")
        remaining = null
      } else {
        val cand = rankWithStats(probes.join(dCells, "__cell").drop("__cell"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        persisted += cand
        val ok = col("__cnt") >= k &&
          col("__kth") <= col("__cov") * sphereRadius * covDeflate
        done ::= cand.filter(ok).drop("__cov", "__cnt", "__kth")
        val next = remaining
          .join(cand.filter(ok).select(qId), Seq(qId), "left_anti")
          .persist(StorageLevel.MEMORY_AND_DISK)
        persisted += next
        remaining = if (next.isEmpty) null else {
          // stragglers shrink geometrically; once few enough that one
          // wrap-block pass (every data cell probed — still a cell
          // equi-join, the data side is never cross-joined or
          // re-shuffled) stays under the pair budget, jump straight to
          // the terminal instead of paying the remaining ladder steps'
          // fixed per-step stage cost. count() here is free — isEmpty
          // above already materialized the persisted frame.
          if (pairBudgetOk(next.count(), dataCount, bruteForceThreshold))
            stepList = stepList.filter { case (sl, sr) =>
              CellIndex.coverageLowerBound(sl, sr) == math.Pi }
          next
        }
      }
    }
    val result = done.reduce(_ unionByName _).persist(StorageLevel.MEMORY_AND_DISK)
    result.count() // materialize before releasing the intermediates
    persisted.foreach(_.unpersist(blocking = false))
    result
  }

  /** Size estimates from Catalyst statistics: metadata only, never a
    * job over the data (a count() pre-pass would add a full-table scan
    * per call at 100 TB). Rows are the plan's rowCount when it has
    * one, else sizeInBytes / row width. Both only steer COST choices
    * (kernel or distributed path, auto level), never correctness.
    */
  private def estRows(df: DataFrame): Long = {
    val plan = df.queryExecution.optimizedPlan
    plan.stats.rowCount.map(_.min(BigInt(Long.MaxValue)).toLong).getOrElse {
      val width = math.max(8L, plan.schema.map(_.dataType.defaultSize).sum.toLong)
      (plan.stats.sizeInBytes.min(BigInt(Long.MaxValue)) / width).toLong
    }
  }

  private def estBytes(df: DataFrame): BigInt = df.queryExecution.optimizedPlan.stats.sizeInBytes

  /** [[knnJoin]]'s small-data path: the data side collected in `dId`
    * order (rows with a null position dropped), its n-vectors as one
    * flat plan literal scanned by [[graft.functions.GeoKernels.knnScan]]
    * per query row, and the hits joined back to the data payload by
    * their index through a broadcast local relation. Index order is
    * `dId` order, so the kernel's (distance, index) ties break as the
    * ring path's (distance, `dId`) window does.
    */
  private def knnScanJoin(queries: DataFrame, data: DataFrame,
                          qNvec: String, dNvec: String, dId: String, k: Int,
                          sphereRadius: Double, distCol: String,
                          geodesicReRank: Boolean, covDeflate: Double): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.catalyst.expressions.RowOrdering
    import org.apache.spark.sql.catalyst.InternalRow
    val n = col(dNvec)
    val idPos = data.schema.fieldIndex(dId)
    val idType = data.schema(idPos).dataType
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(idType)
    // Spark's own ascending order of the id type (what the ring
    // path's rank window sorts by), applied on the driver
    val rows = data
      .filter(geo.vx(n).isNotNull && geo.vy(n).isNotNull && geo.vz(n).isNotNull)
      .collect()
      .sortBy(r => InternalRow(toCatalyst(r.get(idPos))))(
        RowOrdering.createNaturalAscendingOrdering(Seq(idType)))
    val nPos = data.schema.fieldIndex(dNvec)
    val flat = rows.flatMap { r =>
      val v = r.getStruct(nPos)
      Array(v.getAs[Double]("x"), v.getAs[Double]("y"), v.getAs[Double]("z"))
    }
    val payload = queries.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows.indices.map(i => Row.fromSeq(rows(i).toSeq :+ i)): _*),
      data.schema.add("__idx", IntegerType, nullable = false))
    val e = Ellipsoids.WGS84
    val hitType = ArrayType(StructType(Seq(
      StructField("idx", IntegerType, nullable = false),
      StructField("gc", DoubleType, nullable = false),
      StructField("geod", DoubleType, nullable = false))), containsNull = false)
    val q = col(qNvec)
    val scan = GraftSqlBridge.staticInvoke(
      Class.forName("graft.functions.GeoKernels"), hitType, "knnScan",
      Seq(geo.vx(q), geo.vy(q), geo.vz(q), flatLiteral(flat), lit(k), lit(sphereRadius),
        lit(geodesicReRank), lit(covDeflate), lit(e.a), lit(e.f)),
      Seq(DoubleType, DoubleType, DoubleType, ArrayType(DoubleType, containsNull = false),
        IntegerType, DoubleType, BooleanType, DoubleType, DoubleType, DoubleType))
    val hits = queries.select(col("*"), posexplode(scan).as(Seq("__pos", "__hit")))
    hits.join(broadcast(payload), hits("__hit.idx") === payload("__idx"))
      .select(queries.columns.toSeq.map(hits(_)) ++ data.columns.map(payload(_)) ++
        Seq(hits("__hit.gc").as(distCol), (hits("__pos") + 1).as("rank")) ++
        (if (geodesicReRank) Seq(hits("__hit.geod").as("geodesic_m")) else Nil): _*)
  }

  /** A dense double array as one plan literal in unsafe layout (the
    * kernels read it without unboxing).
    */
  private def flatLiteral(flat: Array[Double]): Column = {
    import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
    GraftSqlBridge.column(Literal(
      UnsafeArrayData.fromPrimitiveArray(flat), ArrayType(DoubleType, containsNull = false)))
  }

  /** Exact k-nearest-landmarks for every row, against a SMALL
    * in-memory landmark set ((id, nvec) pairs — reference points,
    * beacons, POI anchors): one scalar kernel scan per row
    * ([[graft.functions.GeoKernels.knnLandmarks]]), landmarks riding
    * as plan literals. Stateless and shuffle-free — the plan is a
    * single projection, so it runs unchanged over batch frames AND
    * `readStream` micro-batches in append mode, which makes it the
    * STREAMING kNN path (the iterative-escalation [[knnJoin]] needs
    * driver-side materialization and rank windows, neither of which a
    * stream supports). Use for |landmarks| up to a few thousand;
    * beyond that, index the landmark side and use [[knnJoin]].
    *
    * Output: input columns + (`rank` 1..k, `lm_id`, distCol), ordered
    * by (distance, lm_id) per row — identical semantics to
    * [[knnJoin]] with the same spherical metric and tie-break.
    */
  def knnLandmarks(points: DataFrame, nvecCol: String,
                   landmarks: Seq[(Long, Vec3)], k: Int,
                   sphereRadius: Double = MeanEarthRadius,
                   distCol: String = "dist_m"): DataFrame = {
    require(landmarks.nonEmpty, "landmarks must be non-empty")
    require(k >= 1, s"k must be >= 1 (got $k)")
    // id order: the kernel breaks distance ties by position
    val sorted = landmarks.sortBy(_._1)
    val ids = typedlit(sorted.map(_._1))
    val flat = flatLiteral(sorted.flatMap { case (_, v) => Array(v.x, v.y, v.z) }.toArray)
    val outType = ArrayType(StructType(Seq(
      StructField("lm_id", LongType, nullable = false),
      StructField(distCol, DoubleType, nullable = false))), containsNull = false)
    val topk = GraftSqlBridge.staticInvoke(
      Class.forName("graft.functions.GeoKernels"), outType, "knnLandmarks",
      Seq(col(nvecCol).getField("x"), col(nvecCol).getField("y"),
        col(nvecCol).getField("z"), ids, flat, lit(k), lit(sphereRadius)),
      Seq(DoubleType, DoubleType, DoubleType,
        ArrayType(LongType, containsNull = false),
        ArrayType(DoubleType, containsNull = false), IntegerType, DoubleType))
    points.select(col("*"), posexplode(topk).as(Seq("__pos", "__knn")))
      .withColumn("rank", col("__pos") + 1)
      .withColumn("lm_id", col("__knn").getField("lm_id"))
      .withColumn(distCol, col("__knn").getField(distCol))
      .drop("__pos", "__knn")
  }

  /** Assign points to AOI polygons: [[aoiJoinM]] over the one-ring
    * views. Output: point columns + `aoi_id` (inner join semantics —
    * points in no AOI drop out; use a later left join on the result
    * for audits).
    */
  def aoiJoin(points: DataFrame, pointNvec: String, aois: Seq[Aoi]): DataFrame =
    aoiJoinM(points, pointNvec, aois.map(_.asRings))

  /** Buffered AOI join: [[aoiBufferJoinM]] over the one-ring views —
    * points within `bufferMeters` of each AOI, the polygon DILATED by
    * the buffer (a point inside counts at any buffer >= 0). Output:
    * point columns + `aoi_id` + signed `distCol` (negative inside, as
    * [[aoiBoundaryDistance]]).
    */
  def aoiBufferJoin(points: DataFrame, pointNvec: String, aois: Seq[Aoi],
                    bufferMeters: Double,
                    radius: Double = MeanEarthRadius,
                    distCol: String = "dist_m"): DataFrame =
    aoiBufferJoinM(points, pointNvec, aois.map(_.asRings), bufferMeters, radius, distCol)

  /** Signed great-circle distance from every point to each AOI's
    * BOUNDARY: [[aoiBoundaryDistanceM]] over the one-ring views.
    */
  def aoiBoundaryDistance(points: DataFrame, pointNvec: String,
                          aois: Seq[Aoi],
                          radius: Double = MeanEarthRadius,
                          distCol: String = "dist_m"): DataFrame =
    aoiBoundaryDistanceM(points, pointNvec, aois.map(_.asRings), radius, distCol)

  /** The literal AOI set as an (aoi_id, __rings) frame of ring-list
    * encodings, after the hemisphere contract of the winding test is
    * checked on every ring. A local relation: joins against it
    * broadcast by size.
    */
  private[graft] def aoiRingsFrame(spark: SparkSession, aois: Seq[AoiM]): DataFrame = {
    require(aois.nonEmpty)
    aois.foreach(_.validated)
    import spark.implicits._
    aois.map(a => (a.id, a.flatRings.toSeq)).toDF("aoi_id", "__rings")
  }

  /** A literal AOI list as the kernel path's polygon set (see
    * [[PolygonSet]]), built on the driver with no job. Each AOI passes
    * `validated` first, so a bad ring fails with its AOI's name rather
    * than in the cover kernel.
    */
  private def aoiPolygonSet(aois: Seq[AoiM], extraRad: Double): PolygonSet = {
    require(aois.nonEmpty)
    PolygonSet(StructField("aoi_id", StringType), aois.map { a =>
      val flat = a.validated.flatRings
      (a.id, flat, CellKernels.ringCoverCells(new GenericArrayData(flat), extraRad).toLongArray())
    })
  }

  /** Assign points to multipolygon / polygon-with-holes AOIs: one
    * kernel scan per point over the AOIs' covers ([[containsScan]]),
    * the exact winding test on each candidate — one output row per
    * (point, AOI) whose EVEN-ODD ring containment holds. Output:
    * `aoi_id` + point columns.
    */
  def aoiJoinM(points: DataFrame, pointNvec: String, aois: Seq[AoiM]): DataFrame =
    containsScan(points, pointNvec, aoiPolygonSet(aois, 0.0))

  /** Buffered multipolygon AOI join: points within `bufferMeters` of
    * the AOI (negative signed distance = inside; a hole's rim is
    * boundary, so a point deep inside a hole is NOT within a small
    * buffer). Same candidates as [[aoiJoinM]], covers grown by the
    * buffer angle; the exact predicate is one boundary-distance
    * kernel call per surviving candidate.
    */
  def aoiBufferJoinM(points: DataFrame, pointNvec: String, aois: Seq[AoiM],
                     bufferMeters: Double,
                     radius: Double = MeanEarthRadius,
                     distCol: String = "dist_m"): DataFrame = {
    require(bufferMeters >= 0.0, s"buffer must be >= 0 (got $bufferMeters)")
    bufferScan(points, pointNvec, aoiPolygonSet(aois, bufferMeters / radius),
      bufferMeters, radius, distCol, ringsNullable = true)
  }

  /** Signed great-circle distance from every point to each AOI's
    * BOUNDARY — the nearest edge of ANY ring, hole rims included —
    * negative when even-odd containment holds, positive outside (the
    * buffer/erosion primitive: `dist_m <= b` selects the AOI dilated
    * by b, `dist_m <= -b` the AOI eroded by b). One output row per
    * (point, AOI).
    *
    * Scale shape: AOIs are a small literal list by contract; each
    * point row makes ONE JITed kernel call per AOI
    * (CellKernels.boundaryDistSignedRings — min over clamped per-edge
    * segment distances + the winding inside test), so the whole
    * operator is map-only: a union of narrow projections, no join, no
    * shuffle, nothing collected. For thousands of AOIs use the
    * cover-pruned [[polygonBufferJoin]] over an AOI table instead.
    */
  def aoiBoundaryDistanceM(points: DataFrame, pointNvec: String,
                           aois: Seq[AoiM],
                           radius: Double = MeanEarthRadius,
                           distCol: String = "dist_m"): DataFrame = {
    require(aois.nonEmpty)
    aois.foreach(_.validated)
    aois.map { a =>
      points.withColumn("aoi_id", lit(a.id))
        .withColumn(distCol,
          cells.boundaryDistSignedRings(col(pointNvec),
            typedLit(a.flatRings.toSeq)) * lit(radius))
    }.reduce(_ unionByName _)
  }

  /** An open polyline for snapping: (latDeg, lonDeg) vertices in
    * order. The map-matching primitive's "road".
    */
  case class Route(id: String, verts: Seq[(Double, Double)]) {
    require(verts.length >= 2, s"route '$id' needs >= 2 vertices")
    def flatVerts: Seq[Double] = CellIndex.flatNvecs(verts).toSeq
  }

  /** Snap every point to the nearest segment over a literal set of
    * routes (map-matching-lite): output = point columns + `route_id`
    * + `seg` (0-based segment ordinal) + `dist_m` + `snap_n` (the
    * clamped closest point on that segment). Ties break to the
    * smaller (route id, segment ordinal).
    *
    * Scale shape: MAP-ONLY — one JITed [[cells.snapToPolyline]]
    * kernel call per (point, route) inside a single projection, with
    * the winner chosen by `least` over (dist, route) structs; no
    * shuffle, no window, no join. Routes are plan literals like the
    * AOI joins — for route sets too large to inline, cell-index the
    * route segments and equi-join instead.
    */
  def snapToRoutes(points: DataFrame, pointNvec: String,
                   routes: Seq[Route],
                   radius: Double = MeanEarthRadius): DataFrame = {
    require(routes.nonEmpty)
    require(routes.map(_.id).distinct.length == routes.length,
      "route ids must be unique")
    val cands = routes.sortBy(_.id).map { r =>
      val s = cells.snapToPolyline(col(pointNvec),
        array(r.flatVerts.map(lit): _*))
      struct(s.getField("dist").as("dist"), lit(r.id).as("route_id"),
        s.getField("seg").as("seg"), s.getField("fx").as("fx"),
        s.getField("fy").as("fy"), s.getField("fz").as("fz"))
    }
    val withBest = points.withColumn("__best",
      if (cands.length == 1) cands.head else least(cands: _*))
    withBest.select(points.columns.map(col) ++ Seq(
      col("__best.route_id").as("route_id"),
      col("__best.seg").as("seg"),
      (col("__best.dist") * lit(radius)).as("dist_m"),
      geo.vec(col("__best.fx"), col("__best.fy"), col("__best.fz"))
        .as("snap_n")): _*)
  }

  /** Geodesic CORRIDOR join — points within `bufferMeters` of any
    * route polyline, with routes as a TABLE (the lift of
    * [[snapToRoutes]]' literal route set to arbitrarily many routes):
    * one output row per (point, route) in reach, carrying the exact
    * min distance over the route's segments.
    *
    * Scale shape: each route subdivides into corridor PIECES of arc
    * <= 2 * pieceFactor * bufferAngle (a distributed kernel explode —
    * no driver materialization), each piece emits its disc cover
    * cells at a level sized so a piece's cover is a few dozen cells,
    * and points equi-join the cover on their own cell id. The exact
    * predicate then runs against the ORIGINAL segment endpoints the
    * piece carries (identical arithmetic to a per-segment SQL
    * mirror — subdivision steers only candidate generation), and a
    * final (point, route) min-aggregation collapses piece
    * multiplicity map-side. Never all points x all segments; a
    * point's candidates are the pieces whose corridor disc holds its
    * cell.
    *
    * Cover proof: every point within buffer of a piece lies within
    * d(p, q in piece) + d(q, mid) <= bufferAngle + pieceArc/2 of the
    * piece's slerp midpoint, and the cover disc uses exactly that
    * radius bound.
    *
    * @param routes table of (routeIdCol, vertsCol) with vertsCol a
    *   flat [x0,y0,z0,x1,...] n-vector array (>= 2 vertices; build
    *   literals with [[graft.index.cells.polygonLiteral]]).
    * @param pieceFactor piece arc bound as a multiple of the buffer
    *   angle — larger = fewer pieces but looser covers.
    */
  def corridorJoin(points: DataFrame, pointNvec: String, pointId: String,
                   routes: DataFrame, routeIdCol: String, vertsCol: String,
                   bufferMeters: Double,
                   radius: Double = MeanEarthRadius,
                   pieceFactor: Double = 4.0,
                   distCol: String = "dist_m"): DataFrame = {
    require(bufferMeters > 0.0, s"buffer must be > 0 (got $bufferMeters)")
    require(pieceFactor > 0.0, s"pieceFactor must be > 0 (got $pieceFactor)")
    val bufAngle = bufferMeters / radius
    val maxPiece = 2.0 * pieceFactor * bufAngle
    val coverAngle = math.min(math.Pi, maxPiece / 2.0 + bufAngle)
    // the polygon ring covers' sizing rule: ~96 cells per piece disc
    val level = CellIndex.discCoverLevel(coverAngle)
    def pc(i: Int) = element_at(col("__p"), i)
    // endpoints ride as FLAT doubles and the exact predicate is ONE
    // JITed kernel call (cells.segDist), a single plan node per piece
    val pieces = routes
      .select(col(routeIdCol), explode(cells.corridorPieces(col(vertsCol), maxPiece)).as("__p"))
      .select(col(routeIdCol),
        pc(2).as("__ax"), pc(3).as("__ay"), pc(4).as("__az"),
        pc(5).as("__bx"), pc(6).as("__by"), pc(7).as("__bz"),
        geo.vec(pc(8), pc(9), pc(10)).as("__sm"))
    val covers = pieces.withColumn("__cell",
      explode(cells.capCells(col("__sm"), level, coverAngle)))
      .drop("__sm")
    points.select(col(pointId), col(pointNvec))
      .withColumn("__cell", cells.cellAt(col(pointNvec), level))
      .join(covers, "__cell")
      .withColumn(distCol,
        cells.segDist(col(pointNvec),
          geo.vec(col("__ax"), col("__ay"), col("__az")),
          geo.vec(col("__bx"), col("__by"), col("__bz"))) * lit(radius))
      .filter(col(distCol) <= bufferMeters)
      .groupBy(col(pointId), col(routeIdCol))
      .agg(min(col(distCol)).as(distCol))
  }

  /** Route-route INTERSECTION join between two polyline TABLES: one
    * row per (aId, bId) pair whose geodesic polylines share a point —
    * some minor-arc segment of one crossing or touching a segment of
    * the other ([[cells.segsCross]], the exact crossing predicate of
    * ringsIntersect per segment pair).
    *
    * Scale shape: each side splits into corridor pieces of at most
    * `pieceMeters` arc (cells.corridorPieces) and candidates come
    * from an ASYMMETRIC cap-vs-cell equi-join (the corridorJoin
    * pattern, made exactly-once): a crossing point lies on a piece
    * of each side, hence within maxPiece/2 of BOTH piece midpoints,
    * so the two midpoints sit within maxPiece of each other — the A
    * side covers each piece midpoint's cap of radius maxPiece (~96
    * cells at the level the sizing rule picks for that disc), the B
    * side emits ONE row per piece: its midpoint's own cell at the
    * same level. The B cell's safe lower-bound distance to the A
    * midpoint is <= the midpoint distance <= maxPiece, so it is in
    * the A cap cover — candidates are complete; and since a cap
    * cover's cells are distinct while B contributes a single cell,
    * each (A piece, B piece) pair joins AT MOST ONCE — no cell-grain
    * duplicate hits at all (the symmetric two-sided cover this
    * replaces multiplied every pair by its shared-cell count), and
    * the B-side fan-out is one slim row per piece instead of ~96.
    * The fan-out rows are SLIM — (id, segment index, cell) only;
    * segment endpoints rejoin per candidate — so the cover
    * sort/shuffle volume is the cell count, not cells x endpoint
    * payload. The exact predicate runs on the ORIGINAL segment
    * endpoints (pieces only add the cover midpoint), so piece
    * granularity moves cost, never correctness; piece multiplicity
    * collapses at the (aId, aSeg, bId, bSeg) grain before the kernel
    * runs, the final distinct at (aId, bId) — both bounded by
    * candidate pairs, not the id cross product. No driver-side
    * values at all — the level is computed from the constant piece
    * angle, so either side empty just yields the typed empty result
    * through the ordinary join.
    *
    * `orderedPairs = true` (for SELF joins where only a < b pairs are
    * wanted) applies `aIdCol < bIdCol` at the candidate grain —
    * before the dedups and the kernel — halving the downstream work;
    * the result is exactly the symmetric result filtered to a < b.
    *
    * Contract: a fully DEGENERATE polyline (every vertex coincident)
    * spans no arc and never matches — its point piece fails the
    * crossing predicate by the degenerate-edge rule; route tables
    * with point rows should pre-filter or route them through
    * [[corridorJoin]] with a radius instead. Segments whose endpoints
    * are (near-)ANTIPODAL (within ~1e-12 of pi apart) are likewise a
    * caller bug, the same domain as segDistRad: no unique great
    * circle exists, corridorPieces' linear-blend/perpendicular
    * midpoint fallback can sit far from the piece, and the
    * maxPiece/2 cover-completeness proof does not hold for them —
    * pre-split such segments before joining. Column names of the two
    * sides must be disjoint.
    */
  def routeIntersectJoin(aRoutes: DataFrame, aIdCol: String, aVertsCol: String,
                         bRoutes: DataFrame, bIdCol: String, bVertsCol: String,
                         pieceMeters: Double = 250e3,
                         radius: Double = MeanEarthRadius,
                         orderedPairs: Boolean = false): DataFrame = {
    require(pieceMeters > 0.0, s"pieceMeters must be > 0 (got $pieceMeters)")
    val maxPiece = math.min(math.Pi, pieceMeters / radius)
    // 1e-9 relative slack absorbs the slerp midpoints' rounding (both
    // sides') so two pieces crossing with midpoints at exactly
    // maxPiece apart still key the same cell/cap
    val coverAngle = math.min(math.Pi, maxPiece * (1.0 + 1e-9))
    // corridorJoin's sizing formula but targeting ~8 cells per A-side
    // cap disc, NOT ~96: the 96 rule suits point-probe joins, where
    // the probe side is huge (one cell per point) and every false
    // candidate pays a kernel call on a wide payload row — fine cells
    // are worth their cover volume there. Here BOTH sides are piece
    // grain, false candidates are slim 4-column id rows collapsed
    // before the kernel, and the cover explode dominates the cost:
    // measured on the 3k-route sf0.1 gate, level 7 (the 96 rule) =
    // 7.2M cover rows / 1.36M candidates, level 5 (this rule) = 0.64M
    // cover rows / 1.98M candidates — the coarser cover more than
    // halves the join's total row volume. Both levels are exact; the
    // level moves only cost (candidate slop scales with the same
    // piece density as the true pairs, so the ratio holds at scale).
    val level = {
      val discArea = 2.0 * math.Pi * (1.0 - math.cos(math.max(coverAngle, 1e-6)))
      val l = (0.5 * (math.log(8.0 * 4.0 * math.Pi / (6.0 * discArea)) /
        math.log(2.0))).ceil.toInt
      math.max(2, math.min(CellIndex.MaxLevel, l))
    }
    def pc(i: Int) = element_at(col("__p"), i)
    // the cell fan-out carries ONLY (id, segment index, cell) — the
    // six endpoint doubles would triple the sorted/shuffled cover
    // volume (an 800k-route probe OOMed the cover sort at the default
    // 8g with endpoints riding the explode); candidates collapse at
    // the slim (aId, aSeg, bId, bSeg) grain so the crossing kernel
    // runs once per segment pair, then endpoints rejoin by (id, seg).
    // The predicate stays ONE JITed kernel call over flat doubles —
    // the corridorJoin NestedColumnAliasing note applies verbatim.
    //
    // Endpoints come from a ONE-piece-per-segment corridorPieces pass
    // (maxPieceRad = pi): same per-segment emission rule and the same
    // degenerate-polyline fallback as the subdividing pass, so the
    // joined (id, seg) keys and endpoint doubles are identical — and
    // being one row per segment, it needs no dropDuplicates and does
    // not re-run the subdividing explode (the old plan executed it
    // twice per side).
    def segsOf(df: DataFrame, idCol: String, vertsCol: String, tag: String) =
      df.select(col(idCol),
        explode(cells.corridorPieces(col(vertsCol), math.Pi)).as("__p"))
        .select(col(idCol),
          pc(1).cast("int").as(s"__${tag}seg"),
          pc(2).as(s"__${tag}ax"), pc(3).as(s"__${tag}ay"), pc(4).as(s"__${tag}az"),
          pc(5).as(s"__${tag}bx"), pc(6).as(s"__${tag}by"), pc(7).as(s"__${tag}bz"))
    val coverA = aRoutes.select(col(aIdCol),
        explode(cells.corridorPieces(col(aVertsCol), maxPiece)).as("__p"))
      .select(col(aIdCol), pc(1).cast("int").as("__aseg"),
        explode(cells.capCells(geo.vec(pc(8), pc(9), pc(10)), level, coverAngle))
          .as("__cell"))
    val keyB = bRoutes.select(col(bIdCol),
        explode(cells.corridorPieces(col(bVertsCol), maxPiece)).as("__p"))
      .select(col(bIdCol), pc(1).cast("int").as("__bseg"),
        cells.cellAt(geo.vec(pc(8), pc(9), pc(10)), level).as("__cell"))
    val cand0 = coverA.join(keyB, "__cell")
    val cand = if (orderedPairs) cand0.filter(col(aIdCol) < col(bIdCol)) else cand0
    cand
      .select(col(aIdCol), col("__aseg"), col(bIdCol), col("__bseg"))
      .dropDuplicates(aIdCol, "__aseg", bIdCol, "__bseg")
      .join(segsOf(aRoutes, aIdCol, aVertsCol, "a"), Seq(aIdCol, "__aseg"))
      .join(segsOf(bRoutes, bIdCol, bVertsCol, "b"), Seq(bIdCol, "__bseg"))
      .filter(cells.segsCross(
        geo.vec(col("__aax"), col("__aay"), col("__aaz")),
        geo.vec(col("__abx"), col("__aby"), col("__abz")),
        geo.vec(col("__bax"), col("__bay"), col("__baz")),
        geo.vec(col("__bbx"), col("__bby"), col("__bbz"))))
      .select(col(aIdCol), col(bIdCol))
      .dropDuplicates(aIdCol, bIdCol)
  }

  /** Distinct, per-polygon ANCESTOR-FREE cover (no cover cell
    * contains another of the same polygon): a cell whose proper
    * ancestor at a coarser cover level is also in the cover is
    * dropped. Completeness holds — a point keying the dropped cell
    * keys the surviving ancestor at that ancestor's own level — and
    * a point's per-level cells can then hit at most ONE cover cell
    * per polygon (one cell per level, and a cross-level double hit
    * would force the finer cover cell inside the coarser one, which
    * ancestor-freeness excludes). This makes the candidate equi-join
    * exactly-once per (point, polygon) BY CONSTRUCTION: no
    * candidates-sized dedup shuffle in batch, no keyed dedup state
    * in streaming — the pruning self-join is cells-only (~96 cells
    * per ring), orders of magnitude below the candidate volume it
    * replaces.
    */
  private[graft] def ancestorFreeCover(polysN: DataFrame, polyIdCol: String,
                                       ringsCol: String, extraRad: Double,
                                       levels: Array[Int]): DataFrame = {
    // SINGLE-RING polygons (the common case — parcels, blocks, admin
    // areas without holes) already have a distinct, single-level,
    // trivially ancestor-free cover: keep them as a pure map-side
    // explode with NO shuffle, exactly the pre-pruning plan. Only
    // multi-ring rows (holes/multipolygons, whose rings can overlap
    // within a level and nest across levels) pay the distinct +
    // pruning machinery — measured: pruning everything cost a flat
    // ~7.5 s on a 20k-polygon table of single-ring quads.
    val ringCount = col(ringsCol).getItem(0)
    val simple = polysN
      .filter(col(ringsCol).isNotNull && ringCount === 1.0)
      .select(col(polyIdCol),
        explode(cells.ringCoverCells(col(ringsCol), extraRad)).as("__cell"))
    val cover0 = polysN
      .filter(col(ringsCol).isNotNull && ringCount =!= 1.0)
      .select(col(polyIdCol),
        explode(cells.ringCoverCells(col(ringsCol), extraRad)).as("__cell"))
      .distinct()
    val pruned =
      if (levels.length <= 1) cover0 // one global level: nothing nests
      else {
        val contained = cover0
          .withColumn("__anc", explode(array(levels.toSeq.map(l =>
            when(cells.cellLevel(col("__cell")) > l,
              cells.ancestorAt(col("__cell"), l))): _*)))
          .filter(col("__anc").isNotNull)
          .join(cover0.select(col(polyIdCol), col("__cell").as("__anc")),
            Seq(polyIdCol, "__anc"), "left_semi")
          .select(col(polyIdCol), col("__cell"))
        cover0.join(contained, Seq(polyIdCol, "__cell"), "left_anti")
      }
    simple.unionByName(pruned)
  }

  /** Candidate machinery of the cover path of the polygon-TABLE joins: each
    * polygon row emits its mixed-level ring-circumdisc cover
    * ([[cells.ringCoverCells]] — every ring at its OWN ~96-cell
    * level, so a continent and a city block in the same table each
    * get a proportionate cover), points emit one cell id per
    * DISTINCT cover level (levels ride inside the cell id, so mixed
    * levels still equi-join on the single cell key), the cover is
    * [[ancestorFreeCover]] so each (point, polygon) candidate arises
    * exactly once — no dedup shuffle — and the ring encodings join
    * back by polygon id (AQE broadcasts small polygon tables).
    *
    * The distinct level list is the only driver-side value: <= 25
    * ints off the cheap levels-only kernel pass over the table. This
    * is the path of polygon tables above [[smallPolygonSide]]'s gate
    * and of the stream-static join; small sets and literal AOI lists
    * take [[containsScan]] / [[bufferScan]]. Cover proof: rings
    * pass the hemisphere contract (kernel-enforced, throwing — table
    * rows have no construction-time `validated` hook), so each
    * ring's interior stays inside its circumdisc (geodesic balls of
    * radius < pi/2 are convex); an even-odd-contained point is
    * inside some ring's hull, a buffered point within extra of some
    * ring's boundary — either way inside that ring's grown disc.
    * Rows with null rings / null point positions drop out (no cover
    * cells / no cell key). Column names of `points` and `polys`
    * must be disjoint. Output: `polyIdCol` + point columns +
    * `ringsCol`.
    *
    * `persistCover` keeps the cells-only cover cached (MEMORY_AND_DISK,
    * until the SparkSession drops it) for a stream-static join, whose
    * static side re-executes every micro-batch.
    */
  private def polygonCandidates(points: DataFrame, pointNvec: String,
                                polys: DataFrame, polyIdCol: String,
                                ringsCol: String, extraRad: Double,
                                persistCover: Boolean): DataFrame = {
    val polysN = polys.select(col(polyIdCol), col(ringsCol))
    val levels = polysN
      .select(explode(cells.ringCoverLevels(col(ringsCol), extraRad)).as("__l"))
      .distinct().collect().map(_.getInt(0)).sorted
    val cover0 = ancestorFreeCover(polysN, polyIdCol, ringsCol, extraRad, levels)
    val cover = if (persistCover) cover0.persist(StorageLevel.MEMORY_AND_DISK) else cover0
    // An empty polygon table (or all-null rings) is a legitimate
    // filtered state, not a contract violation: a null cell key never
    // equi-joins, so the same chain yields the correctly-typed empty
    // result instead of throwing mid-pipeline.
    val pointCell: Column =
      if (levels.isEmpty) lit(null).cast("long")
      else explode(array(levels.map(l => cells.cellAt(col(pointNvec), l)): _*))
    points
      .withColumn("__cell", pointCell)
      .join(cover, "__cell") // exactly-once per (point, polygon): see ancestorFreeCover
      .join(polysN, polyIdCol)
      .drop("__cell")
  }

  /** The polygon table is small enough to ship to every task as plan
    * literals, by Catalyst statistics (no job): at most 10,000
    * estimated rows and 16 MB. A one-ring polygon covers ~96 cells of
    * 12 shipped bytes each (cell id and polygon index), so 10,000 rows
    * ship ~12 MB of cover, and the byte bound caps the ring encodings
    * the driver collects and every task deserializes once. Above that,
    * the distributed cover's shuffle costs less than the literal.
    */
  private def smallPolygonSide(polysN: DataFrame): Boolean =
    estRows(polysN) <= 10000L && estBytes(polysN) <= (16L << 20)

  /** A small polygon set for [[containsScan]] and [[bufferScan]]:
    * per polygon its id (an external value of `idField`'s type), its
    * ring-list encoding and its cover cells ([[cells.ringCoverCells]]
    * at the join's grown radius).
    */
  private final case class PolygonSet(idField: StructField,
                                      polys: Seq[(Any, Array[Double], Array[Long])])

  /** A two-column (id, rings) polygon table as a [[PolygonSet]],
    * collected in one job. The covers are computed in that job's
    * tasks (an RDD map, which the optimizer cannot fold into a local
    * table on the driver), so a ring breaking the hemisphere contract
    * throws there as a SparkException, as on the cover path. Rows
    * with null rings or a null id drop out, as they join nothing on
    * the cover path.
    */
  private def collectPolygonSet(polysN: DataFrame, ringsCol: String,
                                extraRad: Double): PolygonSet =
    PolygonSet(polysN.schema.head, polysN.filter(col(ringsCol).isNotNull).rdd
      .map { r =>
        val rings = r.getSeq[Double](1).toArray
        (r.get(0), rings,
          CellKernels.ringCoverCells(new GenericArrayData(rings), extraRad).toLongArray())
      }
      .collect().filter(_._1 != null).toSeq)

  /** A primitive JVM array as a plan literal that a kernel receives as
    * the array itself: it ships with the task and is read in place,
    * never copied per row.
    */
  private def arrayLiteral(a: AnyRef): Column =
    GraftSqlBridge.column(Literal(a, ObjectType(a.getClass)))

  /** `c` with the given nullability, so a kernel-path column carries
    * the same schema as the cover path's.
    */
  private def withNullable(c: Column, nullable: Boolean): Column = {
    val e = GraftSqlBridge.expression(c)
    GraftSqlBridge.column(if (nullable) KnownNullable(e) else KnownNotNull(e))
  }

  /** The kernel path of the polygon joins: one `kernel` call
    * ([[CellKernels.pipScan]] or `pipBufferScan`) per point row over
    * the set shipped as plan literals — the distinct cover levels, the
    * sorted cover cells with a parallel array of polygon indices, the
    * concatenated ring-list encodings and their offsets — and one row
    * per hit, its polygon id looked up in an id array literal. No
    * levels job, no cover equi-join and no shuffle of the points. The
    * cover cells are each polygon's full [[cells.ringCoverCells]],
    * which the cover path's ancestor-free pruning only thins, so the
    * candidates, and under the same exact kernel the output rows,
    * equal the cover path's. Null point positions match nothing.
    * Output: the polygon id + point columns + `__hit`, the hit with
    * its index at `hitIdx`.
    */
  private def scanPolygonSet(points: DataFrame, pointNvec: String, set: PolygonSet,
                             kernel: String, hitType: DataType, hitIdx: String): DataFrame = {
    val polys = set.polys
    val rings = polys.flatMap(_._2).toArray
    val offsets = polys.scanLeft(0)(_ + _._2.length).init.toArray
    val cover = polys.indices.flatMap(i => polys(i)._3.map(c => (c, i))).sorted
    val coverCells = cover.map(_._1).toArray
    val literals = Seq[AnyRef](coverCells.map(CellIndex.levelOf).distinct.sorted,
      coverCells, cover.map(_._2).toArray, rings, offsets)
    val n = col(pointNvec)
    val scan = GraftSqlBridge.staticInvoke(Class.forName("graft.index.CellKernels"), hitType,
      kernel, Seq(geo.vx(n), geo.vy(n), geo.vz(n)) ++ literals.map(arrayLiteral),
      Seq(DoubleType, DoubleType, DoubleType) ++ literals.map(a => ObjectType(a.getClass)))
    val idType = set.idField.dataType
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(idType)
    val ids = Literal(new GenericArrayData(polys.map(p => toCatalyst(p._1)).toArray),
      ArrayType(idType, containsNull = false))
    val id = GraftSqlBridge.column(GetArrayItem(ids, GraftSqlBridge.expression(col(hitIdx))))
    points.select(col("*"), explode(scan).as("__hit"))
      .select(withNullable(id, set.idField.nullable).as(set.idField.name), col("*"))
  }

  /** Containment over a small polygon set ([[polygonJoin]] under the
    * gate, [[aoiJoinM]]): [[scanPolygonSet]] with
    * [[CellKernels.pipScan]]. Output: the polygon id + point columns.
    */
  private def containsScan(points: DataFrame, pointNvec: String, set: PolygonSet): DataFrame =
    scanPolygonSet(points, pointNvec, set, "pipScan",
      ArrayType(IntegerType, containsNull = false), "__hit").drop("__hit")

  /** The buffered join over a small polygon set ([[polygonBufferJoin]]
    * under the gate, [[aoiBufferJoinM]]): [[scanPolygonSet]] with
    * [[CellKernels.pipBufferScan]], the signed distance scaled by
    * `radius` in Spark as on the cover path, so `distCol` is
    * bit-identical. `distCol` is nullable as the cover path's kernel
    * column is: when the rings or the point's coordinates are.
    * Output: the polygon id + point columns + `distCol`.
    */
  private def bufferScan(points: DataFrame, pointNvec: String, set: PolygonSet,
                         bufferMeters: Double, radius: Double, distCol: String,
                         ringsNullable: Boolean): DataFrame = {
    val n = col(pointNvec)
    val distNullable = ringsNullable ||
      points.select(geo.vx(n), geo.vy(n), geo.vz(n)).schema.exists(_.nullable)
    val hitType = ArrayType(StructType(Seq(
      StructField("idx", IntegerType, nullable = false),
      StructField("d", DoubleType, nullable = false))), containsNull = false)
    scanPolygonSet(points, pointNvec, set, "pipBufferScan", hitType, "__hit.idx")
      .withColumn(distCol, withNullable(col("__hit.d") * lit(radius), distNullable))
      .filter(col(distCol) <= bufferMeters)
      .drop("__hit")
  }

  /** The cover path of the containment joins: [[polygonCandidates]]
    * then ONE [[cells.pointInPolygonRings]] kernel call per candidate.
    * [[polygonJoin]] takes it for polygon tables above
    * [[smallPolygonSide]]'s gate, and the stream-static
    * [[graft.streaming.GeoStreams.polygonJoinStream]] always (with
    * `persistCover`: its static side re-executes every micro-batch,
    * which a driver collect would freeze). Output: `polyIdCol` + point
    * columns.
    */
  private[graft] def containsCover(points: DataFrame, pointNvec: String,
                                   polys: DataFrame, polyIdCol: String,
                                   ringsCol: String,
                                   persistCover: Boolean = false): DataFrame =
    polygonCandidates(points, pointNvec, polys, polyIdCol, ringsCol,
      extraRad = 0.0, persistCover)
      .filter(cells.pointInPolygonRings(col(pointNvec), col(ringsCol)))
      .drop(ringsCol)

  /** The cover path of the buffered joins: candidates from covers
    * grown by the buffer angle, kept when the signed boundary distance
    * is <= the buffer. Output: `polyIdCol` + point columns + `distCol`.
    */
  private[graft] def bufferCover(points: DataFrame, pointNvec: String,
                                 polys: DataFrame, polyIdCol: String, ringsCol: String,
                                 bufferMeters: Double, radius: Double,
                                 distCol: String): DataFrame =
    polygonCandidates(points, pointNvec, polys, polyIdCol, ringsCol,
      extraRad = bufferMeters / radius, persistCover = false)
      .withColumn(distCol,
        cells.boundaryDistSignedRings(col(pointNvec), col(ringsCol)) * lit(radius))
      .filter(col(distCol) <= bufferMeters)
      .drop(ringsCol)

  /** Point-in-polygon join with polygons as a TABLE — the lift of
    * [[aoiJoinM]]'s literal AOI list to arbitrarily many polygons
    * (admin boundaries, land masks), same even-odd ring semantics.
    * One output row per (point, polygon) whose containment holds:
    * `polyIdCol` + all point columns.
    *
    * Scale shape, chosen by Catalyst statistics of the polygon side
    * (no job, [[smallPolygonSide]]):
    *  - a SMALL table (<= 10,000 estimated rows, <= 16 MB) is collected
    *    once with its ring covers and shipped as plan literals; each
    *    point row looks up its own candidates and tests them in one
    *    kernel call ([[containsScan]]). One job to build, no shuffle
    *    of the points.
    *  - a larger table takes the distributed cover
    *    ([[containsCover]]): one points scan fanning out one NARROW
    *    row per distinct cover level (pass a narrow frame and join
    *    payloads back by `pointId`), a cell equi-join against the
    *    cover (never |points| x |polys|), ring data joined back by
    *    polygon id only for candidates, and ONE
    *    [[cells.pointInPolygonRings]] kernel call per candidate.
    * Both paths give the same rows and schema.
    *
    * @param pointId the point key column. The join itself does not
    *   read it (each (point, polygon) pair is tested at most once on
    *   either path, so nothing dedups on it); keep it unique so
    *   payloads can join back by it.
    * @param polys table of (polyIdCol, ringsCol) with ringsCol the
    *   ring-list encoding [k, n_0..n_{k-1}, ring coords...] (build
    *   literals with [[graft.index.cells.ringsLiteral]] or
    *   AoiM.flatRings). `polyIdCol` must be unique per polygon (both
    *   paths key a polygon's rings and cover on it); rows with a null
    *   id or null rings match nothing.
    */
  def polygonJoin(points: DataFrame, pointNvec: String, pointId: String,
                  polys: DataFrame, polyIdCol: String,
                  ringsCol: String): DataFrame = {
    val polysN = polys.select(col(polyIdCol), col(ringsCol))
    if (smallPolygonSide(polysN))
      containsScan(points, pointNvec, collectPolygonSet(polysN, ringsCol, 0.0))
    else containsCover(points, pointNvec, polys, polyIdCol, ringsCol)
  }

  /** Buffered polygon-TABLE join: points within `bufferMeters` of
    * each polygon (signed distance — negative inside by even-odd, a
    * hole's rim is boundary), the lift of [[aoiBufferJoinM]] to
    * polygon tables, on [[polygonJoin]]'s two paths with covers grown
    * by the buffer angle. `polyIdCol` must be unique per polygon.
    * Output: `polyIdCol` + point columns + `distCol`.
    */
  def polygonBufferJoin(points: DataFrame, pointNvec: String, pointId: String,
                        polys: DataFrame, polyIdCol: String, ringsCol: String,
                        bufferMeters: Double,
                        radius: Double = MeanEarthRadius,
                        distCol: String = "dist_m"): DataFrame = {
    require(bufferMeters >= 0.0, s"buffer must be >= 0 (got $bufferMeters)")
    val polysN = polys.select(col(polyIdCol), col(ringsCol))
    if (smallPolygonSide(polysN))
      bufferScan(points, pointNvec,
        collectPolygonSet(polysN, ringsCol, bufferMeters / radius),
        bufferMeters, radius, distCol, polysN.schema(ringsCol).nullable)
    else bufferCover(points, pointNvec, polys, polyIdCol, ringsCol, bufferMeters, radius, distCol)
  }

  /** Zonal statistics: per-polygon aggregates over the exact PIP
    * join (polygon population counts, per-admin-area sums/means —
    * the standard summarize-points-by-zone operation). One output
    * row per polygon containing at least one point: `polyIdCol` +
    * the given aggregate columns (alias each with `.as(...)`).
    *
    * Scale shape: [[polygonJoin]] (a kernel scan per point for small
    * polygon tables, the mixed-level distributed cover above the
    * gate; `polyIdCol` unique) feeding a declarative groupBy — the aggregation is PARTIAL
    * (map-side combine), so the post-join shuffle carries one row
    * per (task, polygon), never the joined rows, and the output is
    * at most |polygons| rows. Pass a NARROW points frame (id + nvec
    * + the aggregated value columns): every point column rides
    * through the join to the aggregation.
    */
  def zonalStats(points: DataFrame, pointNvec: String, pointId: String,
                 polys: DataFrame, polyIdCol: String, ringsCol: String,
                 aggs: Seq[Column]): DataFrame = {
    require(aggs.nonEmpty, "zonalStats needs at least one aggregate column")
    polygonJoin(points, pointNvec, pointId, polys, polyIdCol, ringsCol)
      .groupBy(col(polyIdCol))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Nearest-polygon join: for every point, the polygon minimizing
    * the DISTANCE TO THE REGION (0 for contained points, great-circle
    * distance to the nearest ring edge outside; ties by smallest
    * polygon id), plus that distance in meters — nearest admin area /
    * closest-AOI assignment. Output: (pointId, polyIdCol, distCol),
    * one row per point whose nearest polygon lies within `maxMeters`
    * (the default cap pi*R matches every point against a non-empty
    * table). The frame is materialized and persisted; unpersist it
    * when done, as with [[Clustering.dbscan]].
    *
    * Scale shape: an escalation ladder of provably-complete
    * [[polygonBufferJoin]]s — round r joins only the still-unmatched
    * points against covers grown by b_r (b, 4b, 16b, ...,
    * maxMeters), so the cover volume paid per point is proportional
    * to how far that point actually is from its nearest polygon,
    * never to the search cap. Every polygon within b_r of a point is
    * a candidate at round r (the buffered join's cover proof), so if
    * a point has ANY candidate its per-point argmin is already the
    * exact global nearest — matched points leave the ladder, starved
    * points escalate. Rounds are log4(max/start), each one exchange
    * + one map-side-combined min; the loop materializes only narrow
    * (id, nvec) frames between rounds.
    */
  def nearestPolygon(points: DataFrame, pointNvec: String, pointId: String,
                     polys: DataFrame, polyIdCol: String, ringsCol: String,
                     startMeters: Double = 100e3,
                     maxMeters: Double = math.Pi * MeanEarthRadius,
                     radius: Double = MeanEarthRadius,
                     distCol: String = "dist_m"): DataFrame =
    nearestLadder(points, pointNvec, pointId, polyIdCol,
        startMeters, maxMeters, distCol) { (starved, b) =>
      polygonBufferJoin(starved, pointNvec, pointId,
        polys, polyIdCol, ringsCol, b, radius, "__sd")
        .withColumn("__sd", greatest(col("__sd"), lit(0.0)))
    }

  /** Nearest ROUTE per point over a route TABLE (the route analogue
    * of [[nearestPolygon]], and the table-scale lift of
    * [[snapToRoutes]]' global argmin): output (pointId, routeIdCol,
    * distCol) — one row per point whose nearest route polyline lies
    * within `maxMeters`, distance = exact min over the route's
    * segments, ties to the smaller route id. The result is
    * materialized and persisted; unpersist it when done.
    *
    * Scale shape: an escalation ladder of provably-complete
    * [[corridorJoin]]s — round r joins only the still-unmatched
    * points against corridors buffered by b_r (b, 4b, 16b, ...,
    * maxMeters), so the candidate volume paid per point tracks how
    * far that point actually is from its nearest route, never the
    * search cap. Every route within b_r of a point is a candidate at
    * round r (the corridor cover proof), and candidates carry their
    * EXACT segment-min distance, so a point with any candidate
    * already holds its global argmin (non-candidates sit beyond b_r
    * >= every candidate distance); matched points leave the ladder,
    * starved points escalate. Rounds are log4(max/start), each one
    * candidate equi-join + one map-side-combined min; only narrow
    * (id, nvec) frames persist between rounds.
    */
  def nearestRoute(points: DataFrame, pointNvec: String, pointId: String,
                   routes: DataFrame, routeIdCol: String, vertsCol: String,
                   startMeters: Double = 100e3,
                   maxMeters: Double = math.Pi * MeanEarthRadius,
                   radius: Double = MeanEarthRadius,
                   pieceFactor: Double = 4.0,
                   distCol: String = "dist_m"): DataFrame =
    nearestLadder(points, pointNvec, pointId, routeIdCol,
        startMeters, maxMeters, distCol) { (starved, b) =>
      corridorJoin(starved, pointNvec, pointId,
        routes, routeIdCol, vertsCol, b, radius, pieceFactor, "__sd")
    }

  /** The escalation ladder behind [[nearestPolygon]] and
    * [[nearestRoute]]: round r runs `candidates(starved, b_r)` — a
    * provably-complete join of the still-unmatched (pointId,
    * pointNvec) rows against targets within b_r (b, 4b, 16b, ...,
    * capped at maxMeters), yielding (pointId, targetIdCol, `__sd`)
    * rows with `__sd` the exact distance — and keeps each point's
    * min (`__sd`, target id). Matched points leave the ladder; the
    * rest escalate. Intermediate frames are persisted MEMORY_AND_DISK
    * and unpersisted once the persisted union of the rounds is
    * materialized. Output: (pointId, targetIdCol, distCol).
    */
  private def nearestLadder(points: DataFrame, pointNvec: String, pointId: String,
                            targetIdCol: String, startMeters: Double,
                            maxMeters: Double, distCol: String)
                           (candidates: (DataFrame, Double) => DataFrame): DataFrame = {
    require(startMeters > 0.0, s"startMeters must be > 0 (got $startMeters)")
    require(maxMeters >= startMeters,
      s"maxMeters ($maxMeters) must be >= startMeters ($startMeters)")
    val lvl = StorageLevel.MEMORY_AND_DISK
    val retired = scala.collection.mutable.ListBuffer.empty[DataFrame]
    def keep(df: DataFrame): DataFrame = { retired += df.persist(lvl); df }
    try {
      var starved = keep(points.select(col(pointId), col(pointNvec)))
      // round 1 always runs (it also types the empty-input result)
      var more = true
      val rounds = scala.collection.mutable.ListBuffer.empty[DataFrame]
      var b = startMeters
      while (more) {
        val lastRound = b >= maxMeters
        val best = keep(candidates(starved, math.min(b, maxMeters))
          .groupBy(col(pointId))
          .agg(min(struct(col("__sd").as("d"), col(targetIdCol).as("t"))).as("__m"))
          .select(col(pointId), col("__m.t").as(targetIdCol),
            col("__m.d").as(distCol)))
        rounds += best
        if (lastRound) more = false
        else {
          starved = keep(starved.join(best.select(col(pointId)),
            Seq(pointId), "left_anti"))
          more = starved.count() > 0L
          b = b * 4.0
        }
      }
      val out = rounds.reduceLeft(_ unionByName _)
        .persist(lvl)
      out.count()
      out
    } finally retired.foreach(_.unpersist())
  }

  /** Dissolve: label every polygon with its overlay CONNECTED
    * COMPONENT — the transitive closure of pairwise intersection
    * (AOI consolidation, admin-boundary cleanup, merging duplicate
    * footprints before zonal work double-counts them). One output
    * row per input polygon with non-null rings: `polyIdCol` +
    * `componentCol` = the minimum polygon id reachable through
    * chains of intersecting polygons (isolated polygons label
    * themselves). Ids must be unique and orderable.
    *
    * Scale shape: [[polygonIntersectJoin]] self-join builds the edge
    * list (cover re-keying, never |P|^2; the symmetric candidate
    * halves to one edge per unordered pair before components run),
    * then [[Dedup.connectedComponents]] resolves labels — min-label
    * propagation with pointer doubling, log-diameter rounds, with
    * the small-edge-list driver union-find fast path — the same
    * machinery that resolves near-dup clusters, so chains of
    * thousands of overlapping parcels converge without per-pair
    * recursion.
    */
  def polygonDissolve(polys: DataFrame, polyIdCol: String, ringsCol: String,
                      componentCol: String = "component"): DataFrame = {
    val a = polys.select(col(polyIdCol).as("__pa"), col(ringsCol).as("__ra"))
    val b = polys.select(col(polyIdCol).as("__pb"), col(ringsCol).as("__rb"))
    val edges = polygonIntersectJoin(a, "__pa", "__ra", b, "__pb", "__rb",
      orderedPairs = true)
    val comp = Dedup.connectedComponents(edges, "__pa", "__pb")
    polys.filter(col(ringsCol).isNotNull)
      .select(col(polyIdCol))
      .join(comp.select(col("node").as(polyIdCol), col("component")),
        Seq(polyIdCol), "left")
      .select(col(polyIdCol),
        coalesce(col("component"), col(polyIdCol)).as(componentCol))
  }

  /** Polygon-polygon INTERSECTION join between two polygon TABLES:
    * one output row (aIdCol, bIdCol) per pair of even-odd ring-list
    * regions sharing any point (boundaries included) — the overlay
    * primitive (which parcels touch which zones, which AOIs overlap
    * which admin areas).
    *
    * Scale shape: both sides emit their mixed-level per-ring
    * circumdisc covers ([[cells.ringCoverCells]]), and each cover
    * cell RE-KEYS at the target levels where a cross-side match can
    * happen — its own level when the other side covers at that level
    * or finer, plus the other side's strictly-coarser levels — so
    * two cells sharing area always equi-join at exactly the coarser
    * cell's id (levels ride in the id; the driver sees only the two
    * <= 25-int level lists). Candidates dedup per (a, b) pair, ring
    * encodings join back by polygon id only for candidates, and the
    * exact [[cells.ringsIntersect]] kernel (edge-crossing sweep +
    * vertex-containment by parity) runs once per candidate — never
    * |A| x |B|.
    *
    * Ids must be unique per polygon; column names of the two tables
    * must be disjoint; null-rings rows drop out (no cover).
    */
  def polygonIntersectJoin(aPolys: DataFrame, aIdCol: String, aRingsCol: String,
                           bPolys: DataFrame, bIdCol: String,
                           bRingsCol: String,
                           orderedPairs: Boolean = false): DataFrame = {
    def lv(df: DataFrame, rings: String): Array[Int] = df
      .select(explode(cells.ringCoverLevels(col(rings), 0.0)).as("__l"))
      .distinct().collect().map(_.getInt(0)).sorted
    val levelsA = lv(aPolys, aRingsCol)
    val levelsB = lv(bPolys, bRingsCol)
    // Either side empty (or all rings null) → no pairs, by the same
    // empty-input contract as every other join primitive here.
    if (levelsA.isEmpty || levelsB.isEmpty)
      return aPolys.select(col(aIdCol)).limit(0)
        .crossJoin(bPolys.select(col(bIdCol)).limit(0))
    // a pair of cover cells (la, lb) containing a common point match
    // at t = min(la, lb): the finer cell's ancestor IS the coarser
    // cell. Each side therefore re-keys its cell (level l) at the
    // other side's levels strictly below l, plus l itself when the
    // other side has some level >= l. Shared level values can match
    // a pair twice — the candidate dedup absorbs that.
    def keyed(df: DataFrame, idCol: String, rings: String,
              own: Array[Int], other: Array[Int]): DataFrame = {
      val cover = df.select(col(idCol),
        explode(cells.ringCoverCells(col(rings), 0.0)).as("__c"))
      val lvlC = cells.cellLevel(col("__c"))
      val targets: Seq[Column] = own.toSeq.flatMap { l =>
        val ts = other.filter(_ < l).toSeq ++
          (if (other.exists(_ >= l)) Seq(l) else Nil)
        ts.map(t => when(lvlC === l, cells.ancestorAt(col("__c"), t)))
      }
      cover.select(col(idCol), explode(array(targets: _*)).as("__key"))
        .filter(col("__key").isNotNull)
    }
    // orderedPairs (self joins wanting only a < b): the id filter
    // lands at the candidate grain — before the pair dedup, the ring
    // rejoin and the kernel — halving the downstream work; the result
    // is exactly the symmetric result filtered to a < b.
    val cand0 = keyed(aPolys, aIdCol, aRingsCol, levelsA, levelsB)
      .join(keyed(bPolys, bIdCol, bRingsCol, levelsB, levelsA), "__key")
    val cand = if (orderedPairs) cand0.filter(col(aIdCol) < col(bIdCol)) else cand0
    cand
      .dropDuplicates(aIdCol, bIdCol)
      .join(aPolys.select(col(aIdCol), col(aRingsCol)), aIdCol)
      .join(bPolys.select(col(bIdCol), col(bRingsCol)), bIdCol)
      .filter(cells.ringsIntersect(col(aRingsCol), col(bRingsCol)))
      .select(col(aIdCol), col(bIdCol))
  }

  /** Geofence enter/exit events: for each (track, AOI), one row per
    * containment TRANSITION along the time-ordered track — `enter`
    * when the fence is entered (including a track whose first fix is
    * already inside — the fence session has begun), `exit` when left;
    * a track that ends inside emits no trailing exit (no later fix to
    * anchor it). Null time / null position rows are dropped by
    * contract (same convention as sessionize / the track operators).
    * Duplicate timestamps order DETERMINISTICALLY outside-first (the
    * window breaks time ties on the inside flag; equal-flag ties are
    * interchangeable — no transition between them either way), so a
    * tied in/out pair always reads as ending INSIDE and the output is
    * stable across runs and engines.
    *
    * Scale shape: the inside flag is ONE winding-kernel call per
    * (point, AOI) in a map-only projection over a broadcast literal
    * AOI set (the operator is for named fence sets, not an AOI
    * table — route big polygon TABLES through [[polygonJoin]]);
    * the only shuffle is the window's (track, aoi) hash partition,
    * carrying points x |aois| rows of (track, time, aoi_id, flag) —
    * payload columns do not ride through the fan-out.
    *
    * @return (trackCol, timeCol, aoi_id, event) ordered rows per
    *         window; event in {enter, exit}.
    */
  def geofenceTransitions(points: DataFrame, trackCol: String,
                          timeCol: String, pointNvec: String,
                          aois: Seq[Aoi]): DataFrame = {
    val ringsDf = aoiRingsFrame(points.sparkSession, aois.map(_.asRings))
    val w = Window.partitionBy(col(trackCol), col("aoi_id"))
      .orderBy(col(timeCol), col("__in"))
    points
      .filter(col(timeCol).isNotNull && col(pointNvec).isNotNull)
      .select(col(trackCol), col(timeCol), col(pointNvec))
      .crossJoin(broadcast(ringsDf))
      .withColumn("__in", cells.pointInPolygonRings(col(pointNvec), col("__rings")))
      .withColumn("__prev", lag(col("__in"), 1).over(w))
      .filter((col("__prev").isNull && col("__in")) ||
        (col("__prev").isNotNull && col("__prev") =!= col("__in")))
      .select(col(trackCol), col(timeCol), col("aoi_id"),
        when(col("__in"), lit("enter")).otherwise(lit("exit")).as("event"))
  }

  /** Dwell time per (track, AOI): the total time spent inside each
    * fence, attributing each inter-fix interval [t_i, t_{i+1}) to
    * the STATE AT ITS START (left-constant interpolation — the same
    * convention sessionize/staypoints use for gaps); the last fix of
    * a track anchors no interval. Every (track, AOI) pair with at
    * least one valid fix gets a row — zero dwell included — plus the
    * inside-fix count so downstream can tell "never entered" from
    * "entered between samples". Null time / null position rows drop
    * by the track-operator contract — note the consequence: the
    * interval preceding a dropped fix merges into the PRIOR valid
    * fix's interval and inherits that fix's inside/outside state, so
    * dwell silently stretches across sensor-gap rows; pre-filter or
    * re-segment tracks if gap rows must not attribute time.
    * `timeCol` must be NUMERIC and
    * unique within a track (duplicate stamps make which tied fix
    * anchors the next interval order-dependent).
    *
    * Scale shape: the ONLY shuffle is the per-track window for the
    * inter-fix gap, and it runs BEFORE the AOI fan-out (the gap is
    * AOI-independent), so the window carries points rows, not
    * points x |aois|; the fan-out itself is a map-only cross join
    * with the broadcast literal fence list and one winding-kernel
    * call per (fix, AOI), and the final group-by partial-aggregates
    * to |tracks| x |aois| rows.
    */
  def trackDwell(points: DataFrame, trackCol: String, timeCol: String,
                 pointNvec: String, aois: Seq[Aoi],
                 dwellCol: String = "dwell_t"): DataFrame = {
    val ringsDf = aoiRingsFrame(points.sparkSession, aois.map(_.asRings))
    val w = Window.partitionBy(col(trackCol)).orderBy(col(timeCol))
    points
      .filter(col(timeCol).isNotNull && col(pointNvec).isNotNull)
      .select(col(trackCol), col(timeCol), col(pointNvec))
      .withColumn("__dt",
        (lead(col(timeCol), 1).over(w) - col(timeCol)).cast("double"))
      .crossJoin(broadcast(ringsDf))
      .withColumn("__in", cells.pointInPolygonRings(col(pointNvec), col("__rings")))
      .groupBy(col(trackCol), col("aoi_id"))
      .agg(
        sum(when(col("__in") && col("__dt").isNotNull, col("__dt"))
          .otherwise(0.0)).as(dwellCol),
        count(when(col("__in"), lit(1))).as("fixes_inside"))
  }
}
