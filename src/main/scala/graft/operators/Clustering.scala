package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.geo
import graft.geo.Ellipsoids.MeanEarthRadius
import graft.index.{CellIndex, cells}

/** Density clustering (DBSCAN) over points on the sphere with a
  * great-circle eps — the "find spatial hot spots / beam clusters"
  * primitive (cf. Ester et al. 1996, deterministic variant).
  *
  * Semantics (all ties broken by MIN id, so the result is a pure
  * function of the input — classic DBSCAN's border assignment is
  * scan-order dependent):
  *  - core: at least `minPts` points within `epsMeters`, COUNTING
  *    the point itself;
  *  - cluster label: the smallest core id reachable through
  *    core-core eps edges (singleton cores label themselves);
  *  - border: non-core with at least one core neighbor — joins the
  *    smallest label among its core neighbors;
  *  - noise: everything else (label null).
  *
  * Scale shape — DENSE-CORE CELL CONTRACTION. A naive eps self-join
  * materializes O(n²) pair rows wherever ~n points are mutually
  * within eps (one city-sized hot spot at web scale makes the pair
  * list itself the dataset). Instead, points are bucketed at the
  * COARSEST cell level whose provable cell diameter is <= eps
  * (gnomonic angular speed <= 1 rad per uv unit in each axis, so
  * diam <= 2 * cellstep), making every same-cell pair a mutual eps
  * neighbor BY CONSTRUCTION. Cells then split by minPts:
  *
  *  - DENSE cells (>= minPts members): every member is core with no
  *    join at all, and the cell becomes a SUPERNODE carrying (count,
  *    spherical-centroid anchor — inside the cell, since gnomonic
  *    projection maps great circles to lines so the spherical convex
  *    hull stays in-cell — and exact data radius r = max
  *    member->anchor distance). Dense members never enter pair
  *    generation: a blob contributes one supernode row, not O(n²)
  *    pair rows.
  *  - SPARSE cells (< minPts members, so per-cell member count is
  *    bounded): members probe ONE candidate join whose build side is
  *    sparse members (individual rows, exact point predicate) UNION
  *    dense supernodes (triangle-inequality bounds: dist + r <= eps
  *    proves every member in range and contributes `count` at once;
  *    dist - r > eps proves none; only the thin uncertain annulus
  *    around exactly eps falls back to member-level checks). That
  *    single candidate pass feeds degree counting, core-core edge
  *    extraction, AND border attachment.
  *  - Dense-dense connectivity is a supernode-supernode join (one
  *    row per dense cell), with the same bound shortcuts; pairs the
  *    cell-level bounds cannot decide REFINE to per-sub-cell
  *    supernodes two levels down (<= 256 bound rows per pair) and
  *    only annulus-straddling sub-cell pairs fall back to member
  *    pairs — two adjacent blobs never materialize |A| x |B| rows.
  *
  * Connectivity runs over the CONTRACTED graph — nodes are cells
  * (same-cell cores are a clique), edges are cell pairs with a
  * proven or verified core-core eps link — so
  * [[Dedup.connectedComponents]] sees one node per occupied cell,
  * and the component label (min core id per component) is identical
  * to member-level min-label propagation.
  *
  * Exactness: point-point candidates are decided by the SAME exact
  * predicate the all-pairs oracle evaluates; supernode shortcuts
  * carry a 1e-3 m safety margin (6+ orders of magnitude above the
  * distance formula's float error), so borderline candidates always
  * reach the exact member predicate — output stays hash-exact.
  */
object Clustering {

  /** Coarsest level whose provable on-face cell diameter is <=
    * `angleRad` — the contraction level; -1 when even level-26 cells
    * (~0.27 m) cannot prove it (degenerate sub-meter eps).
    *
    * Diameter bound: the gnomonic angular speed along ANY straight
    * uv segment is |c x c'| / |c|^2 <= 1 rad per uv unit (maximized
    * at the face center), and the straight segment between two
    * points of a cell stays inside the cell (uv squares are convex),
    * so the geodesic distance is <= the corner diagonal's arc length
    * <= sqrt(2) * step. Strict inequality holds except at the exact
    * face center, and the 1e-9 deflator keeps the same-cell clique
    * claim safely above double-precision evaluation error.
    */
  private[operators] def contractionLevel(angleRad: Double): Int = {
    val diag = 2.0 * math.sqrt(2.0)
    var l = 0
    while (l <= CellIndex.MaxLevel) {
      if (diag / (1L << l) <= angleRad * (1.0 - 1e-9)) return l
      l += 1
    }
    -1
  }

  /** @param skewSalt forwarded to the candidate joins ([[SpatialJoins
    *   .distanceJoin]]) for dense-hot-cell inputs.
    *  @param pairwiseBudget cost dispatch between the two exact
    *   plans: an estimate of the member-pair plan's pair volume —
    *   sum of count(c)*count(c') over occupied contraction-cell pairs
    *   within Chebyshev ring 3 (eps/step < 2*sqrt(2) at the
    *   contraction level, so away from face-corner gnomonic
    *   distortion an in-eps pair, same-cell or cross-cell, lands in
    *   such a cell pair; same-cell dense pairs alone undercount
    *   uniformly dense data ~10-25x). Computed off
    *   the FIRST aggregation's narrow per-cell counts (one extra
    *   cells-only shuffle, never the data). At or under the budget
    *   the simpler member-pair plan wins: the contracted pipeline's
    *   ~25 fixed stages dominate small/sparse inputs (measured 36 s
    *   vs 4.5 s on a 15k-point gate) while the pair volume fits
    *   comfortably in a shuffle (1e8 pairs ~ 5 GB). Set to -1 to
    *   force contraction (the A/B probes), or very large to force
    *   the member-pair plan. Both plans are exact; the dispatch
    *   steers only cost.
    *  @return one row per input point: (idCol, cluster, kind) with
    *   kind in core/border/noise and cluster null for noise. The
    *   frame is MATERIALIZED and persisted at MEMORY_AND_DISK (all
    *   intermediates are released before return) — unpersist it when
    *   done, as with [[Dedup.connectedComponents]].
    */
  def dbscan(points: DataFrame, idCol: String, nvecCol: String,
             epsMeters: Double, minPts: Int,
             sphereRadius: Double = MeanEarthRadius,
             skewSalt: Int = 0,
             pairwiseBudget: Long = 100000000L): DataFrame = {
    require(epsMeters > 0.0, s"eps must be > 0 (got $epsMeters)")
    require(minPts >= 1, s"minPts must be >= 1 (got $minPts)")
    val angle = epsMeters / sphereRadius
    val level = contractionLevel(angle)
    if (level < 0)
      // sub-meter eps: no level proves the same-cell clique; the eps
      // graph at such radii is inherently tiny per point, so the
      // member-pair path is the right plan anyway
      return pairwiseDbscan(points, idCol, nvecCol, epsMeters, minPts,
        sphereRadius, skewSalt)

    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val margin = 1e-3 // meters; >> float error of the gc formula
    val stepRad = 2.0 / (1L << level)
    // bound on any dense cell's data radius: member->anchor <= cell
    // diameter <= sqrt(2) * step (+1 m float insurance for the
    // anchor's in-hull containment, exact only in real arithmetic)
    val rMaxM = math.sqrt(2.0) * stepRad * sphereRadius + 1.0
    // padded candidate radii clamp at the sphere's diameter: beyond
    // pi*R a join radius adds nothing (distanceJoin rejects more)
    val padded1 = math.min(epsMeters + rMaxM, math.Pi * sphereRadius)
    val padded2 = math.min(epsMeters + 2.0 * rMaxM, math.Pi * sphereRadius)

    val idType = points.schema(idCol).dataType
    val pts = points.select(col(idCol).as("__id"), col(nvecCol).as("__n"))
      .withColumn("__gc", cells.cellAt(col("__n"), level))
    val valid = pts.filter(col("__gc").isNotNull)

    val retired = scala.collection.mutable.ListBuffer.empty[DataFrame]
    def keep(df: DataFrame): DataFrame = { retired += df.persist(lvl); df }
    try {
      // dense CELL list via one partial-aggregated count (map-side
      // combine; output one narrow row per occupied cell, of which
      // the >= minPts survivors are few) — the full data is never
      // window-sorted and joins against this list broadcast when
      // it is small (AQE decides)
      val cellCnt = keep(valid.groupBy("__gc").agg(count(lit(1)).as("__dn0")))
      if (pairwiseBudget >= 0L) {
        // the dispatch hazard: an estimate of the member-pair plan's
        // pair volume. eps/step is in [sqrt(2), 2*sqrt(2)) at the
        // contraction level, so away from face corners (gnomonic
        // distortion <= 3x there) an in-eps pair's cells sit within
        // Chebyshev ring 3 — sum count*count over ring-3 occupied
        // cell pairs counts in-eps pairs same-cell AND cross-cell
        // (dense-cell count^2 alone undercounts uniformly dense data
        // ~10-25x and could route a billion-pair input to the
        // materializing plan). A heuristic, not a proof: both plans
        // are exact, the dispatch steers only cost. Summed in doubles
        // so extreme inputs saturate instead of wrapping.
        //
        // Cost of the estimate itself: when the occupied-cell list is
        // small (<= 50k narrow (cell, count) rows, ~1 MB collected)
        // the SAME sum is computed driver-locally off one collect of
        // the already-needed cellCnt aggregate — no ring-explode
        // self-join, no extra exchange. Only genuinely wide inputs
        // (> 50k occupied cells, where the contracted plan's fixed
        // stages are already amortized) pay the distributed join.
        // Identical hazard value either way, so plan routing does not
        // depend on which side computed it.
        val cellCap = 50000
        val local = cellCnt.limit(cellCap + 1).collect()
        val hazard: Double =
          if (local.length <= cellCap) {
            val cnt = new java.util.HashMap[java.lang.Long, java.lang.Double](
              local.length * 2)
            local.foreach(r => cnt.put(r.getLong(0), r.getLong(1).toDouble))
            var h = 0.0
            local.foreach { r =>
              val na = r.getLong(1).toDouble
              val ring = CellIndex.ring(r.getLong(0), 3)
              var i = 0
              while (i < ring.length) {
                val nb = cnt.get(ring(i))
                if (nb != null) h += na * nb.doubleValue()
                i += 1
              }
            }
            h
          } else cellCnt
            .select(explode(cells.ringCells(col("__gc"), 3)).as("__gc2"),
              col("__dn0").cast("double").as("__na"))
            .join(cellCnt.select(col("__gc").as("__gc2"),
              col("__dn0").cast("double").as("__nb")), "__gc2")
            .agg(coalesce(sum(col("__na") * col("__nb")), lit(0.0)).as("__h"))
            .first().getDouble(0)
        if (hazard <= pairwiseBudget.toDouble)
          // finally releases cellCnt; the member-pair plan re-derives
          // everything it needs from the raw points
          return pairwiseDbscan(points, idCol, nvecCol, epsMeters, minPts,
            sphereRadius, skewSalt)
      }
      val denseCells = keep(cellCnt
        .filter(col("__dn0") >= minPts).select("__gc"))
      val denseMembers = valid.join(denseCells, Seq("__gc"), "left_semi")
      val sparse = keep(valid.join(denseCells, Seq("__gc"), "left_anti"))

      // dense supernode stats, two passes: (count, centroid anchor)
      // then the exact data radius around the anchor
      val denseStat = keep {
        val agg0 = denseMembers.groupBy("__gc").agg(
            count(lit(1)).as("__dn"),
            sum(geo.vx(col("__n"))).as("__sx"),
            sum(geo.vy(col("__n"))).as("__sy"),
            sum(geo.vz(col("__n"))).as("__sz"))
          .select(col("__gc"), col("__dn"),
            geo.vunit(geo.vec(col("__sx"), col("__sy"), col("__sz"))).as("__anchor"))
        denseMembers.join(agg0, "__gc")
          .groupBy("__gc")
          .agg(first(col("__dn")).as("__dn"),
            first(col("__anchor")).as("__anchor"),
            max(geo.gcDistance(col("__n"), col("__anchor"), sphereRadius)).as("__r"))
      }

      // ---- the sparse candidate pass -------------------------------
      // two kept frames: sparse members join at EXACTLY eps (the
      // point-point predicate needs no padding — padding would inflate
      // the disc-cover candidate volume by the area ratio; same-cell
      // pairs are INCLUDED, bounded by < minPts members per cell, so
      // no per-cell population bookkeeping is needed), and dense
      // supernodes at eps + rMax (one row per dense CELL — the blob
      // never materializes pairs)
      val candM = keep(SpatialJoins.distanceJoin(
          sparse,
          sparse.select(col("__n").as("__bn"), col("__gc").as("__bc"),
            col("__id").as("__bid")),
          "__n", "__bn", epsMeters, sphereRadius, skewSalt = skewSalt,
          probeSideBloom = true)
        .filter(col("__bid") =!= col("__id"))
        .select("__id", "__gc", "__bc", "__bid"))
      // supernodes PROBE (cover-explode the few dense cells, not the
      // millions of sparse points); the distance relation is
      // symmetric, so the coverage proof reads the same either way
      val candS = keep(SpatialJoins.distanceJoin(
          denseStat.select(col("__anchor").as("__bn"),
            col("__gc").as("__bc"), col("__dn").as("__bcnt"),
            col("__r").as("__br")),
          sparse.select(col("__id").as("__pid"), col("__n").as("__pn"),
            col("__gc").as("__pc")),
          "__bn", "__pn", padded1, sphereRadius, skewSalt = skewSalt)
        .filter(col("dist_m") - col("__br") <= epsMeters + margin)
        .select(col("__pid").as("__id"), col("__pn").as("__n"),
          col("__pc").as("__gc"), col("__bc"), col("__bcnt"),
          (col("dist_m") + col("__br") <= epsMeters - margin).as("__allin")))
      // annulus fallback: per (probe, uncertain dense cell), the
      // exact count of that cell's members within eps — feeds degree
      // (the count), and edges/border (count >= 1 = a core in reach,
      // since dense members are all cores)
      val uncCnt = keep(candS.filter(!col("__allin"))
        .select(col("__id"), col("__n"), col("__bc"))
        .join(denseMembers.select(col("__gc").as("__bc"), col("__n").as("__mn")), "__bc")
        .filter(geo.gcDistance(col("__n"), col("__mn"), sphereRadius) <= epsMeters)
        .groupBy("__id", "__bc").agg(count(lit(1)).as("__uc")))

      // ---- degree / sparse cores ----------------------------------
      // degree counts the point itself (+1) plus exact member
      // partners plus proven/verified dense-cell populations
      val contrib = candM.select(col("__id"), lit(1L).as("__c"))
        .unionByName(candS.filter(col("__allin"))
          .select(col("__id"), col("__bcnt").as("__c")))
        .unionByName(uncCnt.select(col("__id"), col("__uc").as("__c")))
      val coreSparse = keep(sparse
        .join(contrib.groupBy("__id").agg(sum(col("__c")).as("__x")), "__id")
        .filter(col("__x") + 1L >= minPts)
        .select("__gc", "__id", "__n"))

      // ---- contracted core-core edges ------------------------------
      // sparse core -> core partner (sparse member partner that is
      // itself core, or any dense contact: all dense members are core)
      val coreIds = coreSparse.select(col("__id").as("__bid"))
      val eMemb = candM
        .join(coreSparse.select(col("__id")), Seq("__id"))
        .join(coreIds, Seq("__bid")) // partner must be core
        .filter(col("__gc") =!= col("__bc")) // same-cell = same node
        .select(col("__gc").as("__ga"), col("__bc").as("__gb"))
      val coreCandS = candS.join(coreSparse.select(col("__id")), Seq("__id"))
      val eDenseTouch = coreCandS.filter(col("__allin"))
        .select(col("__gc").as("__ga"), col("__bc").as("__gb"))
        .unionByName(coreCandS.filter(!col("__allin"))
          .join(uncCnt.select(col("__id"), col("__bc")), Seq("__id", "__bc"))
          .select(col("__gc").as("__ga"), col("__bc").as("__gb")))
      // dense-dense: supernode-supernode with the same bound ladder
      val dA = denseStat.select(col("__gc").as("__ga2"),
        col("__anchor").as("__aa"), col("__r").as("__ra"))
      val dB = denseStat.select(col("__gc").as("__gb2"),
        col("__anchor").as("__ab"), col("__r").as("__rb"))
      val ddCand = SpatialJoins.distanceJoin(dA, dB, "__aa", "__ab",
          padded2, sphereRadius, skewSalt = skewSalt)
        .filter(col("__ga2") < col("__gb2"))
        .filter(col("dist_m") - col("__ra") - col("__rb") <= epsMeters + margin)
      val ddProven = ddCand
        .filter(col("dist_m") + col("__ra") + col("__rb") <= epsMeters - margin)
        .select(col("__ga2").as("__ga"), col("__gb2").as("__gb"))
      // uncertain pairs REFINE two levels down instead of falling
      // back to the |A| x |B| member cross product (two adjacent
      // city-sized blobs would make that product the dataset): the
      // same supernode bound ladder reruns on per-sub-cell stats
      // (<= 16 sub-cells per cell, so <= 256 narrow rows per
      // uncertain pair), which PROVES the common adjacent-blob case
      // outright — near sub-cell pairs satisfy the all-in bound —
      // and confines member pairs to sub-cell pairs straddling the
      // eps annulus (width 2(ra'+rb'), ~4x thinner than at cell
      // granularity). Edge semantics are unchanged: an edge needs
      // only EXISTENCE of one member pair within eps, and every
      // member pair lands in exactly one sub-cell pair, so the
      // partition of the ladder is exhaustive.
      val ddUnc = keep(ddCand
        .filter(col("dist_m") + col("__ra") + col("__rb") > epsMeters - margin)
        .select(col("__ga2"), col("__gb2")))
      val subLevel = math.min(level + 2, CellIndex.MaxLevel)
      val uncCells = ddUnc.select(col("__ga2").as("__gc"))
        .unionByName(ddUnc.select(col("__gb2").as("__gc"))).distinct()
      // sentinel -1 for a (theoretically impossible) null sub-cell of
      // a valid-cell member: null join keys would DROP member rows
      // from the fallback and silently lose edges
      val subMembers = keep(valid
        .join(uncCells, Seq("__gc"), "left_semi")
        .withColumn("__sc",
          coalesce(cells.cellAt(col("__n"), subLevel), lit(-1L))))
      val subStat = keep {
        val agg0 = subMembers.groupBy("__gc", "__sc").agg(
            sum(geo.vx(col("__n"))).as("__sx"),
            sum(geo.vy(col("__n"))).as("__sy"),
            sum(geo.vz(col("__n"))).as("__sz"))
          .select(col("__gc"), col("__sc"),
            geo.vunit(geo.vec(col("__sx"), col("__sy"), col("__sz"))).as("__sa"))
        subMembers.join(agg0, Seq("__gc", "__sc"))
          .groupBy("__gc", "__sc")
          .agg(first(col("__sa")).as("__sa"),
            max(geo.gcDistance(col("__n"), col("__sa"), sphereRadius)).as("__sr"))
      }
      val subPairs = ddUnc
        .join(subStat.select(col("__gc").as("__ga2"), col("__sc").as("__sca"),
          col("__sa").as("__saa"), col("__sr").as("__sra")), "__ga2")
        .join(subStat.select(col("__gc").as("__gb2"), col("__sc").as("__scb"),
          col("__sa").as("__sab"), col("__sr").as("__srb")), "__gb2")
        .withColumn("__sd", geo.gcDistance(col("__saa"), col("__sab"), sphereRadius))
        .filter(col("__sd") - col("__sra") - col("__srb") <= epsMeters + margin)
      val subPairsK = keep(subPairs.select(col("__ga2"), col("__gb2"),
        col("__sca"), col("__scb"),
        (col("__sd") + col("__sra") + col("__srb") <= epsMeters - margin)
          .as("__allin")))
      val subProven = subPairsK.filter(col("__allin"))
        .select(col("__ga2"), col("__gb2"))
      // existence short-circuit: the edge needs ONE member pair, so a
      // cell pair with ANY proven sub-pair skips the fallback — for
      // overlapping blobs (the common case) every uncertain cell pair
      // has a deep-inside sub-pair and NO member pair is ever touched;
      // the fallback runs only for cell pairs wholly straddling eps
      val subFallback = subPairsK.filter(!col("__allin"))
        .join(subProven.distinct(), Seq("__ga2", "__gb2"), "left_anti")
        .join(subMembers.select(col("__gc").as("__ga2"), col("__sc").as("__sca"),
          col("__n").as("__na")), Seq("__ga2", "__sca"))
        .join(subMembers.select(col("__gc").as("__gb2"), col("__sc").as("__scb"),
          col("__n").as("__nb")), Seq("__gb2", "__scb"))
        .filter(geo.gcDistance(col("__na"), col("__nb"), sphereRadius) <= epsMeters)
        .select(col("__ga2"), col("__gb2"))
      val eDenseDense = ddProven.unionByName(
        subProven.unionByName(subFallback)
          .select(col("__ga2").as("__ga"), col("__gb2").as("__gb")))
      // no pre-distinct: connectedComponents symmetrizes + distincts
      // its input anyway, so a dedup here would just add a shuffle
      val edges = eMemb.unionByName(eDenseTouch).unionByName(eDenseDense)
        .select(least(col("__ga"), col("__gb")).as("__ga"),
          greatest(col("__ga"), col("__gb")).as("__gb"))

      // ---- components + labels ------------------------------------
      val cores = keep(denseMembers.select("__gc", "__id", "__n")
        .unionByName(coreSparse))
      val comp = Dedup.connectedComponents(edges, "__ga", "__gb")
      val cellComp = cores.select("__gc").distinct()
        .join(comp.withColumnRenamed("node", "__gc"), Seq("__gc"), "left")
        .select(col("__gc"), coalesce(col("component"), col("__gc")).as("__comp"))
      // component label = min core id anywhere in the component —
      // identical to member-level min-label propagation because
      // same-cell cores are a clique and cell edges exist exactly
      // when some member-level core-core eps edge does
      val coreWithComp = cores.join(cellComp, "__gc")
      val compLabel = coreWithComp.groupBy("__comp")
        .agg(min(col("__id")).as("__cluster"))
      val coreLabel = keep(coreWithComp.join(compLabel, "__comp")
        .select(col("__id"), col("__cluster")))
      val cellLabel = keep(cellComp.join(compLabel, "__comp")
        .select(col("__gc").as("__lc"), col("__cluster")))

      // ---- border attach -------------------------------------------
      // qualifying cells for a non-core sparse point, all read off the
      // SAME kept candidate passes: cells of core member partners
      // (same-cell partners included — candM carries them) and dense
      // cells in certain/verified reach. Joining against nonCore last
      // drops the rows whose probe turned out core.
      val nonCore = sparse
        .join(coreSparse.select(col("__id")), Seq("__id"), "left_anti")
        .select("__id")
      val qualMemb = candM
        .join(coreIds, Seq("__bid"))
        .select(col("__id"), col("__bc").as("__qc"))
      val qualDense = candS.filter(col("__allin"))
        .select(col("__id"), col("__bc").as("__qc"))
        .unionByName(candS.filter(!col("__allin"))
          .join(uncCnt.select(col("__id"), col("__bc")), Seq("__id", "__bc"))
          .select(col("__id"), col("__bc").as("__qc")))
      val borderLabel = nonCore
        .join(qualMemb.unionByName(qualDense), Seq("__id"))
        .join(cellLabel.withColumnRenamed("__lc", "__qc"), "__qc")
        .groupBy("__id").agg(min(col("__cluster")).as("__bcluster"))

      // ---- assembly -------------------------------------------------
      // null-position rows have no cell: they can never reach minPts
      // >= 2 (noise), and at minPts <= 1 every point — these included
      // — is a singleton core labeled by its own id
      val nullRows = pts.filter(col("__gc").isNull)
        .select(col("__id").as(idCol),
          (if (minPts <= 1) col("__id") else lit(null).cast(idType)).as("cluster"),
          lit(if (minPts <= 1) "core" else "noise").as("kind"))
      val out = valid.select(col("__id"))
        .join(coreLabel, Seq("__id"), "left")
        .join(borderLabel, Seq("__id"), "left")
        .select(col("__id").as(idCol),
          coalesce(col("__cluster"), col("__bcluster")).as("cluster"),
          when(col("__cluster").isNotNull, "core")
            .when(col("__bcluster").isNotNull, "border")
            .otherwise("noise").as("kind"))
        .unionByName(nullRows)
        .persist(lvl)
      out.count() // materialize before the finally releases the stats
      comp.unpersist(blocking = false)
      out
    } finally retired.foreach(_.unpersist(blocking = false))
  }

  /** Member-pair DBSCAN (the pre-contraction plan): one eps self-join
    * whose pair list is persisted and consumed by degree count,
    * core-core edges, and border attach. Only reached for sub-meter
    * eps where no cell level proves the same-cell clique — there the
    * eps graph is inherently sparse per point and pair rows are the
    * right currency.
    */
  private[graft] def pairwiseDbscan(points: DataFrame, idCol: String, nvecCol: String,
                             epsMeters: Double, minPts: Int,
                             sphereRadius: Double,
                             skewSalt: Int): DataFrame = {
    val ids = points.select(col(idCol), col(nvecCol))
    val left = ids.select(col(idCol).as("__a"), col(nvecCol).as("__an"))
    val right = ids.select(col(idCol).as("__b"), col(nvecCol).as("__bn"))
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val pairs = SpatialJoins
      .distanceJoin(left, right, "__an", "__bn", epsMeters, sphereRadius,
        skewSalt = skewSalt)
      .filter(col("__a") =!= col("__b"))
      .select("__a", "__b")
      .repartition(col("__a"))
      .persist(lvl)
    val cores =
      if (minPts <= 1) ids.select(col(idCol).as("__core"))
      else pairs.groupBy("__a").agg(count(lit(1)).as("__deg"))
        .filter(col("__deg") + 1 >= minPts)
        .select(col("__a").as("__core"))
    try {
      val coreEdges = pairs
        .join(cores.withColumnRenamed("__core", "__a"), "__a")
        .join(cores.withColumnRenamed("__core", "__b"), "__b")
        .filter(col("__a") < col("__b"))
      val comp = Dedup.connectedComponents(coreEdges, "__a", "__b")
      val coreLabel = cores
        .join(comp.withColumnRenamed("node", "__core"), Seq("__core"), "left")
        .select(col("__core"),
          coalesce(col("component"), col("__core")).as("__cluster"))
      val nbrLabel = pairs
        .join(coreLabel.select(col("__core").as("__b"),
          col("__cluster").as("__bc")), "__b")
        .groupBy("__a").agg(min("__bc").as("__nbrCluster"))
      val out = ids.select(col(idCol))
        .join(coreLabel.withColumnRenamed("__core", idCol), Seq(idCol), "left")
        .join(nbrLabel.withColumnRenamed("__a", idCol), Seq(idCol), "left")
        .select(col(idCol),
          coalesce(col("__cluster"), col("__nbrCluster")).as("cluster"),
          when(col("__cluster").isNotNull, "core")
            .when(col("__nbrCluster").isNotNull, "border")
            .otherwise("noise").as("kind"))
        .persist(lvl)
      out.count()
      comp.unpersist(blocking = false)
      out
    } finally pairs.unpersist(blocking = false)
  }
}
