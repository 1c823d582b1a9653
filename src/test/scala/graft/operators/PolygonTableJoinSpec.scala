package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.{JobCount, SparkTestSession, TempDirs}
import graft.functions.geo
import graft.geo.{Ellipsoids, Gade, Vec3, VecMath}
import graft.index.cells

/** Polygon-TABLE joins vs a brute-force reference (every point
  * against every polygon through the same even-odd / signed-distance
  * scalar math, no cover pruning) — proving the per-ring mixed-level
  * circumdisc covers drop no qualifying pair.
  */
class PolygonTableJoinSpec extends AnyFunSuite with TempDirs {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val R = Ellipsoids.MeanEarthRadius

  // polygon table spanning three size classes (cover levels must
  // differ) plus holes/multipolygon structure:
  //  - big: a ~45-degree box
  //  - small: a ~1.5-degree box a continent away
  //  - multi: outer box + hole + island-in-hole + disjoint part
  private val big = Seq(Seq((-20.0, -40.0), (-20.0, 5.0), (25.0, 5.0), (25.0, -40.0)))
  private val small = Seq(Seq((40.0, 100.0), (40.0, 101.5), (41.5, 101.5), (41.5, 100.0)))
  private val multi = Seq(
    Seq((30.0, 60.0), (30.0, 90.0), (55.0, 90.0), (55.0, 60.0)),
    Seq((38.0, 68.0), (38.0, 82.0), (48.0, 82.0), (48.0, 68.0)),
    Seq((41.0, 72.0), (41.0, 78.0), (45.0, 78.0), (45.0, 72.0)),
    Seq((-50.0, -120.0), (-50.0, -100.0), (-35.0, -100.0), (-35.0, -120.0)))
  private val polyDefs = Seq("big" -> big, "small" -> small, "multi" -> multi)

  // the production encoding, not a re-implementation — a header/layout
  // change must fail these specs, not silently diverge from them
  private def flatRings(rings: Seq[Seq[(Double, Double)]]): Seq[Double] =
    SpatialJoins.AoiM("spec", rings).flatRings.toSeq

  private def polysDf = (polyDefs.map { case (id, r) => (id, flatRings(r)) } :+
    (("nullrow", null.asInstanceOf[Seq[Double]])))
    .toDF("poly_id", "rings")

  // deterministic scatter biased toward the polygons (plus a band
  // crossing the hole and the island so parity flips are exercised)
  private val pts: Seq[(Long, Double, Double)] = {
    def h(i: Long, s: Long) = ((i * 2654435761L + s) % 2000001L) / 1000000.0 - 1.0
    val global = (0L until 400L).map(i =>
      (i, math.toDegrees(math.asin(h(i, 1))), 180.0 * h(i, 2)))
    val nearBig = (1000L until 1200L).map(i => (i, 2.0 + 50.0 * h(i, 3), -18.0 + 50.0 * h(i, 4)))
    val nearSmall = (2000L until 2200L).map(i => (i, 40.7 + 2.5 * h(i, 5), 100.7 + 2.5 * h(i, 6)))
    val nearMulti = (3000L until 3300L).map(i => (i, 43.0 + 16.0 * h(i, 7), 75.0 + 20.0 * h(i, 8)))
    global ++ nearBig ++ nearSmall ++ nearMulti
  }

  private def refInside(p: Vec3, rings: Seq[Seq[(Double, Double)]]): Boolean =
    rings.count { ring =>
      val vn = ring.map { case (la, lo) =>
        Gade.latLonToNvec(math.toRadians(la), math.toRadians(lo)) }
      // all test rings are convex with q15's orientation: inside =
      // every edge's half-plane (independent of the winding kernel)
      vn.indices.forall { i =>
        val c = vn(i) cross vn((i + 1) % vn.length)
        c.x * p.x + c.y * p.y + c.z * p.z > 0
      }
    } % 2 == 1

  private def refBoundary(p: Vec3, rings: Seq[Seq[(Double, Double)]]): Double = {
    val d = rings.flatMap { ring =>
      val vn = ring.map { case (la, lo) =>
        Gade.latLonToNvec(math.toRadians(la), math.toRadians(lo)) }
      vn.indices.map { i =>
        graft.index.CellKernels.segDistRad(p.x, p.y, p.z,
          vn(i).x, vn(i).y, vn(i).z,
          vn((i + 1) % vn.length).x, vn((i + 1) % vn.length).y,
          vn((i + 1) % vn.length).z)
      }
    }.min
    if (refInside(p, rings)) -d else d
  }

  private def ptsDf = pts.toDF("id", "lat", "lon")
    .select(col("id"), geo.nvecDeg(col("lat"), col("lon")).as("n"))

  test("polygonJoin equals the all-pairs even-odd reference (mixed sizes, holes, null rings)") {
    val got = SpatialJoins.polygonJoin(ptsDf, "n", "id", polysDf, "poly_id", "rings")
      .select("id", "poly_id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val want = (for {
      (i, la, lo) <- pts
      p = Gade.latLonToNvec(math.toRadians(la), math.toRadians(lo))
      (id, rings) <- polyDefs if refInside(p, rings)
    } yield (i, id)).toSet
    assert(want.nonEmpty && want.exists(_._2 == "small") &&
      want.exists(_._2 == "multi"), s"degenerate fixture: $want")
    assert(got == want,
      s"missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
  }

  test("polygonBufferJoin equals the all-pairs signed-distance reference") {
    val bufM = 300e3
    val got = SpatialJoins.polygonBufferJoin(ptsDf, "n", "id",
        polysDf, "poly_id", "rings", bufferMeters = bufM, radius = R)
      .select(col("id"), col("poly_id"), round(col("dist_m"), 3).as("d"))
      .collect().map(r => ((r.getLong(0), r.getString(1)), r.getDouble(2))).toMap
    val want = (for {
      (i, la, lo) <- pts
      p = Gade.latLonToNvec(math.toRadians(la), math.toRadians(lo))
      (id, rings) <- polyDefs
      d = refBoundary(p, rings) * R if d <= bufM
    } yield ((i, id), BigDecimal(d) // Spark round() is HALF_UP
      .setScale(3, BigDecimal.RoundingMode.HALF_UP).toDouble)).toMap
    assert(want.nonEmpty && want.exists(_._1._2 == "small"))
    assert(got == want, {
      val ks = (got.keySet ++ want.keySet).filter(k => got.get(k) != want.get(k))
      ks.take(5).map(k => s"$k got=${got.get(k)} want=${want.get(k)}").toString
    })
  }

  test("cover levels adapt per polygon size (the mixed-level machinery is exercised)") {
    val lv = polysDf.filter(col("rings").isNotNull)
      .select(col("poly_id"), cells.ringCoverLevels(col("rings"), 0.0).as("l"))
      .collect().map(r => r.getString(0) -> r.getSeq[Int](1)).toMap
    assert(lv("small").min > lv("big").max,
      s"small polygon must cover at a finer level: $lv")
    assert(lv("multi").distinct.length >= 1 && lv.size == 3)
  }

  test("zonalStats equals the per-polygon aggregate of the all-pairs reference") {
    // value derived from the id so the reference can recompute it
    val valued = ptsDf.withColumn("v", (col("id") % 97).cast("double"))
    val got = SpatialJoins.zonalStats(valued, "n", "id", polysDf, "poly_id", "rings",
        Seq(count(lit(1)).as("n_points"), sum(col("v")).as("sum_v"),
          min(col("id")).as("min_id")))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2), r.getLong(3))))
      .toMap
    val insidePairs = for {
      (i, la, lo) <- pts
      p = Gade.latLonToNvec(math.toRadians(la), math.toRadians(lo))
      (id, rings) <- polyDefs if refInside(p, rings)
    } yield (id, i)
    val want = insidePairs.groupBy(_._1).map { case (id, xs) =>
      val ids = xs.map(_._2)
      id -> ((ids.length.toLong, ids.map(i => (i % 97).toDouble).sum, ids.min))
    }
    assert(want.nonEmpty && want.keySet.size >= 2, s"degenerate fixture: $want")
    assert(got == want, s"got=$got want=$want")
  }

  test("nearestPolygon equals the brute region-distance argmin through ladder escalation") {
    // 50 km start: the global-noise points are far from every
    // polygon, so they must survive several escalation rounds and
    // still come out with the exact global argmin
    val got = SpatialJoins.nearestPolygon(ptsDf, "n", "id",
      polysDf, "poly_id", "rings", startMeters = 50e3)
    val gm = got.collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getDouble(2)))).toMap
    got.unpersist()
    val R = Ellipsoids.MeanEarthRadius
    val want = pts.map { case (i, la, lo) =>
      val p = Gade.latLonToNvec(math.toRadians(la), math.toRadians(lo))
      val cands = polyDefs.map { case (id, rings) =>
        (math.max(refBoundary(p, rings) * R, 0.0), id) }
      val (d, id) = cands.min
      i -> ((id, d))
    }.toMap
    assert(gm.keySet == want.keySet) // default cap matches every point
    val bad = want.collect { case (k, (id, d))
      if gm(k)._1 != id || math.abs(gm(k)._2 - d) > 1e-6 => (k, gm(k), (id, d)) }
    assert(bad.isEmpty, s"${bad.take(5)}")
    // contained points report region distance exactly 0
    val inside = want.filter(_._2._2 == 0.0).keys
    assert(inside.nonEmpty && inside.forall(k => gm(k)._2 == 0.0))
  }

  // route-TABLE fixture for nearestRoute: three polylines of very
  // different lengths/locations (the global-noise points are far from
  // all of them, forcing several escalation rounds)
  private val routeDefs = Seq(
    "ra" -> Seq((0.0, -30.0), (12.0, -20.0), (20.0, -5.0)),
    "rb" -> Seq((35.0, 65.0), (45.0, 75.0), (50.0, 88.0), (42.0, 95.0)),
    "rc" -> Seq((40.5, 100.2), (41.2, 101.3)))

  private def flatVerts(vs: Seq[(Double, Double)]): Seq[Double] =
    vs.flatMap { case (la, lo) =>
      val v = Gade.latLonToNvec(math.toRadians(la), math.toRadians(lo))
      Seq(v.x, v.y, v.z)
    }

  private def routesDf = routeDefs.map { case (id, vs) => (id, flatVerts(vs)) }
    .toDF("route_id", "verts")

  private def refRouteDist(p: Vec3, vs: Seq[(Double, Double)]): Double = {
    val vn = vs.map { case (la, lo) =>
      Gade.latLonToNvec(math.toRadians(la), math.toRadians(lo)) }
    vn.indices.init.map { i =>
      graft.index.CellKernels.segDistRad(p.x, p.y, p.z,
        vn(i).x, vn(i).y, vn(i).z,
        vn(i + 1).x, vn(i + 1).y, vn(i + 1).z)
    }.min
  }

  test("nearestRoute equals the brute segment-distance argmin through ladder escalation") {
    val got = SpatialJoins.nearestRoute(ptsDf, "n", "id",
      routesDf, "route_id", "verts", startMeters = 50e3)
    val gm = got.collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getDouble(2)))).toMap
    got.unpersist()
    val want = pts.map { case (i, la, lo) =>
      val p = Gade.latLonToNvec(math.toRadians(la), math.toRadians(lo))
      val (d, id) = routeDefs.map { case (id, vs) =>
        (refRouteDist(p, vs) * R, id) }.min
      i -> ((id, d))
    }.toMap
    assert(gm.keySet == want.keySet) // default cap matches every point
    val bad = want.collect { case (k, (id, d))
      if gm(k)._1 != id || math.abs(gm(k)._2 - d) > 1e-6 => (k, gm(k), (id, d)) }
    assert(bad.isEmpty, s"${bad.take(5)}")
  }

  test("nearestRoute under a cap keeps exactly the points within maxMeters") {
    val cap = 500e3
    val got = SpatialJoins.nearestRoute(ptsDf, "n", "id",
      routesDf, "route_id", "verts", startMeters = 50e3, maxMeters = cap)
    val gm = got.collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getDouble(2)))).toMap
    got.unpersist()
    val want = pts.flatMap { case (i, la, lo) =>
      val p = Gade.latLonToNvec(math.toRadians(la), math.toRadians(lo))
      val (d, id) = routeDefs.map { case (id, vs) =>
        (refRouteDist(p, vs) * R, id) }.min
      if (d <= cap) Some(i -> ((id, d))) else None
    }.toMap
    assert(want.nonEmpty && want.size < pts.size, s"degenerate cap fixture: ${want.size}")
    assert(gm.keySet == want.keySet)
    val bad = want.collect { case (k, (id, d))
      if gm(k)._1 != id || math.abs(gm(k)._2 - d) > 1e-6 => (k, gm(k), (id, d)) }
    assert(bad.isEmpty, s"${bad.take(5)}")
  }

  test("an empty (or all-null-rings) polygon table yields the empty join") {
    val empty = Seq.empty[(String, Seq[Double])].toDF("poly_id", "rings")
    val allNull = Seq(("n1", null.asInstanceOf[Seq[Double]])).toDF("poly_id", "rings")
    for (polys <- Seq(empty, allNull)) {
      val pip = SpatialJoins.polygonJoin(ptsDf, "n", "id", polys, "poly_id", "rings")
      assert(pip.columns.toSet == Set("id", "n", "poly_id"))
      assert(pip.count() == 0L)
      val buf = SpatialJoins.polygonBufferJoin(
        ptsDf, "n", "id", polys, "poly_id", "rings", 50e3)
      assert(buf.columns.toSet == Set("id", "n", "poly_id", "dist_m"))
      assert(buf.count() == 0L)
    }
  }

  import PolygonTableJoinSpec.{adversarial, adversarialPoints, sameRows}

  // the mixed-size fixture plus the adversarial polygons, a null-id
  // row and a null-rings row
  private def adversarialPolys = ((polyDefs ++ adversarial).map { case (id, r) => (id, flatRings(r)) } ++
    Seq((null.asInstanceOf[String], flatRings(small)), ("nullrow", null.asInstanceOf[Seq[Double]])))
    .toDF("poly_id", "rings")

  // the scatter plus points on and around the adversarial polygons
  // (their edges, the face corner, the poles, the antimeridian) and a
  // row with a null position
  private def adversarialPts: DataFrame = {
    val extra = adversarialPoints.zipWithIndex.map { case ((la, lo), i) => (100000L + i, la, lo) }
    val n = (pts ++ extra).toDF("id", "lat", "lon")
      .select(col("id"), geo.nvecDeg(col("lat"), col("lon")).as("n"))
    n.unionByName(Seq(-1L).toDF("id").select(col("id"), lit(null).cast(n.schema("n").dataType).as("n")))
  }

  private def planned(df: DataFrame, kernel: String): Boolean =
    df.queryExecution.analyzed.toString.contains(kernel)

  test("small polygon tables take the kernel path with the cover path's rows and schema") {
    val empty = Seq.empty[(String, Seq[Double])].toDF("poly_id", "rings")
    val bufM = 200e3
    for (polys <- Seq(adversarialPolys, empty); points <- Seq(adversarialPts, ptsDf)) {
      val pip = SpatialJoins.polygonJoin(points, "n", "id", polys, "poly_id", "rings")
      assert(planned(pip, "pipScan") && !planned(pip, "ringCoverLevels"))
      sameRows(pip, SpatialJoins.containsCover(points, "n", polys, "poly_id", "rings"))
      val buf = SpatialJoins.polygonBufferJoin(points, "n", "id", polys, "poly_id", "rings", bufM)
      assert(planned(buf, "pipBufferScan"))
      sameRows(buf, SpatialJoins.bufferCover(points, "n", polys, "poly_id", "rings", bufM, R, "dist_m"))
      val aggs = Seq(count(lit(1)).as("n_points"), max(col("id")).as("max_id"))
      sameRows(SpatialJoins.zonalStats(points, "n", "id", polys, "poly_id", "rings", aggs),
        SpatialJoins.containsCover(points, "n", polys, "poly_id", "rings")
          .groupBy(col("poly_id")).agg(aggs.head, aggs.tail: _*))
    }
    // the fixture reaches every adversarial polygon and both branches
    val hits = SpatialJoins.polygonJoin(adversarialPts, "n", "id", adversarialPolys, "poly_id", "rings")
      .select("poly_id").distinct().collect().map(_.getString(0)).toSet
    assert(adversarial.map(_._1).toSet.subsetOf(hits), s"polygons with no hit: ${adversarial.map(_._1).toSet -- hits}")
  }

  test("polygonJoin over a 200-row parquet table builds in one job and never shuffles the points") {
    // shaped like the benchmark's polygon table: 6-24 vertex rings of
    // 100-800 km, every fourth with a hole, some across the
    // antimeridian, one around each pole
    val rnd = new scala.util.Random(4242)
    def circle(la: Double, lo: Double, r: Double, k: Int, phase: Double) = {
      val c = Gade.latLonToNvec(math.toRadians(la), math.toRadians(lo))
      (0 until k).map { j =>
        val (pla, plo) = Gade.nvecToLatLon(Gade.sphereReckon(c, r, phase - 2 * math.Pi * j / k))
        (math.toDegrees(pla), math.toDegrees(plo))
      }
    }
    val specs = (0 until 200).map { i =>
      val r = (100e3 + 700e3 * rnd.nextDouble()) / R
      val (la, lo) =
        if (i == 0) (89.5, 0.0) else if (i == 1) (-89.0, 10.0)
        else if (i % 7 == 0) (rnd.nextDouble() * 120.0 - 60.0, 180.0 - math.toDegrees(r * 0.3))
        else (math.toDegrees(math.asin(rnd.nextDouble() * 2 - 1)), rnd.nextDouble() * 360.0 - 180.0)
      val phase = rnd.nextDouble() * 2 * math.Pi
      val outer = circle(la, lo, r, 6 + rnd.nextInt(19), phase)
      (s"poly_$i", if (i % 4 == 3) Seq(outer, circle(la, lo, r * 0.4, 8, phase).reverse) else Seq(outer))
    }
    val dir = tempDir("polys200")
    specs.map { case (id, rings) => (id, flatRings(rings)) }.toDF("poly_id", "rings")
      .repartition(1).write.parquet(s"$dir/polys")
    ptsDf.write.parquet(s"$dir/points")
    // schema inference of the reads runs its own job: plan them first
    val polys = spark.read.parquet(s"$dir/polys")
    val points = spark.read.parquet(s"$dir/points")
    val (pip, jobs) = JobCount(spark)(SpatialJoins.polygonJoin(points, "n", "id", polys, "poly_id", "rings"))
    assert(jobs == 1, s"building polygonJoin ran $jobs jobs")
    sameRows(pip, SpatialJoins.containsCover(points, "n", polys, "poly_id", "rings"))
    val plan = pip.queryExecution.executedPlan.toString
    for (op <- Seq("Exchange", "SortMergeJoin", "BroadcastNestedLoopJoin", "CartesianProduct"))
      assert(!plan.contains(op), s"$op in the kernel path's plan:\n$plan")
    val want = (for {
      (i, la, lo) <- pts
      p = Gade.latLonToNvec(math.toRadians(la), math.toRadians(lo))
      (id, rings) <- specs if refEvenOdd(p, rings)
    } yield (i, id)).toSet
    val got = pip.select("id", "poly_id").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(want.nonEmpty && got == want, s"missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
  }

  // even-odd through the single-ring winding kernel (the benchmark
  // rings are not all convex in refInside's orientation)
  private def refEvenOdd(p: Vec3, rings: Seq[Seq[(Double, Double)]]): Boolean =
    rings.count(r => graft.index.CellKernels.pointInPolygon(p.x, p.y, p.z,
      new org.apache.spark.sql.catalyst.util.GenericArrayData(graft.index.CellIndex.flatNvecs(r)))) % 2 == 1

  test("a polygon table above the size gate plans the distributed cover") {
    // a million-row range filtered to 3 rows: the statistics estimate
    // far more than 10,000 rows, so the gate must not collect it
    val big = spark.range(0, 1000000).filter(col("id") < 3)
      .select(concat(lit("p"), col("id").cast("string")).as("poly_id"),
        typedLit(flatRings(small)).as("rings"))
    val pip = SpatialJoins.polygonJoin(ptsDf, "n", "id", big, "poly_id", "rings")
    assert(planned(pip, "ringCoverCells") && !planned(pip, "pipScan"))
    val inSmall = pts.count { case (_, la, lo) =>
      refInside(Gade.latLonToNvec(math.toRadians(la), math.toRadians(lo)), small) }
    assert(inSmall > 0 && pip.count() == 3L * inSmall)
    val buf = SpatialJoins.polygonBufferJoin(ptsDf, "n", "id", big, "poly_id", "rings", 50e3)
    assert(planned(buf, "ringCoverCells") && !planned(buf, "pipBufferScan"))
  }

  test("hemisphere-violating rings throw instead of silently mis-containing") {
    // a ring spanning > 90 deg from its centroid (near-hemispheric)
    val bad = Seq(Seq((-80.0, 0.0), (-80.0, 120.0), (-80.0, -120.0),
      (80.0, -60.0), (80.0, 60.0)))
    val df = Seq(("bad", flatRings(bad))).toDF("poly_id", "rings")
    val ex = intercept[org.apache.spark.SparkException] {
      SpatialJoins.polygonJoin(ptsDf, "n", "id", df, "poly_id", "rings").count()
    }
    assert(ex.getMessage.contains("hemisphere") ||
      Option(ex.getCause).exists(_.getMessage.contains("hemisphere")))
  }
}

object PolygonTableJoinSpec {
  import org.scalatest.Assertions._

  private def box(lat0: Double, lat1: Double, lon0: Double, lon1: Double) =
    Seq((lat0, lon0), (lat0, lon1), (lat1, lon1), (lat1, lon0))

  /** Latitude of the cube-face corner (1, 1, 1) / sqrt(3) at lon 45. */
  val CornerLat: Double = math.toDegrees(math.atan(1.0 / math.sqrt(2.0)))

  /** Polygons where a cell cover is easiest to get wrong: one whose
    * cover straddles a cube-face corner, ring edges running along cell
    * edges (the meridian lon 45 is a face edge, the equator a cell
    * edge at every level), an antimeridian ring, polar rings (one
    * with a hole around the pole).
    */
  val adversarial: Seq[(String, Seq[Seq[(Double, Double)]])] = Seq(
    "corner" -> Seq(box(CornerLat - 2.0, CornerLat + 2.0, 43.0, 47.0)),
    "face_edge" -> Seq(box(10.0, 20.0, 45.0, 52.0)),
    "equator" -> Seq(box(0.0, 6.0, 100.0, 110.0)),
    "antimeridian" -> Seq(Seq((-10.0, 175.0), (-10.0, -175.0), (10.0, -175.0), (10.0, 175.0))),
    "north" -> Seq((0 until 8).map(i => (80.0, -180.0 + 45.0 * i))),
    "south" -> Seq((0 until 6).map(i => (-70.0, 30.0 + 60.0 * i)),
      (0 until 6).map(i => (-84.0, 60.0 * i))))

  /** Points on and near [[adversarial]]: the corner, points on the
    * cell-edge ring edges, the poles, the antimeridian, and a grid
    * around each polygon. */
  val adversarialPoints: Seq[(Double, Double)] =
    Seq((CornerLat, 45.0), (15.0, 45.0), (0.0, 105.0), (90.0, 0.0), (-90.0, 0.0),
      (0.0, 180.0), (0.0, -180.0), (5.0, 180.0), (-77.0, 10.0), (-88.0, 100.0)) ++
      (for {
        (la, lo) <- Seq((CornerLat, 45.0), (15.0, 48.5), (3.0, 105.0), (0.0, 180.0), (82.0, 0.0), (-78.0, 0.0))
        i <- -6 to 6; j <- -6 to 6
      } yield (math.max(-90.0, math.min(90.0, la + 1.1 * i)), lo + 1.3 * j))

  /** Equal schemas (nullability included) and equal rows as multisets. */
  def sameRows(got: org.apache.spark.sql.DataFrame, want: org.apache.spark.sql.DataFrame): Unit = {
    assert(got.schema == want.schema, s"schema ${got.schema.treeString} vs ${want.schema.treeString}")
    val g = got.collect().map(_.toString).sorted.toSeq
    val w = want.collect().map(_.toString).sorted.toSeq
    assert(g == w, s"missing=${w.diff(g).take(5)} extra=${g.diff(w).take(5)}")
  }
}
