package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.util.GenericArrayData
import graft.{JobCount, SparkTestSession}
import graft.functions.geo
import graft.geo.Gade
import graft.index.{CellIndex, CellKernels}
import graft.operators.SpatialJoins.{Aoi, AoiM}

/** Multipolygon / polygon-with-holes AOIs: even-odd containment,
  * signed boundary distance over every ring's edges, and the cover
  * joins — against per-ring single-ring kernels (their own oracle-
  * gated machinery) combined by parity, plus hand geometry including
  * a concave outer, an island-in-a-lake, a disjoint part, and an
  * antimeridian-straddling part.
  */
class AoiMSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  val R = graft.geo.Ellipsoids.MeanEarthRadius

  def box(lat0: Double, lat1: Double, lon0: Double, lon1: Double) =
    Seq((lat0, lon0), (lat0, lon1), (lat1, lon1), (lat1, lon0))

  // donut with an island, plus a disjoint antimeridian-straddling part:
  //   outer 30x30 deg box, 12x12 hole, 4x4 island inside the hole,
  //   and a 10x20 box across lon 180
  val outer = box(-15.0, 15.0, -15.0, 15.0)
  val hole = box(-6.0, 6.0, -6.0, 6.0)
  val island = box(-2.0, 2.0, -2.0, 2.0)
  val amPart = Seq((40.0, 170.0), (40.0, -170.0), (50.0, -170.0), (50.0, 170.0))
  val multi = AoiM("m", Seq(outer, hole, island, amPart))

  // concave (L-shaped) outer with a hole in its thick corner
  val lShape = Seq((-10.0, 40.0), (-10.0, 60.0), (0.0, 60.0), (0.0, 50.0),
    (10.0, 50.0), (10.0, 40.0))
  val lHole = box(-8.0, -2.0, 42.0, 48.0)
  val concave = AoiM("c", Seq(lShape, lHole))

  def flat(a: AoiM) = new GenericArrayData(a.flatRings)
  def ringsInside(a: AoiM, p: graft.geo.Vec3): Boolean =
    CellKernels.pointInPolygonRings(p.x, p.y, p.z, flat(a))
  def ringsDist(a: AoiM, p: graft.geo.Vec3): Double =
    CellKernels.boundaryDistSignedRings(p.x, p.y, p.z, flat(a))
  def one(ring: Seq[(Double, Double)], p: graft.geo.Vec3): Boolean =
    CellKernels.pointInPolygon(p.x, p.y, p.z,
      new GenericArrayData(CellIndex.flatNvecs(ring)))
  def oneDist(ring: Seq[(Double, Double)], p: graft.geo.Vec3): Double =
    CellKernels.boundaryDistSigned(p.x, p.y, p.z,
      new GenericArrayData(CellIndex.flatNvecs(ring)))
  def pt(lat: Double, lon: Double) =
    Gade.latLonToNvec(math.toRadians(lat), math.toRadians(lon))

  test("hand geometry: ring area in, hole out, island in, disjoint + antimeridian parts in") {
    assert(ringsInside(multi, pt(10.0, 10.0)), "outer ring area")
    assert(!ringsInside(multi, pt(4.0, 4.0)), "inside the hole")
    assert(ringsInside(multi, pt(0.0, 0.0)), "island inside the hole")
    assert(!ringsInside(multi, pt(20.0, 0.0)), "outside everything")
    assert(ringsInside(multi, pt(45.0, 179.0)), "antimeridian part, east side")
    assert(ringsInside(multi, pt(45.0, -179.0)), "antimeridian part, west side")
    assert(!ringsInside(multi, pt(45.0, 160.0)), "west of the antimeridian part")
    assert(ringsInside(concave, pt(5.0, 45.0)), "thin arm of the L")
    assert(ringsInside(concave, pt(-9.5, 55.0)), "thick base of the L")
    assert(!ringsInside(concave, pt(5.0, 55.0)), "concave notch")
    assert(!ringsInside(concave, pt(-5.0, 45.0)), "hole in the L")
  }

  test("even-odd equals per-ring single-ring kernels combined by parity") {
    val rnd = new scala.util.Random(7)
    (0 until 4000).foreach { _ =>
      val lat = rnd.nextDouble() * 140.0 - 70.0
      val lon = rnd.nextDouble() * 360.0 - 180.0
      val p = pt(lat, lon)
      for (a <- Seq(multi, concave)) {
        val want = a.ringsLatLonDeg.count(one(_, p)) % 2 == 1
        assert(ringsInside(a, p) == want, s"parity mismatch at ($lat, $lon) for ${a.id}")
        val wantD = {
          val m = a.ringsLatLonDeg.map(r => math.abs(oneDist(r, p))).min
          if (want) -m else m
        }
        val got = ringsDist(a, p)
        assert(got == wantD,
          s"boundary dist mismatch at ($lat, $lon) for ${a.id}: $got vs $wantD")
      }
    }
    // a single ring IS the k = 1 ring list: the flat-vertex kernels
    // and the ring-list kernels over [1, n, flat] agree bit for bit,
    // over the whole sphere and the box / antimeridian / polar /
    // concave rings of SpatialJoinsSpec's aoi join test
    val singles = Seq(
      box(-10.0, 10.0, -10.0, 10.0),
      Seq((-20.0, 160.0), (-20.0, -160.0), (25.0, -160.0), (25.0, 160.0)),
      (0 until 8).map(i => (75.0, -180.0 + 45.0 * i)),
      Seq((30.0, 60.0), (30.0, 80.0), (50.0, 80.0), (40.0, 70.0), (50.0, 60.0)))
    val sphere = (0 until 4000).map { _ =>
      (math.toDegrees(math.asin(rnd.nextDouble() * 2.0 - 1.0)), rnd.nextDouble() * 360.0 - 180.0)
    }
    val near = singles.flatMap(_.map { case (la, lo) =>
      (la + rnd.nextGaussian(), lo + rnd.nextGaussian()) })
    for (ring <- singles; (lat, lon) <- sphere ++ near) {
      val p = pt(lat, lon)
      val asList = AoiM("r", Seq(ring))
      assert(one(ring, p) == ringsInside(asList, p), s"inside mismatch at ($lat, $lon)")
      assert(oneDist(ring, p) == ringsDist(asList, p), s"dist mismatch at ($lat, $lon)")
    }
  }

  test("aoiJoinM / aoiBufferJoinM / aoiBoundaryDistanceM match the driver brute force") {
    val rnd = new scala.util.Random(11)
    val rows = (0 until 3000).map { i =>
      (i.toLong, rnd.nextDouble() * 140.0 - 70.0, rnd.nextDouble() * 360.0 - 180.0)
    }
    val df = rows.toDF("id", "lat", "lon")
      .select(col("id"), geo.nvecDeg(col("lat"), col("lon")).as("n"))
    val aois = Seq(multi, concave)

    val gotIn = SpatialJoins.aoiJoinM(df, "n", aois)
      .select("id", "aoi_id").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val wantIn = (for ((i, la, lo) <- rows; a <- aois if ringsInside(a, pt(la, lo)))
      yield (i, a.id)).toSet
    assert(gotIn == wantIn,
      s"aoiJoinM diff: +${(gotIn -- wantIn).take(5)} -${(wantIn -- gotIn).take(5)}")

    val buf = 300e3
    val gotBuf = SpatialJoins.aoiBufferJoinM(df, "n", aois, buf)
      .select("id", "aoi_id").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val wantBuf = (for ((i, la, lo) <- rows; a <- aois
      if ringsDist(a, pt(la, lo)) * R <= buf) yield (i, a.id)).toSet
    assert(gotBuf == wantBuf,
      s"aoiBufferJoinM diff: +${(gotBuf -- wantBuf).take(5)} -${(wantBuf -- gotBuf).take(5)}")

    val gotD = SpatialJoins.aoiBoundaryDistanceM(df, "n", aois)
      .select("id", "aoi_id", "dist_m").collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(gotD.size == rows.size * aois.size)
    rows.foreach { case (i, la, lo) =>
      aois.foreach { a =>
        val want = ringsDist(a, pt(la, lo)) * R
        assert(math.abs(gotD((i, a.id)) - want) < 1e-6,
          s"boundary dist mismatch id=$i aoi=${a.id}")
      }
    }
  }

  test("literal AOI joins plan without a job and validate before the levels kernel") {
    val df = Seq((1L, 1.0, 1.0)).toDF("id", "lat", "lon")
      .select(col("id"), geo.nvecDeg(col("lat"), col("lon")).as("n"))
    val (_, jobs) = JobCount(spark) {
      SpatialJoins.aoiJoinM(df, "n", Seq(multi, concave))
      SpatialJoins.aoiBufferJoinM(df, "n", Seq(multi, concave), 300e3)
    }
    assert(jobs == 0, s"building the literal AOI joins ran $jobs jobs")
    // the AoiM check names the AOI; the kernel's own check would not
    val wide = AoiM("wide", Seq((0 to 8).map(i => (0.0 + (i % 2), i * 25.0))))
    for (build <- Seq(() => SpatialJoins.aoiJoinM(df, "n", Seq(multi, wide)),
                      () => SpatialJoins.aoiBufferJoinM(df, "n", Seq(multi, wide), 300e3))) {
      val e = intercept[IllegalArgumentException](build())
      assert(e.getMessage.contains("AOI 'wide' ring 0 spans"), e.getMessage)
    }
  }

  test("literal AOI joins take the kernel path with the cover path's rows and schema") {
    import PolygonTableJoinSpec.{adversarial, adversarialPoints, sameRows}
    val rnd = new scala.util.Random(17)
    val rows = (0 until 1500).map { i =>
      (i.toLong, math.toDegrees(math.asin(rnd.nextDouble() * 2.0 - 1.0)), rnd.nextDouble() * 360.0 - 180.0)
    } ++ adversarialPoints.zipWithIndex.map { case ((la, lo), i) => (10000L + i, la, lo) }
    val n = rows.toDF("id", "lat", "lon").select(col("id"), geo.nvecDeg(col("lat"), col("lon")).as("n"))
    val df = n.unionByName(Seq(-1L).toDF("id")
      .select(col("id"), lit(null).cast(n.schema("n").dataType).as("n")))
    val aois = Seq(multi, concave) ++ adversarial.map { case (id, r) => AoiM(id, r) }
    val frame = SpatialJoins.aoiRingsFrame(spark, aois)
    val pip = SpatialJoins.aoiJoinM(df, "n", aois)
    assert(pip.queryExecution.analyzed.toString.contains("pipScan"))
    sameRows(pip, SpatialJoins.containsCover(df, "n", frame, "aoi_id", "__rings"))
    assert(pip.select("aoi_id").distinct().count() == aois.length, "every AOI must hold a point")
    for (buf <- Seq(0.0, 250e3)) {
      val got = SpatialJoins.aoiBufferJoinM(df, "n", aois, buf)
      assert(got.queryExecution.analyzed.toString.contains("pipBufferScan"))
      sameRows(got, SpatialJoins.bufferCover(df, "n", frame, "aoi_id", "__rings", buf, R, "dist_m"))
    }
  }

  test("single-ring AoiM agrees with the gated single-ring Aoi operators") {
    val ring = box(-20.0, 25.0, -40.0, 10.0)
    val rnd = new scala.util.Random(13)
    val df = (0 until 2000).map { i =>
      (i.toLong, rnd.nextDouble() * 120.0 - 60.0, rnd.nextDouble() * 360.0 - 180.0)
    }.toDF("id", "lat", "lon")
      .select(col("id"), geo.nvecDeg(col("lat"), col("lon")).as("n"))
    val a = SpatialJoins.aoiJoin(df, "n", Seq(Aoi("x", ring)))
      .select("id").collect().map(_.getLong(0)).toSet
    val m = SpatialJoins.aoiJoinM(df, "n", Seq(AoiM("x", Seq(ring))))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(a == m)
    val da = SpatialJoins.aoiBoundaryDistance(df, "n", Seq(Aoi("x", ring)))
      .select("id", "dist_m").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val dm = SpatialJoins.aoiBoundaryDistanceM(df, "n", Seq(AoiM("x", Seq(ring))))
      .select("id", "dist_m").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(da.keySet == dm.keySet)
    da.foreach { case (k, v) => assert(math.abs(dm(k) - v) < 1e-12) }
  }

  test("validation rejects degenerate and near-hemispheric rings") {
    intercept[IllegalArgumentException] {
      AoiM("bad", Seq(Seq((0.0, 0.0), (1.0, 1.0))))
    }
    intercept[IllegalArgumentException] {
      // equatorial sliver spanning 200 deg of longitude: farthest
      // vertex is ~100 deg from the ring's vertex centroid
      AoiM("wide", Seq((0 to 8).map(i => (0.0 + (i % 2), i * 25.0)),
        box(0.0, 1.0, 0.0, 1.0))).validated
    }
  }
}
