package graft.index

import org.scalatest.funsuite.AnyFunSuite
import graft.geo.{Gade, Vec3, VecMath}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import graft.SparkTestSession.rnd

class CellIndexSpec extends AnyFunSuite {
  import CellIndex._

  /** Deterministic splitmix64-based pseudo-random doubles in [0,1). */
  def randomPoint(i: Long): Vec3 = {
    val lat = math.asin(2 * rnd(i * 2) - 1)
    val lon = math.Pi * (2 * rnd(i * 2 + 1) - 1)
    Gade.latLonToNvec(lat, lon)
  }

  test("pack/unpack round trip") {
    for (face <- 0 to 5; level <- Seq(0, 1, 7, 26)) {
      val scale = 1 << level
      val i = math.min(scale - 1, 12345 % scale)
      val j = math.min(scale - 1, 999 % scale)
      val id = pack(face, level, i, j)
      assert(id >= 0)
      assert(faceOf(id) == face && levelOf(id) == level && iOf(id) == i && jOf(id) == j)
    }
  }

  test("cell of point contains the point (center is in same cell)") {
    for (i <- 1L to 500L; level <- Seq(3, 10, 18)) {
      val p = randomPoint(i)
      val id = cellAt(p.x, p.y, p.z, level)
      val c = VecMath.unit(centerXYZ(id))
      assert(cellAt(c.x, c.y, c.z, level) == id)
      // point and its cell center are within a cell diagonal
      val maxAngle = 2.0 / (1 << level) * 1.5
      assert(Gade.greatCircleDistanceRad(p, c) <= maxAngle)
    }
  }

  test("parent/children consistency") {
    for (i <- 1L to 200L) {
      val p = randomPoint(i)
      val id = cellAt(p.x, p.y, p.z, 12)
      assert(parent(id) == cellAt(p.x, p.y, p.z, 11))
      assert(children(parent(id)).contains(id))
      assert(parent(id, 12) == cellAt(p.x, p.y, p.z, 0))
    }
  }

  test("ring contains own cell; interior rings have 9 cells") {
    val p = Gade.latLonToNvec(0.3, 0.3) // mid-face
    val id = cellAt(p.x, p.y, p.z, 10)
    val r = ring(id, 1)
    assert(r.contains(id))
    assert(r.length == 9)
    assert(r.sorted.sameElements(r), "ring must be sorted")
  }

  test("k-ring coverage: any point within ringCoverageRad is joinable") {
    // random points plus points forced hard against face edges and
    // corners (where the gnomonic compresses below the on-face
    // minimum and the old jitter-sampled enumeration had holes)
    def edgyPoint(i: Long): Vec3 = {
      val face = (rnd(i * 5) * 6).toInt.min(5)
      val eps = math.pow(10.0, -1 - 8 * rnd(i * 7 + 1))
      val u = 1.0 - eps
      val v = 2 * rnd(i * 11 + 2) - 1
      val d = CellIndex.dirOf(face, if (rnd(i * 13 + 3) < 0.5) u else -u,
        if (rnd(i * 17 + 4) < 0.5) v else if (v >= 0) 1.0 - eps else -1.0 + eps)
      VecMath.unit(d)
    }
    var checked = 0
    for (i <- 1L to 2000L; level <- Seq(3, 6, 10); k <- Seq(1, 2, 4)) {
      val p = if (i % 2 == 0) randomPoint(i) else edgyPoint(i)
      val cov = ringCoverageRad(p.x, p.y, p.z, level, k)
      val angle = cov * rnd(i * 31 + level * 7 + k)
      val az = 2 * math.Pi * rnd(i * 37 + level * 11 + k)
      val q = Gade.sphereReckon(p, angle, az)
      val ringP = ring(cellAt(p.x, p.y, p.z, level), k)
      val cellQ = cellAt(q.x, q.y, q.z, level)
      assert(java.util.Arrays.binarySearch(ringP, cellQ) >= 0,
        s"point $i level $level k $k not covered (angle=$angle cov=$cov p=$p)")
      checked += 1
    }
    assert(checked == 18000)
  }

  test("coverageLowerBound is a lower bound on per-point coverage") {
    for (i <- 1L to 500L; level <- Seq(3, 6, 10); k <- Seq(1, 2, 4)) {
      val p = randomPoint(i)
      assert(coverageLowerBound(level, k) <=
        ringCoverageRad(p.x, p.y, p.z, level, k) + 1e-12)
    }
  }

  test("wrap-around blocks enumerate every cell (full-sphere coverage)") {
    assert(allCells(2).length == 96)
    val p = randomPoint(42)
    val id = cellAt(p.x, p.y, p.z, 2)
    assert(ring(id, 2).sameElements(allCells(2)))
    assert(ringCoverageRad(p.x, p.y, p.z, 2, 2) == math.Pi)
  }

  test("capCells covers every point of the cap (disc-cover property)") {
    for (i <- 1L to 300L) {
      val c = randomPoint(i * 17)
      val ang = 0.01 + 1.2 * rnd(i * 19) // up to ~continent size
      val level = 2 + (rnd(i * 23) * 4).toInt
      val cover = capCells(c.x, c.y, c.z, level, ang)
      assert(cover.nonEmpty)
      for (j <- 1 to 30) {
        val q = Gade.sphereReckon(c, ang * rnd(i * 1000 + j),
          2 * math.Pi * rnd(i * 2000 + j))
        val cq = cellAt(q.x, q.y, q.z, level)
        assert(java.util.Arrays.binarySearch(cover, cq) >= 0,
          s"i=$i level=$level ang=$ang point not covered")
      }
      // the lower bound is a true lower bound: cells far outside the
      // cap are excluded (cover is not the whole sphere for small caps)
      if (ang < 0.3 && level >= 4) assert(cover.length < allCells(level).length / 4)
      // quadtree descent is a SUBSET of the one-shot enumeration (an
      // ancestor's lower bound can prove a loose-bounded child is
      // outside the cap — descent prunes it, the flat filter cannot);
      // the coverage loop above is the completeness guarantee
      if (level <= 4) {
        val brute = allCells(level).filter(cc =>
          cellMinDistLB(cc, c.x, c.y, c.z) <= ang).toSet
        assert(cover.forall(brute.contains))
      }
    }
    // fine levels work without full-sphere enumeration (the old cap)
    val p = randomPoint(991)
    val fine = capCells(p.x, p.y, p.z, 14, 0.0005)
    // cap diameter ~8 cells at level 14 -> cover stays O(10^2), not
    // the 1.6e9-cell full level
    assert(fine.nonEmpty && fine.length < 400)
    assert(fine.contains(cellAt(p.x, p.y, p.z, 14)))
  }

  /** The descent capCells had before its sine-space kernel: each
    * level's children filtered by cellMinDistLB <= angleRad.
    */
  private def capCellsReference(x: Double, y: Double, z: Double, level: Int,
                                angleRad: Double): Array[Long] = {
    var frontier = Array.tabulate(6)(f => pack(f, 0, 0, 0))
      .filter(c => cellMinDistLB(c, x, y, z) <= angleRad)
    for (_ <- 0 until level)
      frontier = frontier.flatMap(children).filter(c => cellMinDistLB(c, x, y, z) <= angleRad)
    frontier.sorted
  }

  test("capCells returns exactly the reference descent's cells") {
    def deg(la: Double, lo: Double) = Gade.latLonToNvec(math.toRadians(la), math.toRadians(lo))
    val corners = for (sx <- Seq(-1.0, 1.0); sy <- Seq(-1.0, 1.0); sz <- Seq(-1.0, 1.0))
      yield VecMath.unit(Vec3(sx, sy, sz))
    val special = Seq(Vec3(0, 0, 1), Vec3(0, 0, -1)) ++
      Seq(-60.0, 0.0, 33.0, 75.0).flatMap(la =>
        Seq(deg(la, 180.0), deg(la, -180.0), deg(la, 179.9999999))) ++
      // cube-face edges (x = y, x = z, -x = y) and just off them
      Seq(deg(0, 45), deg(45, 0), deg(0, -135), deg(1e-10, 45 + 1e-10), deg(-1e-9, 135)) ++
      corners
    val points = special ++ (1L to 120L).map(i => randomPoint(i * 31))
    val halfPi = math.Pi / 2
    var cases = 0
    points.zipWithIndex.foreach { case (p, k) =>
      val seeded = (0 until 4).map(j => 1e-7 * math.pow(0.6 / 1e-7, rnd(k * 97L + j)))
      // angles exactly at a cell's bound, and one ulp either side: the
      // sine-space test's asin fallback band
      val onBound = capCellsReference(p.x, p.y, p.z, 6, 0.05)
        .map(c => cellMinDistLB(c, p.x, p.y, p.z)).filter(_ > 0).takeRight(2)
        .flatMap(b => Seq(b, math.nextUp(b), math.nextDown(b)))
      val angles = Seq(1e-12, halfPi - 1e-9, halfPi - 1e-10, math.nextDown(halfPi), halfPi,
        math.Pi) ++ seeded ++ onBound
      for (ang <- angles) {
        // every level up to the first whose cover exceeds 2048 cells
        var level = 0
        var bounded = true
        while (bounded && level <= MaxLevel) {
          val want = capCellsReference(p.x, p.y, p.z, level, ang)
          val got = capCells(p.x, p.y, p.z, level, ang)
          assert(got.sameElements(want),
            s"p=$p level=$level ang=$ang: ${got.length} cells, reference ${want.length}")
          assert(CellKernels.capCells(p.x, p.y, p.z, level, ang).toLongArray().sameElements(want))
          cases += 1
          bounded = want.length <= 2048
          level += 1
        }
      }
    }
    assert(cases > 10000, cases)
    // a NaN coordinate has no cells, at any angle
    for (ang <- Seq(0.01, halfPi, math.Pi)) {
      assert(capCells(Double.NaN, 0.0, 1.0, 5, ang).isEmpty)
      assert(capCells(0.0, 0.0, Double.NaN, 3, ang).isEmpty)
    }
  }

  test("levelForRadiusSafe guarantees block coverage at the level it picks") {
    for (meters <- Seq(10.0, 1000.0, 50000.0, 1e6); k <- Seq(1, 2)) {
      val angle = meters / 6371009.0
      val l = levelForRadiusSafe(angle, k)
      assert(l >= 2)
      assert(coverageLowerBound(l, k) >= angle)
    }
    // beyond the cube-face block saturation no level works
    assert(levelForRadiusSafe(0.5, 1) == -1)
  }

  test("point in polygon: winding test") {
    // a lat/lon box around (0,0)
    val box = Array((-10.0, -10.0), (-10.0, 10.0), (10.0, 10.0), (10.0, -10.0))
    val flat = box.flatMap { case (la, lo) =>
      val n = Gade.latLonToNvec(math.toRadians(la), math.toRadians(lo))
      Array(n.x, n.y, n.z)
    }
    def inside(latDeg: Double, lonDeg: Double): Boolean = {
      val p = Gade.latLonToNvec(math.toRadians(latDeg), math.toRadians(lonDeg))
      CellKernels.pointInPolygon(p.x, p.y, p.z, new GenericArrayData(flat))
    }
    assert(inside(0, 0))
    assert(inside(9, 9))
    assert(!inside(11, 0))
    assert(!inside(0, 11))
    assert(!inside(-45, 100))
    assert(!inside(89, 0))

    // antimeridian-crossing polygon
    val am = Array((-5.0, 175.0), (-5.0, -175.0), (5.0, -175.0), (5.0, 175.0))
    val amFlat = am.flatMap { case (la, lo) =>
      val n = Gade.latLonToNvec(math.toRadians(la), math.toRadians(lo))
      Array(n.x, n.y, n.z)
    }
    def insideAm(la: Double, lo: Double): Boolean = {
      val p = Gade.latLonToNvec(math.toRadians(la), math.toRadians(lo))
      CellKernels.pointInPolygon(p.x, p.y, p.z, new GenericArrayData(amFlat))
    }
    assert(insideAm(0, 179))
    assert(insideAm(0, -179))
    assert(!insideAm(0, 170))
    assert(!insideAm(0, 0))

    // pole-containing polygon (lat ring at 80N, CCW seen from pole)
    val pole = (0 until 8).map(i => (80.0, -180.0 + 45.0 * i))
    val poleFlat = pole.flatMap { case (la, lo) =>
      val n = Gade.latLonToNvec(math.toRadians(la), math.toRadians(lo))
      Seq(n.x, n.y, n.z)
    }.toArray
    def insidePole(la: Double, lo: Double): Boolean = {
      val p = Gade.latLonToNvec(math.toRadians(la), math.toRadians(lo))
      CellKernels.pointInPolygon(p.x, p.y, p.z, new GenericArrayData(poleFlat))
    }
    assert(insidePole(89, 33))
    assert(insidePole(85, -120))
    assert(!insidePole(70, 0))

    // concave polygon (notched box)
    val concave = Array((-10.0, -10.0), (-10.0, 10.0), (10.0, 10.0),
      (0.0, 0.5), (10.0, -10.0))
    val cFlat = concave.flatMap { case (la, lo) =>
      val n = Gade.latLonToNvec(math.toRadians(la), math.toRadians(lo))
      Array(n.x, n.y, n.z)
    }
    def insideC(la: Double, lo: Double): Boolean = {
      val p = Gade.latLonToNvec(math.toRadians(la), math.toRadians(lo))
      CellKernels.pointInPolygon(p.x, p.y, p.z, new GenericArrayData(cFlat))
    }
    assert(insideC(-5, 0))   // below the notch
    assert(!insideC(8, 0))   // inside the notch -> outside polygon
    assert(insideC(8, 9))    // right arm
  }
}
