package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.GraftSqlBridge
import graft.geo.Ellipsoids

/** Column DSL for the n-vector geodesy kernels.
  *
  * Every algebraic kernel (Gade 2010 eqs 3, 5-6, 9, 16, 22; path and
  * azimuth operators) is composed from Spark builtin functions so the
  * whole pipeline stays inside Catalyst codegen, participates in
  * constant folding / pushdown, and has an exact ANSI-SQL mirror for
  * the DuckDB oracle. Only the iterative Karney solver goes through
  * `StaticInvoke` into [[GeoKernels]] (still codegen: a direct static
  * call in the generated code).
  *
  * Conventions: n-vectors are `struct(x, y, z)` doubles in the standard
  * ECEF frame (z to the North pole); NED deltas are `struct(n, e, d)`
  * meters; angles radians unless the function name says Deg.
  */
object geo {
  import Ellipsoids.{WGS84, MeanEarthRadius}

  // ---- 3-vector struct algebra -------------------------------------

  def vec(x: Column, y: Column, z: Column): Column =
    struct(x.as("x"), y.as("y"), z.as("z"))

  def vx(v: Column): Column = v.getField("x")
  def vy(v: Column): Column = v.getField("y")
  def vz(v: Column): Column = v.getField("z")

  def vadd(a: Column, b: Column): Column = vec(vx(a) + vx(b), vy(a) + vy(b), vz(a) + vz(b))
  def vsub(a: Column, b: Column): Column = vec(vx(a) - vx(b), vy(a) - vy(b), vz(a) - vz(b))
  def vscale(a: Column, s: Column): Column = vec(vx(a) * s, vy(a) * s, vz(a) * s)
  def vdot(a: Column, b: Column): Column = vx(a) * vx(b) + vy(a) * vy(b) + vz(a) * vz(b)
  def vcross(a: Column, b: Column): Column = vec(
    vy(a) * vz(b) - vz(a) * vy(b),
    vz(a) * vx(b) - vx(a) * vz(b),
    vx(a) * vy(b) - vy(a) * vx(b))
  def vnorm(a: Column): Column = sqrt(vdot(a, a))
  /** Normalize; degenerate (zero) vectors become NaN components. */
  def vunit(a: Column): Column = { val n = vnorm(a); vec(vx(a) / n, vy(a) / n, vz(a) / n) }

  // ---- conversions (Gade eqs 3, 5, 6, 22, 23) ----------------------

  /** lat/lon [rad] -> n-vector struct (Gade eq 3). */
  def nvec(lat: Column, lon: Column): Column =
    vec(cos(lat) * cos(lon), cos(lat) * sin(lon), sin(lat))

  def nvecDeg(latDeg: Column, lonDeg: Column): Column =
    nvec(radians(latDeg), radians(lonDeg))

  /** n-vector -> geodetic latitude [rad] (Gade eq 6, robust atan2). */
  def lat(n: Column): Column = atan2(vz(n), sqrt(vx(n) * vx(n) + vy(n) * vy(n)))
  /** n-vector -> longitude [rad] (Gade eq 5). */
  def lon(n: Column): Column = atan2(vy(n), vx(n))
  def latDeg(n: Column): Column = degrees(lat(n))
  def lonDeg(n: Column): Column = degrees(lon(n))

  /** Gade eq (22): n-vector + depth [m] -> ECEF p-vector [m]. */
  def toPvec(n: Column, depth: Column,
             a: Double = WGS84.a, f: Double = WGS84.f): Column = {
    val om = 1.0 - f
    val b = a * om
    val d = sqrt(vz(n) * vz(n) + (vx(n) * vx(n) + vy(n) * vy(n)) / lit(om * om))
    val s = lit(b) / d
    vec(s * vx(n) / lit(om * om) - vx(n) * depth,
        s * vy(n) / lit(om * om) - vy(n) * depth,
        s * vz(n) - vz(n) * depth)
  }

  /** Gade eq (23): ECEF p-vector -> struct(nvec struct, depth). Exact
    * (Newton-polished root) via a static kernel call.
    */
  def fromPvec(p: Column, a: Double = WGS84.a, f: Double = WGS84.f): Column = {
    val ret = StructType(Seq(StructField("x", DoubleType, nullable = false),
      StructField("y", DoubleType, nullable = false),
      StructField("z", DoubleType, nullable = false),
      StructField("depth", DoubleType, nullable = false)))
    val c = invoke("pvecToNvec", ret, Seq(vx(p), vy(p), vz(p), lit(a), lit(f)))
    struct(vec(c.getField("x"), c.getField("y"), c.getField("z")).as("nvec"),
      c.getField("depth").as("depth"))
  }

  // ---- deltas, frames, azimuth (Gade §5.4, eq 9) -------------------

  /** Exact ellipsoidal delta A->B decomposed in E [m]. */
  def deltaE(nA: Column, nB: Column, zA: Column = lit(0.0), zB: Column = lit(0.0),
             a: Double = WGS84.a, f: Double = WGS84.f): Column =
    vsub(toPvec(nB, zB, a, f), toPvec(nA, zA, a, f))

  /** East unit vector at n (Gade eq 9); NaN at the exact poles. */
  def eastAt(n: Column): Column = vunit(vec(-vy(n), vx(n), lit(0.0)))
  /** North unit vector at n. */
  def northAt(n: Column): Column = vcross(n, eastAt(n))

  /** Delta A->B decomposed in NED of A: struct(n, e, d) [m]. */
  def deltaN(nA: Column, nB: Column, zA: Column = lit(0.0), zB: Column = lit(0.0),
             a: Double = WGS84.a, f: Double = WGS84.f): Column = {
    val dE = deltaE(nA, nB, zA, zB, a, f)
    struct(vdot(northAt(nA), dE).as("n"), vdot(eastAt(nA), dE).as("e"),
      vdot(vscale(nA, lit(-1.0)), dE).as("d"))
  }

  /** Ellipsoid-exact initial bearing A->B relative North [rad]. */
  def azimuth(nA: Column, nB: Column,
              a: Double = WGS84.a, f: Double = WGS84.f): Column = {
    val d = deltaN(nA, nB, lit(0.0), lit(0.0), a, f)
    atan2(d.getField("e"), d.getField("n"))
  }

  // ---- distances (Gade eq 16) --------------------------------------

  /** Great-circle angle [rad], atan2(||a x b||, a.b) — eq 16. */
  def gcDistanceRad(nA: Column, nB: Column): Column =
    atan2(vnorm(vcross(nA, nB)), vdot(nA, nB))

  def gcDistance(nA: Column, nB: Column, radius: Double = MeanEarthRadius): Column =
    gcDistanceRad(nA, nB) * lit(radius)

  /** Chord (euclidean) distance [m]. */
  def euclideanDistance(nA: Column, nB: Column, radius: Double = MeanEarthRadius): Column =
    vnorm(vsub(nB, nA)) * lit(radius)

  /** Haversine-free great-circle distance straight from lat/lon [rad]
    * (same eq 16, avoids materializing structs — for tight loops).
    */
  def gcDistanceLatLon(lat1: Column, lon1: Column, lat2: Column, lon2: Column,
                       radius: Double = MeanEarthRadius): Column =
    gcDistance(nvec(lat1, lon1), nvec(lat2, lon2), radius)

  // ---- path operators (Gade §6-style composites) -------------------

  /** Unit normal of the great circle through (a1, a2). */
  def gcNormal(a1: Column, a2: Column): Column = vunit(vcross(a1, a2))

  /** Signed great-circle cross-track distance from B to path (a1,a2). */
  def crossTrackDistance(a1: Column, a2: Column, nB: Column,
                         radius: Double = MeanEarthRadius): Column =
    asin(-vdot(gcNormal(a1, a2), nB)) * lit(radius)

  /** Euclidean (chord) cross-track distance. */
  def crossTrackDistanceEuclid(a1: Column, a2: Column, nB: Column,
                               radius: Double = MeanEarthRadius): Column =
    -vdot(gcNormal(a1, a2), nB) * lit(radius)

  /** Closest point on the great circle of (a1,a2) to B. */
  def closestPointOnGreatCircle(a1: Column, a2: Column, nB: Column): Column = {
    val c = gcNormal(a1, a2)
    val n = vunit(vcross(c, vcross(nB, c)))
    vscale(n, signum(vdot(n, nB)))
  }

  /** B on great circle of (a1,a2) within atol meters. */
  def onGreatCircle(a1: Column, a2: Column, nB: Column,
                    radius: Double = MeanEarthRadius, atol: Double = 1e-8): Column =
    abs(crossTrackDistance(a1, a2, nB, radius)) <= lit(atol)

  /** B on great circle AND between endpoints (chord-ratio test). */
  def onGreatCirclePath(a1: Column, a2: Column, nB: Column,
                        radius: Double = MeanEarthRadius, atol: Double = 1e-8): Column = {
    val scale = vnorm(vsub(a2, a1))
    (vnorm(vsub(nB, a1)) / scale <= 1) && (vnorm(vsub(nB, a2)) / scale <= 1) &&
      onGreatCircle(a1, a2, nB, radius, atol)
  }

  /** Linear blend + renormalize; ti=0.5 is the geodesic midpoint. */
  def interpolate(a1: Column, a2: Column, ti: Column): Column =
    vunit(vadd(a1, vscale(vsub(a2, a1), ti)))

  /** Great-circle intersection of paths (a1,a2) and (b1,b2), solution
    * nearer a1.
    */
  def intersect(a1: Column, a2: Column, b1: Column, b2: Column): Column = {
    val c = vunit(vcross(vcross(a1, a2), vcross(b1, b2)))
    vscale(c, signum(vdot(c, a1)))
  }

  /** Spherical direct problem: destination from (A, arc [rad], az). */
  def sphereReckon(nA: Column, distanceRad: Column, az: Column): Column = {
    val east = eastAt(nA)
    val north = vcross(nA, east)
    val d = vadd(vscale(north, cos(az)), vscale(east, sin(az)))
    vadd(vscale(nA, cos(distanceRad)), vscale(d, sin(distanceRad)))
  }

  // ---- spherical polygon area (van Oosterom & Strackee 1983) -------

  /** Signed solid angle [steradians] of spherical triangle (a,b,c):
    * 2*atan2(a.(b x c), 1 + a.b + b.c + c.a) — positive when (a,b,c)
    * winds counterclockwise seen from outside the sphere. One atan2,
    * no per-side arcsines, numerically robust for tiny triangles
    * (l'Huilier's tan(E/4) form cancels catastrophically there).
    */
  def triangleExcess(a: Column, b: Column, c: Column): Column =
    lit(2.0) * atan2(vdot(a, vcross(b, c)),
      lit(1.0) + vdot(a, b) + vdot(b, c) + vdot(c, a))

  /** Signed spherical excess [steradians] of the simple polygon with
    * the given n-vector vertices (fixed arity >= 3), by fan
    * triangulation from the first vertex. The SIGNED triangle terms
    * make the fan exact for concave polygons too; the magnitude is
    * the enclosed solid angle for any simple polygon smaller than a
    * hemisphere.
    */
  def polygonExcess(vertices: Seq[Column]): Column = {
    require(vertices.length >= 3, "polygon needs >= 3 vertices")
    (1 until vertices.length - 1)
      .map(i => triangleExcess(vertices.head, vertices(i), vertices(i + 1)))
      .reduce(_ + _)
  }

  /** Polygon area [m^2] on the sphere of the given radius. */
  def polygonArea(vertices: Seq[Column], radius: Double = MeanEarthRadius): Column =
    abs(polygonExcess(vertices)) * lit(radius * radius)

  /** Variable-arity variant over an `array<struct<x,y,z>>` column
    * (e.g. a per-row vertex list built upstream); < 3 vertices yield
    * 0.0; a NULL vertex array propagates null ("unknown polygon" must
    * not read as "zero-area polygon"). Higher-order-function form —
    * fine off the hot path; for a fixed small arity prefer
    * [[polygonExcess]], which stays a flat codegen'd arithmetic
    * expression.
    */
  def polygonExcessArr(vertexArr: Column): Column =
    when(size(vertexArr) >= 3,
      aggregate(sequence(lit(2), size(vertexArr) - 1), lit(0.0),
        (acc, i) => acc + triangleExcess(element_at(vertexArr, lit(1)),
          element_at(vertexArr, i), element_at(vertexArr, i + 1))))
      .when(vertexArr.isNotNull, lit(0.0))

  def polygonAreaArr(vertexArr: Column, radius: Double = MeanEarthRadius): Column =
    abs(polygonExcessArr(vertexArr)) * lit(radius * radius)

  /** Great-circle perimeter [m] of the closed polygon with the given
    * n-vector vertices (fixed arity >= 3, closing edge included) —
    * the length companion of [[polygonArea]]; together they give the
    * isoperimetric compactness 4*pi*A/P^2 (1 for a spherical cap,
    * -> 0 as the shape elongates).
    */
  def polygonPerimeter(vertices: Seq[Column],
                       radius: Double = MeanEarthRadius): Column = {
    require(vertices.length >= 3, "polygon needs >= 3 vertices")
    vertices.indices
      .map(i => gcDistanceRad(vertices(i), vertices((i + 1) % vertices.length)))
      .reduce(_ + _) * lit(radius)
  }

  /** Variable-arity perimeter over an `array<struct<x,y,z>>` column —
    * same null/short-input contract as [[polygonExcessArr]] (< 3
    * vertices yield 0.0, a NULL array propagates null).
    */
  def polygonPerimeterArr(vertexArr: Column,
                          radius: Double = MeanEarthRadius): Column =
    when(size(vertexArr) >= 3,
      aggregate(sequence(lit(1), size(vertexArr)), lit(0.0),
        (acc, i) => acc + gcDistanceRad(element_at(vertexArr, i),
          element_at(vertexArr, (i % size(vertexArr)) + 1))) * lit(radius))
      .when(vertexArr.isNotNull, lit(0.0))

  /** Great-circle distance [rad] from `p` to the ARC from `a1` to
    * `a2` (the segment, not the full circle): the cross-circle
    * distance when the foot of the perpendicular lies ON the arc,
    * else the nearer endpoint. One static call into
    * `CellKernels.segDistRad` (the same kernel as `cells.segDist`), so
    * the plan holds one node per segment however the endpoints are
    * computed. Contract: a1 and a2 must be distinct and non-antipodal
    * (same as [[gcNormal]]).
    */
  def segmentDistanceRad(a1: Column, a2: Column, p: Column): Column =
    graft.index.cells.segDist(p, a1, a2)

  /** Min great-circle distance [rad] from `p` to the BOUNDARY of the
    * polygon with the given n-vector vertices (fixed arity >= 3,
    * closing edge included) — a `least` over one
    * [[segmentDistanceRad]] kernel call per edge. For a polygon held
    * as a vertex-array column use the single-pass kernel
    * (`cells.boundaryDistSigned`), which is what
    * `SpatialJoins.aoiBoundaryDistance` does.
    */
  def polygonBoundaryDistanceRad(vertices: Seq[Column], p: Column): Column = {
    require(vertices.length >= 3, "polygon needs >= 3 vertices")
    val edges = vertices.indices.map { i =>
      segmentDistanceRad(vertices(i), vertices((i + 1) % vertices.length), p)
    }
    least(edges: _*)
  }

  // ---- aggregates ---------------------------------------------------

  /** Aggregate: unit(sum of n-vectors) — mean horizontal position.
    * Partial aggregation is a plain component sum (associative), so
    * map-side combine applies.
    */
  def meanPosition(n: Column): Column =
    vunit(vec(sum(vx(n)), sum(vy(n)), sum(vz(n))))

  // ---- Karney solver (StaticInvoke -> graft.geo.Karney) ------------

  private lazy val kernelsClass: Class[_] = Class.forName("graft.functions.GeoKernels")

  private def invoke(method: String, ret: DataType, args: Seq[Column]): Column =
    GraftSqlBridge.staticInvoke(kernelsClass, ret, method, args,
      args.map(_ => DoubleType: DataType))

  private val tripleType = StructType(Seq(
    StructField("_1", DoubleType, nullable = false),
    StructField("_2", DoubleType, nullable = false),
    StructField("_3", DoubleType, nullable = false)))

  /** Same bearing as [[azimuth]] through one static-call node —
    * prefer inside window/track plans where the composed form would
    * re-inline struct subtrees.
    */
  def azimuthFast(nA: Column, nB: Column,
                  a: Double = WGS84.a, f: Double = WGS84.f): Column =
    invoke("azimuth", DoubleType,
      Seq(vx(nA), vy(nA), vz(nA), vx(nB), vy(nB), vz(nB), lit(a), lit(f)))

  /** Ellipsoidal (Karney) surface distance [m] between lat/lon pairs
    * [rad].
    */
  def geodesicDistance(lat1: Column, lon1: Column, lat2: Column, lon2: Column,
                       a: Double = WGS84.a, f: Double = WGS84.f): Column =
    invoke("geodesicDistance", DoubleType, Seq(lat1, lon1, lat2, lon2, lit(a), lit(f)))

  /** Karney inverse: struct(s12, az1, az2). */
  def geodesicInverse(lat1: Column, lon1: Column, lat2: Column, lon2: Column,
                      a: Double = WGS84.a, f: Double = WGS84.f): Column = {
    val c = invoke("geodesicInverse", tripleType, Seq(lat1, lon1, lat2, lon2, lit(a), lit(f)))
    struct(c.getField("_1").as("s12"), c.getField("_2").as("az1"), c.getField("_3").as("az2"))
  }

  /** Karney direct: struct(lat2, lon2, az2) from (A, distance [m], az
    * [rad]).
    */
  def geodesicReckon(lat1: Column, lon1: Column, distance: Column, az1: Column,
                     a: Double = WGS84.a, f: Double = WGS84.f): Column = {
    val c = invoke("geodesicReckon", tripleType, Seq(lat1, lon1, distance, az1, lit(a), lit(f)))
    struct(c.getField("_1").as("lat2"), c.getField("_2").as("lon2"), c.getField("_3").as("az2"))
  }
}
