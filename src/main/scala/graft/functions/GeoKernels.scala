package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import graft.geo.Karney

/** Static entry points for Catalyst `StaticInvoke` codegen. Each method
  * is a pure function over doubles so generated code calls it directly
  * inside whole-stage codegen (no iterator breaks, no boxing beyond the
  * struct returns).
  *
  * Keep this an object WITHOUT a companion class so scalac emits static
  * forwarders that `StaticInvoke` can target.
  */
object GeoKernels {
  /** Karney inverse: ellipsoidal surface distance [m]. */
  def geodesicDistance(lat1: Double, lon1: Double, lat2: Double, lon2: Double,
                       a: Double, f: Double): Double =
    Karney(a, f).inverse(lat1, lon1, lat2, lon2)._1

  /** Karney inverse: (s12, az1, az2). */
  def geodesicInverse(lat1: Double, lon1: Double, lat2: Double, lon2: Double,
                      a: Double, f: Double): InternalRow = {
    val (s, az1, az2) = Karney(a, f).inverse(lat1, lon1, lat2, lon2)
    new GenericInternalRow(Array[Any](s, az1, az2))
  }

  /** Karney direct: (lat2, lon2, az2). */
  def geodesicReckon(lat1: Double, lon1: Double, distance: Double, azimuth: Double,
                     a: Double, f: Double): InternalRow = {
    val (lat2, lon2, az2) = Karney(a, f).direct(lat1, lon1, distance, azimuth)
    new GenericInternalRow(Array[Any](lat2, lon2, az2))
  }

  /** Ellipsoid-exact initial bearing between two n-vectors (single
    * static call — use from plans where the composed Column form would
    * bloat the expression tree).
    */
  def azimuth(fx: Double, fy: Double, fz: Double,
              tx: Double, ty: Double, tz: Double,
              a: Double, f: Double): Double =
    graft.geo.Gade.azimuth(graft.geo.Vec3(fx, fy, fz), graft.geo.Vec3(tx, ty, tz), a, f)

  /** Gade eq (23) exact ECEF -> (nvec, depth) with the Newton-polished
    * cube root (matches the scalar kernel bit-for-bit).
    */
  def pvecToNvec(px: Double, py: Double, pz: Double, a: Double, f: Double): InternalRow = {
    val (n, depth) = graft.geo.Gade.pvecToNvec(graft.geo.Vec3(px, py, pz), a, f)
    new GenericInternalRow(Array[Any](n.x, n.y, n.z, depth))
  }

  /** Exact great-circle top-k of one point against a small literal
    * landmark set: [[knnScan]] without re-rank, hit positions mapped to
    * `ids`. Returns array<struct<lm_id, dist_m>> already rank-ordered,
    * ties broken by position in `flat` (the Column wrapper orders the
    * landmarks by id, so that is the kNN join's by-id tie-break).
    *
    * The landmark arrays ride as PLAN LITERALS (like the IVF
    * centroids), so the operator is stateless and shuffle-free: it
    * runs unchanged over batch frames and `readStream` micro-batches,
    * which is what makes it the streaming kNN path — per-row map-side
    * work only, no rank window (unsupported on streams), no state.
    */
  def knnLandmarks(px: Double, py: Double, pz: Double,
                   ids: ArrayData, flat: ArrayData,
                   k: Int, radius: Double): GenericArrayData = {
    val top = topK(px, py, pz, flat, k, radius, reRank = false, 1.0, 0.0, 0.0)
    new GenericArrayData(Array.tabulate[Any](top.filled) { j =>
      new GenericInternalRow(Array[Any](ids.getLong(top.idx(j)), top.gc(j)))
    })
  }

  /** Exact top-k of one point against `flat`, a dense (x,y,z) n-vector
    * array: array<struct<idx, gc, geod>> in rank order, `idx` the
    * position in `flat`, `gc` the great-circle distance [m] (the eq-16
    * `atan2(|n1 x n2|, n1.n2) * radius` with the exact double
    * operations of `geo.gcDistance`, so the values are bit-identical
    * to the Column form), `geod` the Karney ellipsoidal distance [m]
    * on (a, f) when `reRank`, else NaN. Ties break by `idx`.
    *
    * Without re-rank: the k best by (gc, idx). With re-rank, the exact
    * provable cut (geodesic >= gc * covDeflate, see
    * `SpatialJoins.knnJoin`):
    *  1. pool = the 3k best by (gc, idx), each with its geodesic;
    *  2. gk1 = the pool's k-th geodesic, an upper bound on the true
    *     k-th;
    *  3. every other row with gc * covDeflate <= gk1 gets its
    *     geodesic too — no row beyond that bound can reach the top k;
    *  4. the k best by (geodesic, idx) over those rows.
    * Lat/lon come from the same double operations as `geo.lat` /
    * `geo.lon`, so `geod` is bit-identical to `geo.geodesicDistance`
    * over them. Comparisons follow Spark's double ordering (NaN
    * largest, -0.0 == 0.0).
    */
  def knnScan(px: Double, py: Double, pz: Double, flat: ArrayData,
              k: Int, radius: Double, reRank: Boolean, covDeflate: Double,
              a: Double, f: Double): GenericArrayData = {
    val top = topK(px, py, pz, flat, k, radius, reRank, covDeflate, a, f)
    new GenericArrayData(Array.tabulate[Any](top.filled) { j =>
      new GenericInternalRow(Array[Any](top.idx(j), top.gc(j),
        if (reRank) top.key(j) else Double.NaN))
    })
  }

  /** Spark's double ordering: NaN largest, -0.0 == 0.0. */
  private def cmp(x: Double, y: Double): Int =
    if (x == y) 0 else java.lang.Double.compare(x, y)

  /** (k1, i1) orders strictly before (k2, i2). */
  private def before(k1: Double, i1: Int, k2: Double, i2: Int): Boolean = {
    val c = cmp(k1, k2)
    c < 0 || (c == 0 && i1 < i2)
  }

  /** The best `cap` entries by (key, idx), ascending, with each
    * entry's great-circle distance alongside.
    */
  private final class TopK(cap: Int) {
    val key = new Array[Double](cap)
    val idx = new Array[Int](cap)
    val gc = new Array[Double](cap)
    var filled = 0
    /** (k, i) is in the FULL buffer: it does not order after the
      * last entry.
      */
    def keeps(k: Double, i: Int): Boolean =
      !before(key(filled - 1), idx(filled - 1), k, i)
    // insertion into the sorted buffer (cap is small; branch-light)
    def add(k: Double, i: Int, d: Double): Unit =
      if (filled < cap || before(k, i, key(filled - 1), idx(filled - 1))) {
        var j = math.min(filled, cap - 1)
        while (j > 0 && before(k, i, key(j - 1), idx(j - 1))) {
          key(j) = key(j - 1); idx(j) = idx(j - 1); gc(j) = gc(j - 1); j -= 1
        }
        key(j) = k; idx(j) = i; gc(j) = d
        if (filled < cap) filled += 1
      }
  }

  /** [[knnScan]]'s loop: the result's `key` is the ranking metric (gc,
    * or the geodesic when re-ranking).
    */
  private def topK(px: Double, py: Double, pz: Double, flat: ArrayData,
                   k: Int, radius: Double, reRank: Boolean, covDeflate: Double,
                   a: Double, f: Double): TopK = {
    val n = flat.numElements() / 3
    // public codegen entry points: guard k <= 0 here too (the Column
    // wrappers validate, but a direct StaticInvoke with k = 0 must not
    // index an empty buffer)
    if (k <= 0 || n == 0) return new TopK(0)
    // `+ 0.0` mirrors Spark's Atan2, which normalizes -0.0 arguments
    def gcAt(i: Int): Double = {
      val lx = flat.getDouble(3 * i); val ly = flat.getDouble(3 * i + 1)
      val lz = flat.getDouble(3 * i + 2)
      val cx = py * lz - pz * ly; val cy = pz * lx - px * lz; val cz = px * ly - py * lx
      math.atan2(math.sqrt(cx * cx + cy * cy + cz * cz) + 0.0,
        px * lx + py * ly + pz * lz + 0.0) * radius
    }
    // the k best by gc, or the re-rank's 3k pool
    val pool = new TopK(math.min(if (reRank) 3L * k else k.toLong, n.toLong).toInt)
    var i = 0
    while (i < n) { val d = gcAt(i); pool.add(d, i, d); i += 1 }
    if (!reRank) return pool
    val karney = Karney(a, f)
    val qLat = math.atan2(pz + 0.0, math.sqrt(px * px + py * py) + 0.0)
    val qLon = math.atan2(py + 0.0, px + 0.0)
    def geodAt(i: Int): Double = {
      val lx = flat.getDouble(3 * i); val ly = flat.getDouble(3 * i + 1)
      val lz = flat.getDouble(3 * i + 2)
      karney.inverse(qLat, qLon, math.atan2(lz + 0.0, math.sqrt(lx * lx + ly * ly) + 0.0),
        math.atan2(ly + 0.0, lx + 0.0))._1
    }
    val top = new TopK(math.min(k, n))
    val poolGeod = new Array[Double](pool.filled)
    var j = 0
    while (j < pool.filled) {
      poolGeod(j) = geodAt(pool.idx(j))
      top.add(poolGeod(j), pool.idx(j), pool.gc(j))
      j += 1
    }
    if (pool.filled < n) { // the pool is full: 3k < n
      java.util.Arrays.sort(poolGeod)
      val gk1 = poolGeod(k - 1)
      i = 0
      while (i < n) {
        val d = gcAt(i)
        if (!pool.keeps(d, i) && cmp(d * covDeflate, gk1) <= 0) top.add(geodAt(i), i, d)
        i += 1
      }
    }
    top
  }

  /** True when the (lat1,lon1)->(lat2,lon2) inverse problem lies in
    * the GENERAL-POSITION region where [[graft.geo.Karney.inverse]]
    * provably takes the Newton + hybrid path: not meridional /
    * equatorial / short / nearly antipodal, each with a >= 1e6-ULP
    * margin over the solver's own branch thresholds. Formula-for-
    * formula identical (same double operation order) to the
    * `inv_base` WHERE of `Karney.inverseSqlMirror`, so Spark and the
    * DuckDB oracle classify every realistic row identically. One
    * static call: the equivalent Column chain blows up exponentially
    * when Catalyst's project collapsing re-inlines the when() stages
    * (measured 8-16 s at sf0.1 vs ~0.3 s for this kernel).
    */
  def inverseGeneralPosition(lat1: Double, lon1: Double,
                             lat2: Double, lon2: Double, f: Double): Boolean = {
    import graft.geo.VecMath.{normalizeAngle, truncateSmall}
    import math.{abs, atan, atan2, cos, sin, sqrt, tan}
    val e2 = f * (2.0 - f)
    val blat1r = truncateSmall(atan((1.0 - f) * tan(lat1)))
    val blat2r = truncateSmall(atan((1.0 - f) * tan(lat2)))
    val swap = abs(blat1r) < abs(blat2r)
    val bb1 = if (swap) blat2r else blat1r
    val bb2 = if (swap) blat1r else blat2r
    val b1 = if (bb1 > 0) -bb1 else bb1
    val b2 = if (bb1 > 0) -bb2 else bb2
    val lamRaw = truncateSmall(normalizeAngle(lon2 - lon1))
    val lam = if (lamRaw < 0) -lamRaw else lamRaw
    val cbm = (cos(b1) + Karney.TINY + (cos(b2) + Karney.TINY)) * 0.5
    val wbar = sqrt(1.0 - e2 * cbm * cbm)
    val w12 = lam / wbar
    val cw = cos(w12)
    val sinA1s = cos(b2) * sin(w12)
    val cosA1s = cos(b1) * sin(b2) - sin(b1) * cos(b2) * cw
    val sigma12 = atan2(sqrt(sinA1s * sinA1s + cosA1s * cosA1s),
      sin(b1) * sin(b2) + cos(b1) * cos(b2) * cw)
    abs(sin(lam)) > 1e-6 &&
      !(abs(b2 - b1) <= 1e-6 && abs(b1) <= 1e-6) &&
      wbar * sigma12 >= 1e-3 &&
      sigma12 <= math.Pi * (1.0 - 6.0 * abs(f))
  }
}
