package graft.index

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import graft.geo.VecMath

/** Static entry points for `StaticInvoke` codegen over [[CellIndex]]
  * (object without companion class => static forwarders).
  */
object CellKernels {
  def cellAt(x: Double, y: Double, z: Double, level: Int): Long =
    CellIndex.cellAt(x, y, z, level)

  def parent(id: Long, steps: Int): Long = CellIndex.parent(id, steps)

  /** Ancestor at exactly `toLevel` — per-ROW step count, so
    * mixed-level inputs (multi-resolution encodes) each climb their
    * own distance; cells already at or coarser than `toLevel` pass
    * through unchanged.
    */
  def parentAt(id: Long, toLevel: Int): Long = {
    val lvl = CellIndex.levelOf(id)
    if (lvl <= toLevel) id else CellIndex.parent(id, lvl - toLevel)
  }

  /** Corner ring of the cell as flat [x0,y0,z0,...] unit n-vectors
    * (see CellIndex.cellCornersFlat).
    */
  def cornersFlat(id: Long): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(CellIndex.cellCornersFlat(id))

  /** Local sibling-group compaction of one ancestor group down to
    * `floor` (see CellIndex.compactLocal — the per-group kernel of
    * the distributed CellSetOps.compact).
    */
  def compactGroup(cs: ArrayData, floor: Int): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(CellIndex.compactLocal(cs.toLongArray(), floor))

  def ring(id: Long, k: Int): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(CellIndex.ring(id, k))

  def capCells(x: Double, y: Double, z: Double, level: Int,
               angleRad: Double): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(CellIndex.capCells(x, y, z, level, angleRad))

  def ringCoverageRad(x: Double, y: Double, z: Double, level: Int, k: Int): Double =
    CellIndex.ringCoverageRad(x, y, z, level, k)

  def center(id: Long): InternalRow = {
    val c = VecMath.unit(CellIndex.centerXYZ(id))
    new GenericInternalRow(Array[Any](c.x, c.y, c.z))
  }

  /** True when the point lies inside the spherical polygon (vertices
    * flattened [x0,y0,z0,x1,...], implicitly closed): the winding
    * angle of the vertex loop seen from the point is +-2pi inside and
    * ~0 outside. A loop also winds +-2pi around the point's ANTIPODE,
    * so the point must additionally lie on the polygon's hemisphere
    * (dot with the vertex sum > 0) — valid for any polygon, concave
    * included, whose vertices AND interior stay within 90 deg of its
    * vertex centroid (enforced at the Aoi construction sites:
    * near-hemispheric slivers can put interior points >90 deg from
    * the centroid, where this disambiguator breaks both ways). Points
    * exactly on the boundary are undefined at double precision, as in
    * any winding test.
    */
  def pointInPolygon(px: Double, py: Double, pz: Double, verts: ArrayData): Boolean = {
    val vs = verts.toDoubleArray()
    if (vs.length % 3 != 0)
      throw new IllegalArgumentException(
        s"polygon vertex array length ${vs.length} is not a multiple of 3 " +
          "(flattened [x0,y0,z0,x1,...] expected)")
    ringInside(px, py, pz, vs, 0, vs.length / 3)
  }

  /** |winding angle| of the ring slice starting at double-offset
    * `off` with `n` vertices around the point.
    */
  private def windingAngleSlice(px: Double, py: Double, pz: Double,
                                vs: Array[Double], off: Int, n: Int): Double = {
    var total = 0.0
    // tangent-plane projection of vertex i: t_i = v_i - p (v_i . p)
    var prevX = 0.0; var prevY = 0.0; var prevZ = 0.0
    var firstX = 0.0; var firstY = 0.0; var firstZ = 0.0
    var i = 0
    while (i <= n) {
      val idx = if (i == n) -1 else i
      val (tx, ty, tz) =
        if (idx < 0) (firstX, firstY, firstZ)
        else {
          val vx = vs(off + 3 * idx); val vy = vs(off + 3 * idx + 1)
          val vz = vs(off + 3 * idx + 2)
          val d = vx * px + vy * py + vz * pz
          (vx - px * d, vy - py * d, vz - pz * d)
        }
      if (i == 0) { firstX = tx; firstY = ty; firstZ = tz }
      else {
        // signed angle prev -> t about p
        val cx = prevY * tz - prevZ * ty
        val cy = prevZ * tx - prevX * tz
        val cz = prevX * ty - prevY * tx
        val sinA = cx * px + cy * py + cz * pz
        val cosA = prevX * tx + prevY * ty + prevZ * tz
        total += math.atan2(sinA, cosA)
      }
      prevX = tx; prevY = ty; prevZ = tz
      i += 1
    }
    math.abs(total)
  }

  /** Single-ring inside test over a slice — the one winding test of
    * every polygon kernel: the hemisphere disambiguator (dot with the
    * ring's vertex sum) plus the winding angle.
    */
  private def ringInside(px: Double, py: Double, pz: Double,
                         vs: Array[Double], off: Int, n: Int): Boolean = {
    var sx = 0.0; var sy = 0.0; var sz = 0.0
    var i = 0
    while (i < n) {
      sx += vs(off + 3 * i); sy += vs(off + 3 * i + 1); sz += vs(off + 3 * i + 2)
      i += 1
    }
    (px * sx + py * sy + pz * sz) > 0.0 &&
      windingAngleSlice(px, py, pz, vs, off, n) > math.Pi
  }

  /** EVEN-ODD point-in-multipolygon over a ring-list encoding:
    * `data` = [ringCount k, vertCount_0..vertCount_{k-1},
    * x0,y0,z0,... ring-0 coords, ring-1 coords, ...] (all doubles;
    * counts are exact small integers). The point is inside when it
    * lies inside an ODD number of rings — outer-with-holes,
    * disjoint multipolygons, and islands-in-lakes all fall out of
    * parity with no orientation or nesting bookkeeping. Each ring
    * individually carries [[pointInPolygon]]'s hemisphere contract
    * (enforced at the AoiM construction sites).
    */
  def pointInPolygonRings(px: Double, py: Double, pz: Double,
                          data: ArrayData): Boolean = {
    val vs = data.toDoubleArray()
    insideRingsRaw(px, py, pz, vs, 0, decodeRingCount(vs))
  }

  /** Even-odd containment over the ring-list encoding of `k` rings
    * whose header starts at double-offset `base` of `vs`.
    */
  private def insideRingsRaw(px: Double, py: Double, pz: Double,
                             vs: Array[Double], base: Int, k: Int): Boolean = {
    var inside = false
    var off = base + 1 + k
    var r = 0
    while (r < k) {
      val n = vs(base + 1 + r).toInt
      if (ringInside(px, py, pz, vs, off, n)) inside = !inside
      off += 3 * n
      r += 1
    }
    inside
  }

  /** True when two even-odd ring-list regions INTERSECT (share any
    * point, boundaries included). Exact decomposition for closed
    * regions: either some edge of one properly crosses some edge of
    * the other, or — when boundaries never cross, so each region's
    * boundary lies wholly inside or outside the other — one region's
    * ring VERTICES witness containment (a part inside the other, a
    * part inside a hole correctly reads outside by parity). Both
    * encodings carry the usual per-ring hemisphere contract.
    */
  def ringsIntersect(a: ArrayData, b: ArrayData): Boolean = {
    val va = a.toDoubleArray(); val ka = decodeRingCount(va)
    val vb = b.toDoubleArray(); val kb = decodeRingCount(vb)
    if (anyVertexInside(va, ka, vb, kb)) return true
    if (anyVertexInside(vb, kb, va, ka)) return true
    // edge-crossing sweep: every edge pair across the two ring lists
    var offA = 1 + ka
    var ra = 0
    while (ra < ka) {
      val na = vs2n(va, ra)
      var i = 0
      while (i < na) {
        val i2 = (i + 1) % na
        var offB = 1 + kb
        var rb = 0
        while (rb < kb) {
          val nb = vs2n(vb, rb)
          var j = 0
          while (j < nb) {
            val j2 = (j + 1) % nb
            if (arcsCross(va, offA + 3 * i, offA + 3 * i2,
                vb, offB + 3 * j, offB + 3 * j2)) return true
            j += 1
          }
          offB += 3 * nb
          rb += 1
        }
        i += 1
      }
      offA += 3 * na
      ra += 1
    }
    false
  }

  private def vs2n(vs: Array[Double], r: Int): Int = vs(1 + r).toInt

  private def anyVertexInside(src: Array[Double], kSrc: Int,
                              dst: Array[Double], kDst: Int): Boolean = {
    var off = 1 + kSrc
    var r = 0
    while (r < kSrc) {
      val n = vs2n(src, r)
      var i = 0
      while (i < n) {
        if (insideRingsRaw(src(off + 3 * i), src(off + 3 * i + 1),
            src(off + 3 * i + 2), dst, 0, kDst)) return true
        i += 1
      }
      off += 3 * n
      r += 1
    }
    false
  }

  /** Minor arcs (a1,a2) and (b1,b2) share a point: a great-circle
    * intersection direction (either sign of na x nb) lies ON both
    * arcs — the on-arc test is the same signed-triple-product
    * bracket [[segDistRad]] uses, >= 0 so endpoint touches count
    * (closed regions). Exactly coincident circles (na x nb the zero
    * VECTOR, e.g. two equator arcs) overlap iff an endpoint of one
    * arc brackets inside the other.
    */
  private def arcsCross(va: Array[Double], i1: Int, i2: Int,
                        vb: Array[Double], j1: Int, j2: Int): Boolean =
    segsCross(va(i1), va(i1 + 1), va(i1 + 2), va(i2), va(i2 + 1), va(i2 + 2),
      vb(j1), vb(j1 + 1), vb(j1 + 2), vb(j2), vb(j2 + 1), vb(j2 + 2))

  /** [[arcsCross]] in flat-coordinate form — the JIT entry point for
    * segment-segment crossing as a Column predicate (route-route
    * intersection joins); same semantics, same degenerate-edge and
    * coincident-circle handling.
    */
  def segsCross(ax: Double, ay: Double, az: Double,
                bx: Double, by: Double, bz: Double,
                cx: Double, cy: Double, cz: Double,
                dx: Double, dy: Double, dz: Double): Boolean = {
    val nax = ay * bz - az * by
    val nay = az * bx - ax * bz
    val naz = ax * by - ay * bx
    val nbx = cy * dz - cz * dy
    val nby = cz * dx - cx * dz
    val nbz = cx * dy - cy * dx
    // A zero normal means the edge is DEGENERATE (duplicate adjacent
    // vertices — e.g. a GeoJSON-style repeated closing vertex — or
    // antipodal ones): it spans no arc, and with n = 0 both bracket
    // tests are vacuously true, which would turn the coincident-circle
    // branch below into an unconditional `true` against every edge of
    // the other ring. Such an edge contributes no crossing of its
    // own — any true crossing through a duplicated vertex is carried
    // by its non-degenerate neighbor edges, and pure containment is
    // anyVertexInside's job — so skip it.
    if ((nax == 0.0 && nay == 0.0 && naz == 0.0) ||
        (nbx == 0.0 && nby == 0.0 && nbz == 0.0)) return false
    // bracket(p on arc (p1,p2) with normal n): (p1 x p) . n >= 0 and
    // (p x p2) . n >= 0
    def brA(px: Double, py: Double, pz: Double): Boolean =
      (ay * pz - az * py) * nax + (az * px - ax * pz) * nay +
        (ax * py - ay * px) * naz >= 0 &&
      (py * bz - pz * by) * nax + (pz * bx - px * bz) * nay +
        (px * by - py * bx) * naz >= 0
    def brB(px: Double, py: Double, pz: Double): Boolean =
      (cy * pz - cz * py) * nbx + (cz * px - cx * pz) * nby +
        (cx * py - cy * px) * nbz >= 0 &&
      (py * dz - pz * dy) * nbx + (pz * dx - px * dz) * nby +
        (px * dy - py * dx) * nbz >= 0
    val ux = nay * nbz - naz * nby
    val uy = naz * nbx - nax * nbz
    val uz = nax * nby - nay * nbx
    if (ux == 0.0 && uy == 0.0 && uz == 0.0)
      // same great circle: arcs overlap iff some endpoint of one
      // lies inside the other's bracket
      brA(cx, cy, cz) || brA(dx, dy, dz) || brB(ax, ay, az) || brB(bx, by, bz)
    else
      (brA(ux, uy, uz) && brB(ux, uy, uz)) ||
        (brA(-ux, -uy, -uz) && brB(-ux, -uy, -uz))
  }

  /** Signed boundary distance [rad] for the ring-list encoding: min
    * over EVERY ring's edges (a hole's rim is boundary too), negative
    * iff [[pointInPolygonRings]] holds.
    */
  def boundaryDistSignedRings(px: Double, py: Double, pz: Double,
                              data: ArrayData): Double = {
    val vs = data.toDoubleArray()
    boundaryDistRaw(px, py, pz, vs, 0, decodeRingCount(vs))
  }

  /** [[boundaryDistSignedRings]] over the encoding of `k` rings whose
    * header starts at double-offset `base` of `vs`.
    */
  private def boundaryDistRaw(px: Double, py: Double, pz: Double,
                              vs: Array[Double], base: Int, k: Int): Double = {
    var best = Double.MaxValue
    var inside = false
    var off = base + 1 + k
    var r = 0
    while (r < k) {
      val n = vs(base + 1 + r).toInt
      val d = ringEdgeDist(px, py, pz, vs, off, n)
      if (d < best) best = d
      if (ringInside(px, py, pz, vs, off, n)) inside = !inside
      off += 3 * n
      r += 1
    }
    if (inside) -best else best
  }

  /** Min [[segDistRad]] [rad] over the edges of the closed ring slice
    * starting at double-offset `off` with `n` vertices — the one
    * edge-distance loop of the boundary-distance kernels.
    */
  private def ringEdgeDist(px: Double, py: Double, pz: Double,
                           vs: Array[Double], off: Int, n: Int): Double = {
    var best = Double.MaxValue
    var i = 0
    while (i < n) {
      val j = (i + 1) % n
      val d = segDistRad(px, py, pz,
        vs(off + 3 * i), vs(off + 3 * i + 1), vs(off + 3 * i + 2),
        vs(off + 3 * j), vs(off + 3 * j + 1), vs(off + 3 * j + 2))
      if (d < best) best = d
      i += 1
    }
    best
  }

  private def decodeRingCount(vs: Array[Double]): Int = {
    if (vs.length < 1)
      throw new IllegalArgumentException("empty ring-list encoding")
    val k = vs(0).toInt
    if (k < 1)
      throw new IllegalArgumentException(s"ring count ${vs(0)} < 1")
    var expect = 1 + k
    var r = 0
    while (r < k) {
      val n = vs(1 + r).toInt
      if (n < 3)
        throw new IllegalArgumentException(s"ring $r has ${vs(1 + r)} vertices (< 3)")
      expect += 3 * n
      r += 1
    }
    if (expect != vs.length)
      throw new IllegalArgumentException(
        s"ring-list encoding length ${vs.length}, header implies $expect")
    k
  }

  /** Per-ring (centroid, circumradius, cover level) of a ring-list
    * encoding — the polygon-TABLE analogue of the literal AOI joins'
    * driver-side sizing: each ring's (grown) circumdisc gets its own
    * CellIndex.discCoverLevel (~96 cells).
    * Rings are validated HERE (a table row has no construction-time
    * `validated` hook): the hemisphere contract of the winding test
    * throws rather than silently mis-containing.
    */
  private def ringCoverStats(vs: Array[Double], extraRad: Double,
                             k: Int): Array[(Double, Double, Double, Double, Int)] = {
    val out = new Array[(Double, Double, Double, Double, Int)](k)
    var off = 1 + k
    var r = 0
    while (r < k) {
      val n = vs(1 + r).toInt
      var sx = 0.0; var sy = 0.0; var sz = 0.0
      var i = 0
      while (i < n) {
        sx += vs(off + 3 * i); sy += vs(off + 3 * i + 1); sz += vs(off + 3 * i + 2)
        i += 1
      }
      val norm = math.sqrt(sx * sx + sy * sy + sz * sz)
      if (norm < 1e-12)
        throw new IllegalArgumentException(
          s"ring $r: vertex centroid degenerate (antipodally balanced " +
            "vertices) — exceeds the winding test's hemisphere contract")
      val cx = sx / norm; val cy = sy / norm; val cz = sz / norm
      var circum = 0.0
      i = 0
      while (i < n) {
        val vx = vs(off + 3 * i); val vy = vs(off + 3 * i + 1); val vz = vs(off + 3 * i + 2)
        val crx = cy * vz - cz * vy; val cry = cz * vx - cx * vz; val crz = cx * vy - cy * vx
        val d = math.atan2(math.sqrt(crx * crx + cry * cry + crz * crz),
          cx * vx + cy * vy + cz * vz)
        if (d > circum) circum = d
        i += 1
      }
      if (!(circum < math.Pi / 2))
        throw new IllegalArgumentException(
          f"ring $r spans $circum%.3f rad from its vertex centroid " +
            "(>= pi/2): exceeds the winding test's hemisphere contract — " +
            "split the ring")
      val ang = math.min(math.Pi, math.max(circum + extraRad, 1e-6))
      out(r) = (cx, cy, cz, ang, CellIndex.discCoverLevel(ang))
      off += 3 * n
      r += 1
    }
    out
  }

  /** Mixed-level quadtree disc cover of a ring-list polygon: the
    * deduped union of each ring's capCells at that ring's own cover
    * level (grown by `extraRad` for buffered joins). Level rides in
    * the cell id, so mixed-level covers still equi-join on one key.
    */
  def ringCoverCells(data: ArrayData, extraRad: Double): ArrayData = {
    val vs = data.toDoubleArray()
    val k = decodeRingCount(vs)
    val stats = ringCoverStats(vs, extraRad, k)
    val all = stats.flatMap { case (cx, cy, cz, ang, l) => CellIndex.capCells(cx, cy, cz, l, ang) }
    java.util.Arrays.sort(all)
    var w = 0
    var i = 0
    while (i < all.length) {
      if (w == 0 || all(w - 1) != all(i)) { all(w) = all(i); w += 1 }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOf(all, w))
  }

  /** The distinct cover LEVELS [[ringCoverCells]] would use — the
    * cheap pre-pass (no cell enumeration) the polygon joins collect
    * to know which point-side cell columns to generate.
    */
  def ringCoverLevels(data: ArrayData, extraRad: Double): ArrayData = {
    val vs = data.toDoubleArray()
    val k = decodeRingCount(vs)
    val stats = ringCoverStats(vs, extraRad, k)
    UnsafeArrayData.fromPrimitiveArray(stats.map(_._5).distinct.sorted)
  }

  /** Polygon indices of a shipped cover that hold the point's cell at
    * some cover level, ascending and distinct. `cells` is sorted and
    * `polys` parallel to it: every cell of each polygon's
    * [[ringCoverCells]], so a polygon whose cover holds the point's
    * cells at two levels is still returned once.
    */
  private def coverHits(px: Double, py: Double, pz: Double, levels: Array[Int],
                        cells: Array[Long], polys: Array[Int]): Array[Int] = {
    var out = new Array[Int](8)
    var m = 0
    var li = 0
    while (li < levels.length) {
      val c = CellIndex.cellAt(px, py, pz, levels(li))
      var a = 0; var b = cells.length
      while (a < b) { val mid = (a + b) >>> 1; if (cells(mid) < c) a = mid + 1 else b = mid }
      while (a < cells.length && cells(a) == c) {
        if (m == out.length) out = java.util.Arrays.copyOf(out, 2 * m)
        out(m) = polys(a); m += 1; a += 1
      }
      li += 1
    }
    java.util.Arrays.sort(out, 0, m)
    var w = 0
    var i = 0
    while (i < m) {
      if (w == 0 || out(w - 1) != out(i)) { out(w) = out(i); w += 1 }
      i += 1
    }
    java.util.Arrays.copyOf(out, w)
  }

  /** Point-in-polygon over a small polygon set in one call: the
    * candidates are [[coverHits]] over the set's cover, and each runs
    * the even-odd test of [[pointInPolygonRings]] on its encoding in
    * `rings` (the concatenated ring-list encodings, polygon i's header
    * at double-offset `offsets(i)`). Returns the indices that pass,
    * ascending. The arrays are plan literals, read in place; the
    * encodings were validated when the cover was built.
    */
  def pipScan(px: Double, py: Double, pz: Double, levels: Array[Int],
              cells: Array[Long], polys: Array[Int],
              rings: Array[Double], offsets: Array[Int]): ArrayData = {
    val cand = coverHits(px, py, pz, levels, cells, polys)
    var m = 0
    var i = 0
    while (i < cand.length) {
      val base = offsets(cand(i))
      if (insideRingsRaw(px, py, pz, rings, base, rings(base).toInt)) { cand(m) = cand(i); m += 1 }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOf(cand, m))
  }

  /** [[pipScan]]'s buffered form: (index, signed boundary distance
    * [rad] as [[boundaryDistSignedRings]]) for every candidate of a
    * cover grown by the buffer; the caller keeps those within it.
    */
  def pipBufferScan(px: Double, py: Double, pz: Double, levels: Array[Int],
                    cells: Array[Long], polys: Array[Int],
                    rings: Array[Double], offsets: Array[Int]): ArrayData = {
    val cand = coverHits(px, py, pz, levels, cells, polys)
    new GenericArrayData(cand.map { p =>
      val base = offsets(p)
      new GenericInternalRow(Array[Any](p, boundaryDistRaw(px, py, pz, rings, base, rings(base).toInt)))
    })
  }

  /** Signed great-circle distance [rad] from the point to the
    * polygon BOUNDARY (vertices flattened [x0,y0,z0,...], implicitly
    * closed): per edge, the cross-circle distance when the foot of
    * the perpendicular lies ON the arc (signed-triple-product test,
    * no trig), else the nearer endpoint; min over edges; NEGATIVE
    * when [[pointInPolygon]] holds. One flat JITed pass over a
    * vertex array of any length (geo.polygonBoundaryDistanceRad is
    * the fixed-arity Column form: one [[segDistRad]] call per edge).
    * Same hemisphere contract
    * as the winding test; adjacent duplicate/antipodal vertices are
    * a caller bug (NaN normal).
    */
  def boundaryDistSigned(px: Double, py: Double, pz: Double,
                         verts: ArrayData): Double = {
    val vs = verts.toDoubleArray()
    if (vs.length % 3 != 0 || vs.length < 9)
      throw new IllegalArgumentException(
        s"polygon vertex array length ${vs.length}: flattened " +
          "[x0,y0,z0,x1,...] with >= 3 vertices expected")
    val n = vs.length / 3
    val best = ringEdgeDist(px, py, pz, vs, 0, n)
    if (ringInside(px, py, pz, vs, 0, n)) -best else best
  }

  /** Snap a point to an OPEN polyline (vertices flattened
    * [x0,y0,z0,...], >= 2 vertices, n-1 segments): returns
    * (seg: Int, dist: Double [rad], fx, fy, fz) for the nearest
    * segment — first segment wins distance ties (strict <). The
    * distance is [[segDistRad]]'s value verbatim (the SQL mirrors
    * replay it); the foot is the clamped closest point on that
    * segment: unit(p - (p.c)c) when the perpendicular foot lies on
    * the arc (same triple-product tests as segDistRad), else the
    * nearer endpoint (or `a` for a degenerate edge).
    */
  def snapToPolyline(px: Double, py: Double, pz: Double,
                     verts: ArrayData): InternalRow = {
    val vs = verts.toDoubleArray()
    if (vs.length % 3 != 0 || vs.length < 6)
      throw new IllegalArgumentException(
        s"polyline vertex array length ${vs.length}: flattened " +
          "[x0,y0,z0,x1,...] with >= 2 vertices expected")
    val n = vs.length / 3
    // seed from segment 0 so a NaN point (all distances NaN) still
    // yields a well-formed row (seg 0, NaN dist, vertex-0 foot) that
    // downstream filters drop — never an out-of-bounds foot lookup
    var best = segDistRad(px, py, pz,
      vs(0), vs(1), vs(2), vs(3), vs(4), vs(5))
    var bi = 0
    var i = 1
    while (i < n - 1) {
      val d = segDistRad(px, py, pz,
        vs(3 * i), vs(3 * i + 1), vs(3 * i + 2),
        vs(3 * i + 3), vs(3 * i + 4), vs(3 * i + 5))
      if (d < best) { best = d; bi = i }
      i += 1
    }
    // foot of the winning segment (the foot-branch of segDistRad)
    val ax = vs(3 * bi); val ay = vs(3 * bi + 1); val az = vs(3 * bi + 2)
    val bx = vs(3 * bi + 3); val by = vs(3 * bi + 4); val bz = vs(3 * bi + 5)
    val ux = ay * bz - az * by
    val uy = az * bx - ax * bz
    val uz = ax * by - ay * bx
    val un = math.sqrt(ux * ux + uy * uy + uz * uz)
    var fx = ax; var fy = ay; var fz = az
    if (un >= 1e-15) {
      val cx = ux / un; val cy = uy / un; val cz = uz / un
      val cd = cx * px + cy * py + cz * pz
      val gx = px - cd * cx; val gy = py - cd * cy; val gz = pz - cd * cz
      val winA = (ay * gz - az * gy) * cx + (az * gx - ax * gz) * cy +
        (ax * gy - ay * gx) * cz >= 0
      val winB = (gy * bz - gz * by) * cx + (gz * bx - gx * bz) * cy +
        (gx * by - gy * bx) * cz >= 0
      if (winA && winB) {
        val gn = math.sqrt(gx * gx + gy * gy + gz * gz)
        fx = gx / gn; fy = gy / gn; fz = gz / gn
      } else {
        def ang(vx: Double, vy: Double, vz: Double): Double = {
          val kx = py * vz - pz * vy
          val ky = pz * vx - px * vz
          val kz = px * vy - py * vx
          math.atan2(math.sqrt(kx * kx + ky * ky + kz * kz),
            px * vx + py * vy + pz * vz)
        }
        if (ang(bx, by, bz) < ang(ax, ay, az)) { fx = bx; fy = by; fz = bz }
      }
    }
    new GenericInternalRow(Array[Any](bi, best, fx, fy, fz))
  }

  /** Subdivide an open polyline into corridor PIECES of arc length
    * <= `maxPieceRad`, emitting per piece a 10-double row
    * [segIdx, ax,ay,az, bx,by,bz, mx,my,mz]: the ORIGINAL segment
    * index + endpoints (the exact distance predicate runs against
    * these — identical formula to any per-segment mirror) and the
    * piece's angle-uniform slerp midpoint (candidate generation
    * only: every point of the piece is provably within
    * maxPieceRad/2 of it, so a disc of maxPieceRad/2 + buffer
    * around the midpoint covers the piece's whole buffer zone).
    * Adjacent duplicate vertices contribute no piece (zero-length
    * arc adds no corridor beyond its NEIGHBORING pieces' endpoints);
    * a fully degenerate polyline (ALL vertices coincident — a
    * stationary or truncated track) has no neighboring piece to
    * lean on, so it emits ONE point piece [0, v,v,v, v,v,v, v,v,v]
    * whose exact predicate degrades to plain point distance —
    * rather than silently vanishing from an inner corridor join.
    */
  def corridorPieces(verts: ArrayData, maxPieceRad: Double): ArrayData = {
    val vs = verts.toDoubleArray()
    if (vs.length % 3 != 0 || vs.length < 6)
      throw new IllegalArgumentException(
        s"polyline vertex array length ${vs.length}: flattened " +
          "[x0,y0,z0,x1,...] with >= 2 vertices expected")
    if (!(maxPieceRad > 0.0))
      throw new IllegalArgumentException(s"maxPieceRad must be > 0 (got $maxPieceRad)")
    val n = vs.length / 3
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    var s = 0
    while (s < n - 1) {
      val ax = vs(3 * s); val ay = vs(3 * s + 1); val az = vs(3 * s + 2)
      val bx = vs(3 * s + 3); val by = vs(3 * s + 4); val bz = vs(3 * s + 5)
      val cx = ay * bz - az * by
      val cy = az * bx - ax * bz
      val cz = ax * by - ay * bx
      val theta = math.atan2(math.sqrt(cx * cx + cy * cy + cz * cz),
        ax * bx + ay * by + az * bz)
      if (theta > 1e-15) {
        val pieces = math.max(1, math.ceil(theta / maxPieceRad).toInt)
        val sinT = math.sin(theta)
        var p = 0
        while (p < pieces) {
          val tm = (p + 0.5) / pieces
          // angle-uniform slerp: arc(mid, any piece point) <=
          // (theta / pieces) / 2 <= maxPieceRad / 2 exactly
          // near-antipodal endpoints (sinT ~ 0) have no unique great
          // circle — same caller-bug contract as segDistRad; the
          // linear-blend fallback keeps the arithmetic finite
          val wa = if (sinT < 1e-12) 1.0 - tm else math.sin((1.0 - tm) * theta) / sinT
          val wb = if (sinT < 1e-12) tm else math.sin(tm * theta) / sinT
          var mx = wa * ax + wb * bx
          var my = wa * ay + wb * by
          var mz = wa * az + wb * bz
          var mn = math.sqrt(mx * mx + my * my + mz * mz)
          if (mn < 1e-12) {
            // exactly-antipodal endpoints, centered blend (odd piece
            // count): the midpoint is genuinely ambiguous — pick a
            // deterministic point ON the caller-bug segment's locus
            // (any unit vector perpendicular to a) so the row stays
            // finite; the exact endpoint predicate is unaffected
            if (math.abs(ax) <= math.abs(ay) && math.abs(ax) <= math.abs(az)) {
              mx = 0.0; my = -az; mz = ay
            } else if (math.abs(ay) <= math.abs(az)) {
              mx = az; my = 0.0; mz = -ax
            } else { mx = -ay; my = ax; mz = 0.0 }
            mn = math.sqrt(mx * mx + my * my + mz * mz)
          }
          out += new GenericArrayData(Array(s.toDouble,
            ax, ay, az, bx, by, bz, mx / mn, my / mn, mz / mn))
          p += 1
        }
      }
      s += 1
    }
    if (out.isEmpty) {
      // all segments zero-length: one point piece at the (shared)
      // first vertex keeps the route joinable
      val ax = vs(0); val ay = vs(1); val az = vs(2)
      out += new GenericArrayData(Array(0.0,
        ax, ay, az, ax, ay, az, ax, ay, az))
    }
    new GenericArrayData(out.toArray)
  }

  /** Great-circle distance [rad] from p to the minor arc a->b:
    * foot-on-arc test via signed triple products against the edge's
    * great-circle normal, endpoint fallback otherwise. A degenerate
    * edge (a ~ +-b, no unique great circle) falls back to the
    * distance to a — validated polygons never hit that branch; track
    * kernels (repeated fixes) do. The single shared formulation for
    * [[boundaryDistSigned]], SimplifyKernels, and the SparkEntry SQL
    * mirrors.
    */
  def segDistRad(px: Double, py: Double, pz: Double,
                 ax: Double, ay: Double, az: Double,
                 bx: Double, by: Double, bz: Double): Double = {
    def ep(vx: Double, vy: Double, vz: Double): Double = {
      val kx = py * vz - pz * vy
      val ky = pz * vx - px * vz
      val kz = px * vy - py * vx
      math.atan2(math.sqrt(kx * kx + ky * ky + kz * kz),
        px * vx + py * vy + pz * vz)
    }
    // c = unit(a x b) — the edge's great-circle normal
    val ux = ay * bz - az * by
    val uy = az * bx - ax * bz
    val uz = ax * by - ay * bx
    val un = math.sqrt(ux * ux + uy * uy + uz * uz)
    if (un < 1e-15) return ep(ax, ay, az)
    val cx = ux / un; val cy = uy / un; val cz = uz / un
    val cd = cx * px + cy * py + cz * pz
    // foot of the perpendicular on the circle (unnormalized)
    val fx = px - cd * cx; val fy = py - cd * cy; val fz = pz - cd * cz
    val winA = (ay * fz - az * fy) * cx + (az * fx - ax * fz) * cy +
      (ax * fy - ay * fx) * cz >= 0
    val winB = (fy * bz - fz * by) * cx + (fz * bx - fx * bz) * cy +
      (fx * by - fy * bx) * cz >= 0
    if (winA && winB)
      math.atan2(math.abs(cd), math.sqrt(fx * fx + fy * fy + fz * fz))
    else math.min(ep(ax, ay, az), ep(bx, by, bz))
  }
}
