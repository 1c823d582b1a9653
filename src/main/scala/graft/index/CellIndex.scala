package graft.index

import graft.geo.{Gade, Vec3}

/** S2-style cube-face quadtree cell index over the unit sphere.
  *
  * A position's n-vector is centrally projected onto the unit cube;
  * the face plus quantized (i, j) coordinates at a quadtree level form
  * a 64-bit cell id. Parent/child/ring arithmetic is exact integer
  * math, which is why this layout (rather than hexagonal H3) backs the
  * join operators (SURVEY.md M3; north_rule "H3/S2-style indexing").
  *
  * Id layout (MSB to LSB):
  * {{{
  *   [ 4 bits unused ][ 3 bits face ][ 5 bits level ][ 26 bits i ][ 26 bits j ]
  * }}}
  * Levels 0..26. At level L each face splits into 2^L x 2^L cells.
  * Ids are non-negative, so they sort and hash cleanly as Longs.
  */
object CellIndex {
  val MaxLevel = 26

  /** Safe lower bound [rad] on the coverage a k-ring block guarantees
    * for ANY query position inside the center cell, including blocks
    * overhanging face edges/corners where the gnomonic compresses
    * below the on-face minimum.
    *
    * Derivation: the block is bounded by 4 planes u = const / v =
    * const through the origin. For a query at extended coords
    * (u0, v0) with |u0|,|v0| <= 1 and a plane at c with |c - u0| >=
    * k*step, the angular distance point->plane is
    * asin(|c - u0| / (sqrt(1+u0^2+v0^2) * sqrt(1+c^2)))
    * >= asin(k*step / (sqrt(3) * sqrt(1+(1+k*step)^2))).
    * Blocks that wrap the whole face (2k+1 >= scale) enumerate every
    * cell, so they cover the full sphere.
    */
  def coverageLowerBound(level: Int, k: Int): Double = {
    val scale = 1 << level
    if (2 * k + 1 >= scale) return math.Pi
    val step = 2.0 / scale
    val m = 1.0 + k * step
    math.asin(math.min(1.0, k * step / (math.sqrt(1.0 + m * m) * math.sqrt(3.0))))
  }

  /** Largest level (>= minLevel) at which a k-ring block provably
    * covers `angleRad` for every query position, or -1 if no
    * non-wrapping level does (the cube-face block bound saturates
    * near ~0.26 rad; beyond that candidate sets are a constant
    * fraction of the sphere and callers should cross-join).
    */
  def levelForRadiusSafe(angleRad: Double, k: Int = 1, minLevel: Int = 2): Int = {
    var level = MaxLevel
    while (level >= minLevel) {
      val scale = 1 << level
      if (2 * k + 1 < scale && coverageLowerBound(level, k) >= angleRad) return level
      level -= 1
    }
    -1
  }

  /** Exact per-query coverage [rad] of the k-ring block around the
    * cell containing unit vector (x, y, z) at `level`: the minimum
    * angular distance from the point to the block's 4 bounding
    * great-circle planes (and to the face hemisphere boundary). Any
    * point within this angle of the query is guaranteed to fall in a
    * cell enumerated by [[ring]](cellAt(x,y,z,level), k).
    */
  def ringCoverageRad(x: Double, y: Double, z: Double, level: Int, k: Int): Double = {
    val scale = 1 << level
    if (2 * k + 1 >= scale) return math.Pi
    val step = 2.0 / scale
    val face = faceOf(x, y, z)
    val (u, v) = faceUV(face, x, y, z)
    val i0 = ijOf(u, scale); val j0 = ijOf(v, scale)
    val uLo = (i0 - k) * step - 1.0
    val uHi = (i0 + k + 1) * step - 1.0
    val vLo = (j0 - k) * step - 1.0
    val vHi = (j0 + k + 1) * step - 1.0
    val w = faceW(face); val ua = faceU(face); val va = faceV(face)
    // plane {p . (axis - c*w) = 0}; |axis - c*w| = sqrt(1 + c^2)
    def planeDist(ax: Vec3, c: Double): Double = {
      val d = (x * ax.x + y * ax.y + z * ax.z) - c * (x * w.x + y * w.y + z * w.z)
      math.asin(math.min(1.0, math.abs(d) / math.sqrt(1.0 + c * c)))
    }
    val hemi = math.asin(math.min(1.0, math.max(0.0, x * w.x + y * w.y + z * w.z)))
    math.min(hemi,
      math.min(math.min(planeDist(ua, uLo), planeDist(ua, uHi)),
        math.min(planeDist(va, vLo), planeDist(va, vHi))))
  }

  /** Face index 0..5: +x -x +y -y +z -z by largest |component|. */
  @inline def faceOf(x: Double, y: Double, z: Double): Int = {
    val ax = math.abs(x); val ay = math.abs(y); val az = math.abs(z)
    if (ax >= ay && ax >= az) { if (x >= 0) 0 else 1 }
    else if (ay >= az) { if (y >= 0) 2 else 3 }
    else { if (z >= 0) 4 else 5 }
  }

  /** Face-local (u, v) in [-1, 1] of the central projection. */
  def faceUV(face: Int, x: Double, y: Double, z: Double): (Double, Double) =
    face match {
      case 0 => (y / x, z / x)
      case 1 => (z / -x, y / -x)
      case 2 => (z / y, x / y)
      case 3 => (x / -y, z / -y)
      case 4 => (x / z, y / z)
      case _ => (y / -z, x / -z)
    }

  @inline private def ijOf(uv: Double, scale: Int): Int = {
    val c = ((uv + 1.0) * 0.5 * scale).toInt
    if (c < 0) 0 else if (c >= scale) scale - 1 else c
  }

  /** Cell id of the unit direction (x, y, z) at `level`. */
  def cellAt(x: Double, y: Double, z: Double, level: Int): Long = {
    val face = faceOf(x, y, z)
    val (u, v) = faceUV(face, x, y, z)
    val scale = 1 << level
    pack(face, level, ijOf(u, scale), ijOf(v, scale))
  }

  @inline def pack(face: Int, level: Int, i: Int, j: Int): Long =
    (face.toLong << 57) | (level.toLong << 52) | (i.toLong << 26) | j.toLong

  @inline def faceOf(id: Long): Int = ((id >> 57) & 0x7).toInt
  @inline def levelOf(id: Long): Int = ((id >> 52) & 0x1f).toInt
  @inline def iOf(id: Long): Int = ((id >> 26) & 0x3ffffff).toInt
  @inline def jOf(id: Long): Int = (id & 0x3ffffff).toInt

  /** Parent cell at `level - steps`. */
  def parent(id: Long, steps: Int = 1): Long = {
    val level = levelOf(id)
    val newLevel = math.max(0, level - steps)
    val shift = level - newLevel
    pack(faceOf(id), newLevel, iOf(id) >> shift, jOf(id) >> shift)
  }

  /** The 4 children one level down. */
  def children(id: Long): Array[Long] = {
    val level = levelOf(id)
    require(level < MaxLevel)
    val f = faceOf(id); val i = iOf(id) << 1; val j = jOf(id) << 1
    Array(pack(f, level + 1, i, j), pack(f, level + 1, i + 1, j),
      pack(f, level + 1, i, j + 1), pack(f, level + 1, i + 1, j + 1))
  }

  /** Center direction (not normalized) of a cell. */
  def centerXYZ(id: Long): Vec3 = {
    val level = levelOf(id)
    val scale = 1 << level
    val u = (iOf(id) + 0.5) * 2.0 / scale - 1.0
    val v = (jOf(id) + 0.5) * 2.0 / scale - 1.0
    dirOf(faceOf(id), u, v)
  }

  /** Corner ring of a cell as flat [x0,y0,z0,...] unit n-vectors
    * (counter-clockwise) — directly consumable by the
    * point-in-polygon kernel. Lives here (not in the raster operator)
    * because it is pure cell geometry; Raster/vectorize delegate.
    */
  def cellCornersFlat(id: Long): Array[Double] = {
    val level = levelOf(id)
    val scale = 1 << level
    val step = 2.0 / scale
    val u0 = iOf(id) * step - 1.0
    val v0 = jOf(id) * step - 1.0
    val face = faceOf(id)
    val corners = Seq((u0, v0), (u0 + step, v0), (u0 + step, v0 + step), (u0, v0 + step))
    corners.flatMap { case (u, v) =>
      val c = graft.geo.VecMath.unit(dirOf(face, u, v))
      Seq(c.x, c.y, c.z)
    }.toArray
  }

  /** 3D direction through face-local (u, v); valid for |u|,|v| > 1 too
    * (lands on the neighboring face), making ring generation
    * face-crossing-safe.
    */
  def dirOf(face: Int, u: Double, v: Double): Vec3 = face match {
    case 0 => Vec3(1, u, v)
    case 1 => Vec3(-1, v, u)
    case 2 => Vec3(v, 1, u)
    case 3 => Vec3(u, -1, v)
    case 4 => Vec3(u, v, 1)
    case _ => Vec3(v, u, -1)
  }

  /** Safe lower bound [rad] on the angular distance from unit vector
    * (x, y, z) to any point of `cell` (0 when the point may lie in or
    * touch the cell): the largest violated bounding-plane angle, plus
    * the face-hemisphere constraint. Never overestimates, so a disc
    * cover built from it can only over-include cells.
    */
  def cellMinDistLB(id: Long, x: Double, y: Double, z: Double): Double = {
    val step = 2.0 / (1 << levelOf(id))
    val face = faceOf(id)
    val pu = dot(faceU(face), x, y, z); val pv = dot(faceV(face), x, y, z)
    val pw = dot(faceW(face), x, y, z)
    val u0 = iOf(id) * step - 1.0; val v0 = jOf(id) * step - 1.0
    val v = sinViolation(planeSin(pu, pw, u0), planeSin(pu, pw, u0 + step),
      planeSin(pv, pw, v0), planeSin(pv, pw, v0 + step), pw)
    if (v > 0) math.asin(math.min(1.0, v)) else 0.0
  }

  @inline private def dot(a: Vec3, x: Double, y: Double, z: Double): Double =
    x * a.x + y * a.y + z * a.z

  /** The point's signed sine outside the face plane u = c (or v = c;
    * normal (faceU - c faceW) / sqrt(1 + c^2)), from its dot products
    * `pa` with faceU (or faceV) and `pw` with faceW. Positive on the
    * side of larger u.
    */
  @inline private def planeSin(pa: Double, pw: Double, c: Double): Double =
    (pa - c * pw) / math.sqrt(1.0 + c * c)

  /** The sine of [[cellMinDistLB]]'s bound, before its `asin`: the
    * largest violation of a cell by the point, or 0 when it violates
    * nothing. The cell spans [uLo, uHi] x [vLo, vHi] on its face,
    * given as the point's [[planeSin]] against those four planes;
    * outside the face hemisphere the violation is -pw. The one bound
    * definition behind [[cellMinDistLB]] and [[capCells]].
    */
  @inline private def sinViolation(uLo: Double, uHi: Double, vLo: Double, vHi: Double,
                                   pw: Double): Double = {
    var m = 0.0
    if (-uLo > m) m = -uLo
    if (uHi > m) m = uHi
    if (-vLo > m) m = -vLo
    if (vHi > m) m = vHi
    if (-pw > m) m = -pw
    m
  }

  /** All cells at `level` intersecting (by the safe lower bound) the
    * spherical cap of radius `angleRad` around unit (x, y, z) —
    * exact disc cover for broadcast prefilters, computed by quadtree
    * DESCENT from the 6 faces (a child within the cap implies its
    * parent's true distance — hence its lower bound — is within the
    * cap, so pruning parents never loses needed cells). Cost is
    * O(cover size * level), valid at any level; sorted ascending.
    *
    * The descent allocates nothing per cell: two reused frontier
    * buffers, and the 4 children of a cell tested inline against the
    * 3 + 3 bounding planes they share (plane offsets are exact dyadic
    * doubles, so a shared plane has the same value for each child). A
    * cell is kept when [[cellMinDistLB]] <= angleRad, tested in sine
    * space: its [[sinViolation]] s passes when s <= sin(angleRad).
    * Only within a relative 1e-9 of sin(angleRad) does it fall back to
    * the bound's own asin(min(1, s)) <= angleRad; outside that band
    * both tests agree, because sin and asin are correct to an ulp
    * (~1e-16 relative) and asin's slope is >= 1. At angleRad >= pi/2
    * every asin is <= pi/2 <= angleRad, so the cover is [[allCells]].
    * The cells are therefore exactly those of a descent that filters
    * each level by cellMinDistLB <= angleRad. A NaN coordinate, or an
    * angle that is negative or NaN, yields no cells.
    */
  def capCells(x: Double, y: Double, z: Double, level: Int,
               angleRad: Double): Array[Long] = {
    if (x.isNaN || y.isNaN || z.isNaN || !(angleRad >= 0)) return Array.emptyLongArray
    require(level <= MaxLevel, s"level $level > $MaxLevel")
    if (angleRad >= math.Pi / 2) return allCells(level)
    val sinA = math.sin(angleRad)
    val sinLo = sinA * (1.0 - 1e-9); val sinHi = sinA * (1.0 + 1e-9)
    def inCap(s: Double): Boolean =
      s <= sinLo || (s <= sinHi && math.asin(math.min(1.0, s)) <= angleRad)
    // the point's dot products with each face's frame
    val pu = new Array[Double](6); val pv = new Array[Double](6); val pw = new Array[Double](6)
    var cur = new Array[Long](64); var next = new Array[Long](64)
    var n = 0
    var f = 0
    while (f < 6) {
      pu(f) = dot(faceU(f), x, y, z); pv(f) = dot(faceV(f), x, y, z); pw(f) = dot(faceW(f), x, y, z)
      if (inCap(sinViolation(planeSin(pu(f), pw(f), -1.0), planeSin(pu(f), pw(f), 1.0),
          planeSin(pv(f), pw(f), -1.0), planeSin(pv(f), pw(f), 1.0), pw(f)))) {
        cur(n) = pack(f, 0, 0, 0); n += 1
      }
      f += 1
    }
    var l = 1
    while (l <= level) {
      val step = 2.0 / (1 << l)
      if (next.length < 4 * n) next = new Array[Long](4 * n)
      var m = 0
      var k = 0
      while (k < n) {
        val id = cur(k)
        val fc = faceOf(id); val i = iOf(id) << 1; val j = jOf(id) << 1
        val a = pu(fc); val b = pv(fc); val w = pw(fc)
        // the 4 children share 3 u-planes and 3 v-planes
        val u0 = i * step - 1.0; val v0 = j * step - 1.0
        val su0 = planeSin(a, w, u0); val su1 = planeSin(a, w, u0 + step)
        val su2 = planeSin(a, w, u0 + 2 * step)
        val sv0 = planeSin(b, w, v0); val sv1 = planeSin(b, w, v0 + step)
        val sv2 = planeSin(b, w, v0 + 2 * step)
        var c = 0
        while (c < 4) {
          val di = c & 1; val dj = c >> 1
          if (inCap(sinViolation(if (di == 0) su0 else su1, if (di == 0) su1 else su2,
              if (dj == 0) sv0 else sv1, if (dj == 0) sv1 else sv2, w))) {
            next(m) = pack(fc, l, i + di, j + dj); m += 1
          }
          c += 1
        }
        k += 1
      }
      val t = cur; cur = next; next = t
      n = m
      l += 1
    }
    val out = java.util.Arrays.copyOf(cur, n)
    java.util.Arrays.sort(out)
    out
  }

  /** The cover level of a point-probe join: the level at which a disc
    * of angular radius `angleRad` (clamped to [1e-6, pi]) spans ~96
    * of the sphere's 6 * 4^L cells, clamped to [2, MaxLevel]. One
    * rule for the polygon ring covers (literal AOIs and polygon
    * tables) and the corridor pieces; [[capCells]] descends the
    * quadtree, so a fine level costs only O(cover size * level).
    */
  def discCoverLevel(angleRad: Double): Int = {
    val ang = math.min(math.Pi, math.max(angleRad, 1e-6))
    val discArea = 2.0 * math.Pi * (1.0 - math.cos(ang))
    val l = (0.5 * (math.log(96.0 * 4.0 * math.Pi / (6.0 * discArea)) /
      math.log(2.0))).ceil.toInt
    math.max(2, math.min(MaxLevel, l))
  }

  /** Flat [x0,y0,z0,x1,...] unit n-vectors of (latDeg, lonDeg)
    * vertices: the one encoder behind every polygon, ring-list and
    * route literal the kernels read.
    */
  def flatNvecs(latLonDeg: Seq[(Double, Double)]): Array[Double] =
    latLonDeg.flatMap { case (la, lo) =>
      val n = Gade.latLonToNvec(math.toRadians(la), math.toRadians(lo))
      Seq(n.x, n.y, n.z)
    }.toArray

  /** Ring-list encoding [k, n_0..n_{k-1}, ring coords...] (all
    * doubles) of (latDeg, lonDeg) rings — the input of
    * CellKernels.pointInPolygonRings and its siblings.
    */
  def ringList(ringsLatLonDeg: Seq[Seq[(Double, Double)]]): Array[Double] =
    Array(ringsLatLonDeg.length.toDouble) ++ ringsLatLonDeg.map(_.length.toDouble) ++
      flatNvecs(ringsLatLonDeg.flatten)

  /** Face frame axes: dirOf(face, u, v) = faceW + u*faceU + v*faceV. */
  private[index] val faceW = Array(Vec3(1, 0, 0), Vec3(-1, 0, 0), Vec3(0, 1, 0),
    Vec3(0, -1, 0), Vec3(0, 0, 1), Vec3(0, 0, -1))
  private[index] val faceU = Array(Vec3(0, 1, 0), Vec3(0, 0, 1), Vec3(0, 0, 1),
    Vec3(1, 0, 0), Vec3(1, 0, 0), Vec3(0, 1, 0))
  private[index] val faceV = Array(Vec3(0, 0, 1), Vec3(0, 1, 0), Vec3(1, 0, 0),
    Vec3(0, 0, 1), Vec3(0, 1, 0), Vec3(1, 0, 0))

  /** Every cell id at `level` (used when a ring block wraps its face;
    * callers keep levels small there — 6 * 4^level ids).
    */
  def allCells(level: Int): Array[Long] = {
    val scale = 1 << level
    val out = new Array[Long](6 * scale * scale)
    var idx = 0
    var f = 0
    while (f < 6) {
      var i = 0
      while (i < scale) {
        var j = 0
        while (j < scale) { out(idx) = pack(f, level, i, j); idx += 1; j += 1 }
        i += 1
      }
      f += 1
    }
    java.util.Arrays.sort(out)
    out
  }

  /** Distinct cells of the (2k+1)^2 block centered on `id`'s cell.
    * In-face neighbors are exact integer steps. Blocks hanging over a
    * face edge are resolved EXACTLY: each overhanging cell's 4 corner
    * directions are projected onto the neighbor face(s) they land on,
    * and every cell of the corner-projection bounding box is included.
    * The extended-uv -> neighbor-face map is a per-axis-monotone
    * rational function, so corner extremes bound the image exactly and
    * the box can only over-include (never miss) covered cells — the
    * property the join coverage proofs rely on. Blocks that wrap the
    * whole face (2k+1 >= scale) return [[allCells]]. Sorted ascending
    * for determinism, so downstream `explode` output is reproducible.
    */
  def ring(id: Long, k: Int): Array[Long] = {
    val level = levelOf(id); val face = faceOf(id)
    val scale = 1 << level
    if (2 * k + 1 >= scale) return allCells(level)
    val step = 2.0 / scale
    val i0 = iOf(id); val j0 = jOf(id)
    val out = new java.util.TreeSet[java.lang.Long]()
    var di = -k
    while (di <= k) {
      var dj = -k
      while (dj <= k) {
        val ii = i0 + di; val jj = j0 + dj
        if (ii >= 0 && ii < scale && jj >= 0 && jj < scale) {
          out.add(pack(face, level, ii, jj))
        } else {
          addOverhang(face, level, scale, step, ii, jj, out)
        }
        dj += 1
      }
      di += 1
    }
    val arr = new Array[Long](out.size)
    var idx = 0
    val it = out.iterator()
    while (it.hasNext) { arr(idx) = it.next(); idx += 1 }
    arr
  }

  /** In-memory bottom-up sibling-group compaction of a cell set down
    * to (but not past) `floor`: every complete 4-sibling group at a
    * level > floor merges to its parent, recursively. Input must be
    * distinct and ancestor-free (no cell containing another — the
    * same precondition as the distributed [[CellSetOps.compact]],
    * whose per-ancestor-group rounds call this). Output order is
    * unspecified (callers treat covers as sets).
    *
    * Cost: O(n · levels) hash operations, no allocation proportional
    * to the subtree — safe for the ≤ Σ_{d=1..chunk} 4^d ≈ 87k cells
    * an ancestor-free group can hold at chunk = 8.
    */
  def compactLocal(cs: Array[Long], floor: Int): Array[Long] = {
    if (cs.length < 4) return cs
    import scala.collection.mutable
    // bucket by level; only levels > floor participate in merging
    val byLevel = Array.fill(MaxLevel + 1)(null: mutable.LongMap[Unit])
    var maxL = 0
    var i = 0
    while (i < cs.length) {
      val l = levelOf(cs(i))
      if (byLevel(l) == null) byLevel(l) = mutable.LongMap.empty[Unit]
      byLevel(l).update(cs(i), ())
      if (l > maxL) maxL = l
      i += 1
    }
    var l = maxL
    while (l > floor) {
      val set = byLevel(l)
      if (set != null && set.nonEmpty) {
        val counts = mutable.LongMap.empty[Int]
        set.foreachKey { c =>
          val p = parent(c, 1)
          counts.update(p, counts.getOrElse(p, 0) + 1)
        }
        counts.foreach { case (p, n) =>
          if (n == 4) {
            // input distinctness ⇒ count 4 means all 4 children present
            children(p).foreach(set.remove)
            if (byLevel(l - 1) == null) byLevel(l - 1) = mutable.LongMap.empty[Unit]
            byLevel(l - 1).update(p, ())
          }
        }
      }
      l -= 1
    }
    val out = Array.newBuilder[Long]
    var lv = 0
    while (lv <= maxL) {
      if (byLevel(lv) != null) byLevel(lv).foreachKey(out += _)
      lv += 1
    }
    out.result()
  }

  /** Add every cell possibly covered by the off-face cell (ii, jj) of
    * `face` (extended indices). Requires the overhang to stay within
    * one face width (guaranteed by the 2k+1 < scale wrap guard), so
    * all corner directions have positive components toward every face
    * any corner lands on.
    */
  private def addOverhang(face: Int, level: Int, scale: Int, step: Double,
                          ii: Int, jj: Int,
                          out: java.util.TreeSet[java.lang.Long]): Unit = {
    val u0 = ii * step - 1.0; val u1 = (ii + 1) * step - 1.0
    val v0 = jj * step - 1.0; val v1 = (jj + 1) * step - 1.0
    val corners = Array(dirOf(face, u0, v0), dirOf(face, u0, v1),
      dirOf(face, u1, v0), dirOf(face, u1, v1))
    var seen = 0 // bitmask of target faces already handled
    var ci = 0
    while (ci < 4) {
      val g = faceOf(corners(ci).x, corners(ci).y, corners(ci).z)
      if ((seen & (1 << g)) == 0) {
        seen |= 1 << g
        var uLo = Double.MaxValue; var uHi = -Double.MaxValue
        var vLo = Double.MaxValue; var vHi = -Double.MaxValue
        var cj = 0
        while (cj < 4) {
          val c = corners(cj)
          val (u, v) = faceUV(g, c.x, c.y, c.z)
          if (u < uLo) uLo = u
          if (u > uHi) uHi = u
          if (v < vLo) vLo = v
          if (v > vHi) vHi = v
          cj += 1
        }
        val eps = 1e-12
        def lo(c: Double): Int = {
          val raw = math.floor((c + 1.0) / step - eps).toInt
          if (raw < 0) 0 else if (raw >= scale) scale - 1 else raw
        }
        def hi(c: Double): Int = {
          val raw = math.floor((c + 1.0) / step + eps).toInt
          if (raw < 0) 0 else if (raw >= scale) scale - 1 else raw
        }
        var i = lo(uLo)
        val iMax = hi(uHi)
        while (i <= iMax) {
          var j = lo(vLo)
          val jMax = hi(vHi)
          while (j <= jMax) { out.add(pack(g, level, i, j)); j += 1 }
          i += 1
        }
      }
      ci += 1
    }
  }
}
