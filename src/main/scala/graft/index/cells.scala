package graft.index

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.geo

/** Column DSL over the cell index. Cell ids are LongType; all calls
  * compile to static invocations inside whole-stage codegen.
  */
object cells {
  private lazy val kernelsClass: Class[_] = Class.forName("graft.index.CellKernels")

  /** Cell id of an n-vector struct at `level`. */
  def cellAt(n: Column, level: Int): Column =
    GraftSqlBridge.staticInvoke(kernelsClass, LongType, "cellAt",
      Seq(geo.vx(n), geo.vy(n), geo.vz(n), lit(level)),
      Seq(DoubleType, DoubleType, DoubleType, IntegerType))

  /** Cell ids at several levels at once (multi-resolution encode). */
  def cellsAt(n: Column, levels: Seq[Int]): Column =
    array(levels.map(l => cellAt(n, l)): _*)

  def parentCell(cell: Column, steps: Int = 1): Column =
    GraftSqlBridge.staticInvoke(kernelsClass, LongType, "parent",
      Seq(cell, lit(steps)), Seq(LongType, IntegerType))

  /** Ancestor at exactly `toLevel` — per-ROW step count (mixed-level
    * inputs each climb their own distance; cells at or coarser than
    * `toLevel` pass through unchanged).
    */
  def ancestorAt(cell: Column, toLevel: Int): Column =
    GraftSqlBridge.staticInvoke(kernelsClass, LongType, "parentAt",
      Seq(cell, lit(toLevel)), Seq(LongType, IntegerType))

  /** Local sibling-group compaction of a collected ancestor group
    * down to `floor` (CellIndex.compactLocal — the per-group kernel
    * behind CellSetOps.compact).
    */
  def compactGroup(cs: Column, floor: Int): Column =
    GraftSqlBridge.staticInvoke(kernelsClass,
      ArrayType(LongType, containsNull = false), "compactGroup",
      Seq(cs, lit(floor)), Seq(ArrayType(LongType, containsNull = false), IntegerType))

  /** Array of the distinct cells in the (2k+1)^2 block around `cell`. */
  def ringCells(cell: Column, k: Int): Column =
    GraftSqlBridge.staticInvoke(kernelsClass,
      ArrayType(LongType, containsNull = false), "ring",
      Seq(cell, lit(k)), Seq(LongType, IntegerType))

  /** Exact per-row coverage [rad] guaranteed by the k-ring block of
    * the n-vector's cell at `level` (see CellIndex.ringCoverageRad).
    */
  def ringCoverage(n: Column, level: Int, k: Int): Column =
    GraftSqlBridge.staticInvoke(kernelsClass, DoubleType, "ringCoverageRad",
      Seq(geo.vx(n), geo.vy(n), geo.vz(n), lit(level), lit(k)),
      Seq(DoubleType, DoubleType, DoubleType, IntegerType, IntegerType))

  /** Exact quadtree disc cover: all cells at `level` whose safe
    * lower-bound distance to the n-vector is within `angleRad`
    * (CellIndex.capCells, per row).
    */
  def capCells(n: Column, level: Int, angleRad: Double): Column =
    GraftSqlBridge.staticInvoke(kernelsClass,
      ArrayType(LongType, containsNull = false), "capCells",
      Seq(geo.vx(n), geo.vy(n), geo.vz(n), lit(level), lit(angleRad)),
      Seq(DoubleType, DoubleType, DoubleType, IntegerType, DoubleType))

  /** Great-circle distance [rad] from `p` to the minor arc a1->a2 —
    * ONE JITed CellKernels.segDistRad call (also behind
    * [[geo.segmentDistanceRad]]). A single plan node per segment: a
    * composed arithmetic form would repeat its normal/foot subtrees
    * per reference and, over computed endpoints, hand Catalyst's
    * optimizer trees it cannot collapse in reasonable time.
    */
  def segDist(p: Column, a1: Column, a2: Column): Column =
    GraftSqlBridge.staticInvoke(kernelsClass, DoubleType, "segDistRad",
      Seq(geo.vx(p), geo.vy(p), geo.vz(p),
        geo.vx(a1), geo.vy(a1), geo.vz(a1),
        geo.vx(a2), geo.vy(a2), geo.vz(a2)),
      Seq.fill(9)(DoubleType))

  /** True when minor arcs a1->a2 and b1->b2 share a point (endpoint
    * touches included) — ONE JITed CellKernels.segsCross call, the
    * crossing predicate of [[ringsIntersect]] exposed per segment
    * pair for route-route intersection joins.
    */
  def segsCross(a1: Column, a2: Column, b1: Column, b2: Column): Column =
    GraftSqlBridge.staticInvoke(kernelsClass, BooleanType, "segsCross",
      Seq(geo.vx(a1), geo.vy(a1), geo.vz(a1),
        geo.vx(a2), geo.vy(a2), geo.vz(a2),
        geo.vx(b1), geo.vy(b1), geo.vz(b1),
        geo.vx(b2), geo.vy(b2), geo.vz(b2)),
      Seq.fill(12)(DoubleType))

  /** Level field of a cell id — pure bitwise Columns (exactly the
    * CellIndex bit layout), so SQL mirrors reproduce it verbatim.
    */
  def cellLevel(cell: Column): Column =
    shiftright(cell, 52).bitwiseAND(lit(31L))

  /** Array of the cell's descendants AT `targetLevel` (the cell
    * itself when already at or below that depth — i.e. level >=
    * targetLevel rows pass through as a 1-element array). Pure
    * builtin arithmetic (no kernel): per-row child count is
    * 4^(targetLevel - level), child (i,j) = (i,j) * 2^steps + (di,dj).
    */
  def descendantCells(cell: Column, targetLevel: Int): Column = {
    require(targetLevel >= 0 && targetLevel <= 26, s"bad level $targetLevel")
    val lvl = cellLevel(cell)
    val steps = lit(targetLevel) - lvl
    // 2^steps / 4^steps as exact doubles -> long (steps <= 26)
    val twoS = pow(lit(2.0), steps).cast("long")
    val fourS = pow(lit(4.0), steps).cast("long")
    val face = cell.bitwiseAND(lit(7L << 57))
    val i = shiftright(cell, 26).bitwiseAND(lit(0x3ffffffL))
    val j = cell.bitwiseAND(lit(0x3ffffffL))
    when(lvl >= targetLevel, array(cell)).otherwise(
      transform(sequence(lit(0L), fourS - 1), d => {
        val di = floor(d / twoS).cast("long")
        val dj = pmod(d, twoS)
        face + shiftleft(lit(targetLevel.toLong), 52) +
          shiftleft(i * twoS + di, 26) + (j * twoS + dj)
      }))
  }

  /** Unit n-vector struct of the cell center. */
  def cellCenter(cell: Column): Column = {
    val ret = StructType(Seq(StructField("x", DoubleType, nullable = false),
      StructField("y", DoubleType, nullable = false),
      StructField("z", DoubleType, nullable = false)))
    val c = GraftSqlBridge.staticInvoke(kernelsClass, ret, "center",
      Seq(cell), Seq(LongType))
    geo.vec(c.getField("x"), c.getField("y"), c.getField("z"))
  }

  /** Point-in-spherical-polygon over an n-vector struct and a flat
    * [x0,y0,z0,x1,...] vertex array column.
    */
  def pointInPolygon(n: Column, verts: Column): Column =
    GraftSqlBridge.staticInvoke(kernelsClass, BooleanType, "pointInPolygon",
      Seq(geo.vx(n), geo.vy(n), geo.vz(n), verts),
      Seq(DoubleType, DoubleType, DoubleType, ArrayType(DoubleType, containsNull = false)))

  /** Signed boundary distance [rad] (negative inside) over an
    * n-vector struct and a flat vertex array column — see
    * CellKernels.boundaryDistSigned.
    */
  def boundaryDistSigned(n: Column, verts: Column): Column =
    GraftSqlBridge.staticInvoke(kernelsClass, DoubleType, "boundaryDistSigned",
      Seq(geo.vx(n), geo.vy(n), geo.vz(n), verts),
      Seq(DoubleType, DoubleType, DoubleType, ArrayType(DoubleType, containsNull = false)))

  /** Nearest-segment snap onto an OPEN polyline (flat vertex array):
    * struct (seg int, dist double [rad], fx, fy, fz) — see
    * CellKernels.snapToPolyline.
    */
  def snapToPolyline(n: Column, verts: Column): Column =
    GraftSqlBridge.staticInvoke(kernelsClass,
      StructType(Seq(
        StructField("seg", IntegerType, nullable = false),
        StructField("dist", DoubleType, nullable = false),
        StructField("fx", DoubleType, nullable = false),
        StructField("fy", DoubleType, nullable = false),
        StructField("fz", DoubleType, nullable = false))),
      "snapToPolyline",
      Seq(geo.vx(n), geo.vy(n), geo.vz(n), verts),
      Seq(DoubleType, DoubleType, DoubleType, ArrayType(DoubleType, containsNull = false)))

  /** Even-odd point-in-multipolygon over the ring-list encoding
    * [k, n_0..n_{k-1}, coords...] — see
    * CellKernels.pointInPolygonRings.
    */
  def pointInPolygonRings(n: Column, rings: Column): Column =
    GraftSqlBridge.staticInvoke(kernelsClass, BooleanType, "pointInPolygonRings",
      Seq(geo.vx(n), geo.vy(n), geo.vz(n), rings),
      Seq(DoubleType, DoubleType, DoubleType, ArrayType(DoubleType, containsNull = false)))

  /** Signed boundary distance [rad] for the ring-list encoding
    * (negative inside by even-odd; a hole's rim counts as boundary).
    */
  def boundaryDistSignedRings(n: Column, rings: Column): Column =
    GraftSqlBridge.staticInvoke(kernelsClass, DoubleType, "boundaryDistSignedRings",
      Seq(geo.vx(n), geo.vy(n), geo.vz(n), rings),
      Seq(DoubleType, DoubleType, DoubleType, ArrayType(DoubleType, containsNull = false)))

  /** Corridor pieces of an open polyline: array of 10-double rows
    * [segIdx, a..., b..., pieceMid...] with piece arc <= maxPieceRad
    * (see CellKernels.corridorPieces).
    */
  def corridorPieces(verts: Column, maxPieceRad: Double): Column =
    GraftSqlBridge.staticInvoke(kernelsClass,
      ArrayType(ArrayType(DoubleType, containsNull = false), containsNull = false),
      "corridorPieces", Seq(verts, lit(maxPieceRad)),
      Seq(ArrayType(DoubleType, containsNull = false), DoubleType))

  /** True when two even-odd ring-list regions intersect (edge
    * crossing or vertex containment either way) — see
    * CellKernels.ringsIntersect.
    */
  def ringsIntersect(a: Column, b: Column): Column =
    GraftSqlBridge.staticInvoke(kernelsClass, BooleanType, "ringsIntersect",
      Seq(a, b),
      Seq(ArrayType(DoubleType, containsNull = false),
        ArrayType(DoubleType, containsNull = false)))

  /** Mixed-level quadtree disc cover of a ring-list polygon encoding
    * (per ring: its own ~96-cell level, grown by `extraRad`); throws
    * on rings violating the winding test's hemisphere contract —
    * table rows have no construction-time `validated` hook.
    */
  def ringCoverCells(rings: Column, extraRad: Double): Column =
    GraftSqlBridge.staticInvoke(kernelsClass,
      ArrayType(LongType, containsNull = false), "ringCoverCells",
      Seq(rings, lit(extraRad)),
      Seq(ArrayType(DoubleType, containsNull = false), DoubleType))

  /** The distinct cover LEVELS [[ringCoverCells]] would use (cheap
    * pre-pass, no cell enumeration).
    */
  def ringCoverLevels(rings: Column, extraRad: Double): Column =
    GraftSqlBridge.staticInvoke(kernelsClass,
      ArrayType(IntegerType, containsNull = false), "ringCoverLevels",
      Seq(rings, lit(extraRad)),
      Seq(ArrayType(DoubleType, containsNull = false), DoubleType))

  /** Ring-list literal [k, n_0.., coords...] from (latDeg, lonDeg)
    * ring lists — the [[pointInPolygonRings]] encoding as a Column
    * (AoiM.flatRings for literals the operator sites build inline).
    */
  def ringsLiteral(ringsLatLonDeg: Seq[Seq[(Double, Double)]]): Column =
    array(CellIndex.ringList(ringsLatLonDeg).toSeq.map(lit): _*)

  /** Flat n-vector vertex array literal from (latDeg, lonDeg) pairs. */
  def polygonLiteral(latLonDeg: Seq[(Double, Double)]): Column =
    array(CellIndex.flatNvecs(latLonDeg).toSeq.map(lit): _*)
}
