package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.geo
import graft.index.{CellIndex, cells}
import graft.operators.{AsOfJoin, Boilerplate, Clustering, Contamination, Dedup, LangModel, Packing, Similarity, SpatialJoins, TextAnalysis, WebText}
import graft.operators.SpatialJoins.Aoi
import graft.sources.ImageTable

/** Driver contract: one `queries` entry per operator family
  * (SURVEY.md §2), with an ANSI-SQL DuckDB mirror in [[oracleSql]]
  * for everything SQL-expressible. The geo testdata tables carry no
  * coordinates, so queries derive deterministic lat/lon from integer
  * keys with formulas both engines evaluate identically
  * (FIXTURES.md §4). Every query orders by a unique key and rounds
  * doubles so results are canonical.
  */
object SparkEntry {

  // ---- shared derived-coordinate helpers ---------------------------

  /** Deterministic latitude [rad] from a NON-NEGATIVE integer key —
    * the one synthetic-position formula shared by the gates, the
    * flagship pipeline, Bench, and the probes (same integer
    * arithmetic in Spark and DuckDB). Modular form: reducing the key
    * mod 180001 BEFORE the multiply keeps every intermediate below
    * 3.3e10, so the formula holds to 10^12-scale keys where the naive
    * product overflowed Long at k ~ 3.5e9 (ANSI abort, or NaN lat
    * with ANSI off); values are identical for all non-negative k.
    */
  private[graft] def latRad(k: Column): Column =
    asin((((k % 180001L) * lit(2654435761L % 180001L)) % 180001L) / 90000.5 - 1.0)
  private[graft] def lonRad(k: Column): Column =
    ((((k % 360001L) * lit(40503L)) % 360001L) / 180000.5 - 1.0) * math.Pi
  // scalar twins of the SAME formula (keep all three forms — Column,
  // SQL string, scalar — adjacent so none can drift alone); used by
  // gate constants derived from generated positions (geofenceAois)
  private[graft] def latRadScalar(k: Long): Double =
    math.asin((((k % 180001L) * (2654435761L % 180001L)) % 180001L) / 90000.5 - 1.0)
  private[graft] def lonRadScalar(k: Long): Double =
    ((((k % 360001L) * 40503L) % 360001L) / 180000.5 - 1.0) * math.Pi

  private def latSql(k: String) =
    s"asin(((($k % 180001) * ${2654435761L % 180001L}) % 180001) / 90000.5 - 1.0)"
  private def lonSql(k: String) =
    s"pi() * ((((($k % 360001) * 40503) % 360001) / 180000.5) - 1.0)"

  /** SQL CTE producing (k, lat, lon, nx, ny, nz) for a key expression. */
  private def ptsSql(table: String, k: String) =
    s"""WITH keyed AS (SELECT $k AS k, ${latSql(k)} AS lat, ${lonSql(k)} AS lon FROM $table),
       |pts AS (SELECT k, lat, lon, cos(lat)*cos(lon) AS nx, cos(lat)*sin(lon) AS ny, sin(lat) AS nz FROM keyed)
       |""".stripMargin

  private val R = 6371009.0
  // Oslo reference point
  private val OsloLat = math.toRadians(59.9139)
  private val OsloLon = math.toRadians(10.7522)
  private val oslo = graft.geo.Gade.latLonToNvec(OsloLat, OsloLon)
  private def osloSqlConsts =
    s"${fmt(oslo.x)} , ${fmt(oslo.y)} , ${fmt(oslo.z)}"
  private def fmt(d: Double): String = {
    val s = java.lang.Double.toString(d)
    if (s.contains("E")) new java.math.BigDecimal(d).toPlainString else s
  }

  /** SQL mirror of CellKernels.boundaryDistSigned for a LITERAL AOI:
    * per-edge clamped segment distance (foot-on-arc via signed triple
    * products, endpoint fallback), min over edges, sign from the
    * convex half-plane inside test (equivalent to the winding test
    * for the gate's convex boxes — the equivalence q15 pins). Emits
    * `SELECT k, '<id>' AS aoi_id, <signed rad> AS sd FROM ...` over
    * the `pts` CTE; used by q67 and q70.
    */
  private def boundaryAoiSql(id: String, vs: Seq[(Double, Double)]): String =
    boundaryRingsSql(id, Seq(vs))

  /** Even-odd containment mirror for CONVEX rings (q15's half-plane
    * convention per ring, combined by parity — exactly
    * CellKernels.pointInPolygonRings' semantics for convex rings):
    * "( CASE WHEN ring0 THEN 1 ELSE 0 END + ... ) % 2 = 1".
    */
  private def ringsInsideSql(rings: Seq[Seq[(Double, Double)]],
                             px: String = "nx", py: String = "ny",
                             pz: String = "nz"): String = {
    val terms = rings.map { vs =>
      val vn = vs.map { case (la, lo) =>
        graft.geo.Gade.latLonToNvec(math.toRadians(la), math.toRadians(lo)) }
      val conds = vn.indices.map { i =>
        val c = vn(i) cross vn((i + 1) % vn.length)
        s"(${fmt(c.x)}*$px + ${fmt(c.y)}*$py + ${fmt(c.z)}*$pz > 0)"
      }.mkString(" AND ")
      s"(CASE WHEN $conds THEN 1 ELSE 0 END)"
    }
    s"((${terms.mkString(" + ")}) % 2 = 1)"
  }

  /** Per-segment distance rows "SELECT k, <d> AS d FROM pts" for the
    * minor arc a->b — CellKernels.segDistRad replayed verbatim in
    * SQL; shared by the polygon-boundary and corridor mirrors.
    */
  private def segDistSql(a: graft.geo.Vec3, b: graft.geo.Vec3): String = {
    import graft.geo.VecMath
    {
      val c = VecMath.unit(a cross b)
      val cd = s"${fmt(c.x)}*nx + ${fmt(c.y)}*ny + ${fmt(c.z)}*nz"
      val sub = s"SELECT k, nx, ny, nz, ($cd) AS cd, " +
        s"nx - ($cd)*${fmt(c.x)} AS fx, ny - ($cd)*${fmt(c.y)} AS fy, " +
        s"nz - ($cd)*${fmt(c.z)} AS fz FROM pts"
      val winA = s"(${fmt(a.y)}*fz - ${fmt(a.z)}*fy)*${fmt(c.x)} + " +
        s"(${fmt(a.z)}*fx - ${fmt(a.x)}*fz)*${fmt(c.y)} + " +
        s"(${fmt(a.x)}*fy - ${fmt(a.y)}*fx)*${fmt(c.z)} >= 0"
      val winB = s"(fy*${fmt(b.z)} - fz*${fmt(b.y)})*${fmt(c.x)} + " +
        s"(fz*${fmt(b.x)} - fx*${fmt(b.z)})*${fmt(c.y)} + " +
        s"(fx*${fmt(b.y)} - fy*${fmt(b.x)})*${fmt(c.z)} >= 0"
      def ep(v: graft.geo.Vec3) =
        s"atan2(sqrt((ny*${fmt(v.z)} - nz*${fmt(v.y)})*(ny*${fmt(v.z)} - nz*${fmt(v.y)}) + " +
          s"(nz*${fmt(v.x)} - nx*${fmt(v.z)})*(nz*${fmt(v.x)} - nx*${fmt(v.z)}) + " +
          s"(nx*${fmt(v.y)} - ny*${fmt(v.x)})*(nx*${fmt(v.y)} - ny*${fmt(v.x)})), " +
          s"nx*${fmt(v.x)} + ny*${fmt(v.y)} + nz*${fmt(v.z)})"
      s"SELECT k, CASE WHEN ($winA) AND ($winB) " +
        "THEN atan2(abs(cd), sqrt(fx*fx + fy*fy + fz*fz)) " +
        s"ELSE least(${ep(a)}, ${ep(b)}) END AS d FROM ($sub)"
    }
  }

  /** Signed ring-list boundary distance mirror: min over EVERY
    * ring's per-segment distances ([[segDistSql]]), sign from
    * [[ringsInsideSql]]'s even-odd parity — the DuckDB replay of
    * CellKernels.boundaryDistSignedRings for convex rings. A single
    * ring degenerates to the q67/q70 mirror (parity of one term ==
    * the term).
    */
  private def boundaryRingsSql(id: String, rings: Seq[Seq[(Double, Double)]]): String = {
    val union = rings.flatMap { vs =>
      val vn = vs.map { case (la, lo) =>
        graft.geo.Gade.latLonToNvec(math.toRadians(la), math.toRadians(lo)) }
      vn.indices.map(i => s"(${segDistSql(vn(i), vn((i + 1) % vn.length))})")
    }.mkString(" UNION ALL ")
    val inside = ringsInsideSql(rings)
    s"SELECT k, '$id' AS aoi_id, CASE WHEN $inside THEN -md ELSE md END AS sd " +
      s"FROM (SELECT k, min(d) AS md FROM ($union) GROUP BY k) m JOIN pts USING (k)"
  }

  /** Full DuckDB replay of CellKernels.ringsIntersect for the q92
    * gate: per customer k, a great-circle QUAD with data-derived
    * center/half-widths (corners c1..c4, edge normals e1..e4 in
    * CTEs), intersected against each LITERAL gate polygon by the
    * kernel's exact decomposition — vertex-of-A in B (per-ring
    * half-plane parity, the q15-pinned winding equivalent for convex
    * rings), vertex-of-B in A (all four half-planes, the quad's CCW
    * vertex order), or arc crossing (u = na x nb per (A-edge,
    * B-edge) staged in a CTE; bracket triple products replayed with
    * the kernel's >= 0 convention, the -u orientation as the <= 0
    * mirror of the same four scalars). The kernel's
    * coincident-circle branch (u the exact ZERO vector) is
    * unreachable for hashed positions against these literals, so the
    * mirror replays the main branch only.
    */
  private def q92MirrorSql: String = {
    import graft.geo.Vec3
    val d2r = fmt(math.Pi / 180.0)
    def toN(p: (Double, Double)): Vec3 =
      graft.geo.Gade.latLonToNvec(math.toRadians(p._1), math.toRadians(p._2))
    val corners = Seq((1, "-", "-"), (2, "-", "+"), (3, "+", "+"), (4, "+", "-"))
    val crnCols = corners.map { case (i, sa, so) =>
      s"cos(clat $sa dla)*cos(lon $so dlo) AS c${i}x, " +
        s"cos(clat $sa dla)*sin(lon $so dlo) AS c${i}y, " +
        s"sin(clat $sa dla) AS c${i}z" }.mkString(", ")
    val eCols = Seq((1, 1, 2), (2, 2, 3), (3, 3, 4), (4, 4, 1)).map { case (e, i, j) =>
      s"c${i}y*c${j}z - c${i}z*c${j}y AS e${e}x, " +
        s"c${i}z*c${j}x - c${i}x*c${j}z AS e${e}y, " +
        s"c${i}x*c${j}y - c${i}y*c${j}x AS e${e}z" }.mkString(", ")
    def bEdges(rings: Seq[Seq[(Double, Double)]]): Seq[(Vec3, Vec3, Vec3)] =
      rings.flatMap { ring =>
        val vn = ring.map(toN)
        vn.indices.map { i =>
          val a = vn(i); val b = vn((i + 1) % vn.length); (a, b, a cross b) } }
    def uCols(tag: String, es: Seq[(Vec3, Vec3, Vec3)]): String =
      (for ((ed, g) <- es.zipWithIndex; e <- 1 to 4) yield {
        val nb = ed._3
        s"e${e}y*${fmt(nb.z)} - e${e}z*${fmt(nb.y)} AS u${tag}_${e}_${g}x, " +
          s"e${e}z*${fmt(nb.x)} - e${e}x*${fmt(nb.z)} AS u${tag}_${e}_${g}y, " +
          s"e${e}x*${fmt(nb.y)} - e${e}y*${fmt(nb.x)} AS u${tag}_${e}_${g}z"
      }).mkString(", ")
    def intersectExpr(tag: String, rings: Seq[Seq[(Double, Double)]]): String = {
      val aVertInB = (1 to 4).map(i =>
        s"(${ringsInsideSql(rings, s"c${i}x", s"c${i}y", s"c${i}z")})").mkString(" OR ")
      val bVertInA = rings.flatMap(_.map(toN)).map { w =>
        (1 to 4).map(e =>
          s"(e${e}x*${fmt(w.x)} + e${e}y*${fmt(w.y)} + e${e}z*${fmt(w.z)} > 0)")
          .mkString("(", " AND ", ")")
      }.mkString(" OR ")
      val crosses = (for ((ed, g) <- bEdges(rings).zipWithIndex; e <- 1 to 4) yield {
        val (b1, b2, nb) = ed
        val j = e % 4 + 1
        val u = s"u${tag}_${e}_$g"
        val t1 = s"(c${e}y*${u}z - c${e}z*${u}y)*e${e}x + " +
          s"(c${e}z*${u}x - c${e}x*${u}z)*e${e}y + (c${e}x*${u}y - c${e}y*${u}x)*e${e}z"
        val t2 = s"(${u}y*c${j}z - ${u}z*c${j}y)*e${e}x + " +
          s"(${u}z*c${j}x - ${u}x*c${j}z)*e${e}y + (${u}x*c${j}y - ${u}y*c${j}x)*e${e}z"
        val s1 = s"(${fmt(b1.y)}*${u}z - ${fmt(b1.z)}*${u}y)*${fmt(nb.x)} + " +
          s"(${fmt(b1.z)}*${u}x - ${fmt(b1.x)}*${u}z)*${fmt(nb.y)} + " +
          s"(${fmt(b1.x)}*${u}y - ${fmt(b1.y)}*${u}x)*${fmt(nb.z)}"
        val s2 = s"(${u}y*${fmt(b2.z)} - ${u}z*${fmt(b2.y)})*${fmt(nb.x)} + " +
          s"(${u}z*${fmt(b2.x)} - ${u}x*${fmt(b2.z)})*${fmt(nb.y)} + " +
          s"(${u}x*${fmt(b2.y)} - ${u}y*${fmt(b2.x)})*${fmt(nb.z)}"
        s"((($t1) >= 0 AND ($t2) >= 0 AND ($s1) >= 0 AND ($s2) >= 0) OR " +
          s"(($t1) <= 0 AND ($t2) <= 0 AND ($s1) <= 0 AND ($s2) <= 0))"
      }).mkString(" OR ")
      s"($aVertInB) OR ($bVertInA) OR ($crosses)"
    }
    val uAll = PolyTable.map { case (id, r) =>
      uCols(id.replace("_", ""), bEdges(r)) }.mkString(", ")
    val branches = PolyTable.map { case (id, r) =>
      s"SELECT k, '$id' AS poly_id FROM u WHERE ${intersectExpr(id.replace("_", ""), r)}"
    }.mkString(" UNION ALL ")
    s"WITH keyed AS (SELECT c_custkey AS k, ${latSql("c_custkey")} AS lat, " +
      s"${lonSql("c_custkey")} AS lon FROM customer WHERE c_custkey % 20 = 0), " +
      s"ang AS (SELECT k, lat*0.7 AS clat, lon, (2 + (k % 7)) * $d2r AS dla, " +
      s"(2 + (k % 11)) * $d2r AS dlo FROM keyed), " +
      // MATERIALIZED stops DuckDB's textual CTE inlining: the final
      // WHERE references each u column ~12 times and each u column
      // references 6 e-columns which reference 6 corner expressions —
      // inlined, that tree is exponential and OOMs the planner
      s"crn AS MATERIALIZED (SELECT k, $crnCols FROM ang), " +
      s"geom AS MATERIALIZED (SELECT *, $eCols FROM crn), " +
      s"u AS MATERIALIZED (SELECT *, $uAll FROM geom) " +
      s"SELECT k AS c_custkey, poly_id FROM ($branches) ORDER BY c_custkey, poly_id"
  }

  /** Dissolve mirror: the SYMMETRIC quad-quad intersect decomposition
    * (both sides data-derived — vertex-in each direction over the
    * convex half-planes, plus all 16 edge-pair great-circle crossing
    * brackets with the per-pair normal cross product u inlined over
    * the MATERIALIZED per-quad geometry columns), then min-label
    * reachability over the symmetrized edge list as a recursive CTE
    * (the q49 component pattern). Mirrors CellKernels.ringsIntersect
    * + Dedup.connectedComponents end-to-end.
    */
  private def q94MirrorSql: String = {
    val d2r = fmt(math.Pi / 180.0)
    val corners = Seq((1, "-", "-"), (2, "-", "+"), (3, "+", "+"), (4, "+", "-"))
    val crnCols = corners.map { case (i, sa, so) =>
      s"cos(clat $sa dla)*cos(lon $so dlo) AS c${i}x, " +
        s"cos(clat $sa dla)*sin(lon $so dlo) AS c${i}y, " +
        s"sin(clat $sa dla) AS c${i}z" }.mkString(", ")
    val eCols = Seq((1, 1, 2), (2, 2, 3), (3, 3, 4), (4, 4, 1)).map { case (e, i, j) =>
      s"c${i}y*c${j}z - c${i}z*c${j}y AS e${e}x, " +
        s"c${i}z*c${j}x - c${i}x*c${j}z AS e${e}y, " +
        s"c${i}x*c${j}y - c${i}y*c${j}x AS e${e}z" }.mkString(", ")
    // ofTag's corner i inside inTag's (convex, q15-oriented) quad
    def vertIn(ofTag: String, inTag: String): String =
      (1 to 4).map { i =>
        (1 to 4).map(e =>
          s"($inTag.e${e}x*$ofTag.c${i}x + $inTag.e${e}y*$ofTag.c${i}y + " +
            s"$inTag.e${e}z*$ofTag.c${i}z > 0)").mkString("(", " AND ", ")")
      }.mkString(" OR ")
    // cross product of prefixed column vectors, component w
    def crossC(p: String, q: String, w: String): String = w match {
      case "x" => s"(${p}y*${q}z - ${p}z*${q}y)"
      case "y" => s"(${p}z*${q}x - ${p}x*${q}z)"
      case _   => s"(${p}x*${q}y - ${p}y*${q}x)"
    }
    // (v1 x v2) . n with all three prefixed vectors
    def triple(v1: String, v2: String, n: String): String =
      Seq("x", "y", "z").map(w => s"${crossC(v1, v2, w)}*$n$w").mkString(" + ")
    val crosses = (for (e <- 1 to 4; f <- 1 to 4) yield {
      val j = e % 4 + 1; val g = f % 4 + 1
      // u = a.e{e} x b.e{f}, inlined per component over materialized
      // geometry columns (depth-1, so no exponential CTE expansion)
      def u(w: String) = crossC(s"a.e$e", s"b.e$f", w)
      def tripleU(v1: Either[String, Unit], v2: Either[String, Unit], n: String) = {
        def comp(v: Either[String, Unit], w: String) =
          v.fold(p => s"$p$w", _ => u(w))
        Seq(("y", "z"), ("z", "x"), ("x", "y")).zip(Seq("x", "y", "z"))
          .map { case ((w1, w2), w) =>
            s"(${comp(v1, w1)}*${comp(v2, w2)} - ${comp(v1, w2)}*${comp(v2, w1)})*$n$w"
          }.mkString(" + ")
      }
      val t1 = tripleU(Left(s"a.c$e"), Right(()), s"a.e$e")
      val t2 = tripleU(Right(()), Left(s"a.c$j"), s"a.e$e")
      val s1 = tripleU(Left(s"b.c$f"), Right(()), s"b.e$f")
      val s2 = tripleU(Right(()), Left(s"b.c$g"), s"b.e$f")
      s"((($t1) >= 0 AND ($t2) >= 0 AND ($s1) >= 0 AND ($s2) >= 0) OR " +
        s"(($t1) <= 0 AND ($t2) <= 0 AND ($s1) <= 0 AND ($s2) <= 0))"
    }).mkString(" OR ")
    val pred = s"(${vertIn("a", "b")}) OR (${vertIn("b", "a")}) OR ($crosses)"
    s"WITH RECURSIVE keyed AS (SELECT c_custkey AS k, ${latSql("c_custkey")} AS lat, " +
      s"${lonSql("c_custkey")} AS lon FROM customer WHERE c_custkey % 20 = 0), " +
      s"ang AS (SELECT k, lat*0.7 AS clat, lon, (2 + (k % 7)) * $d2r AS dla, " +
      s"(2 + (k % 11)) * $d2r AS dlo FROM keyed), " +
      s"crn AS MATERIALIZED (SELECT k, $crnCols FROM ang), " +
      s"geom AS MATERIALIZED (SELECT *, $eCols FROM crn), " +
      s"edges0 AS MATERIALIZED (SELECT a.k AS ka, b.k AS kb FROM geom a " +
      s"JOIN geom b ON a.k < b.k AND ($pred)), " +
      s"edges AS (SELECT ka, kb FROM edges0 UNION ALL SELECT kb, ka FROM edges0), " +
      s"reach AS (SELECT k AS node, k AS lab FROM geom " +
      s"UNION SELECT e.ka, r.lab FROM edges e JOIN reach r ON r.node = e.kb) " +
      s"SELECT node AS c_custkey, min(lab) AS component FROM reach " +
      s"GROUP BY node ORDER BY c_custkey"
  }

  /** Route-route crossing mirror for q97: routeTableDense's 3-vertex
    * zig-zags recomputed symbolically (v1..v3, segment normals e1 =
    * v1 x v2, e2 = v2 x v3 as MATERIALIZED columns), self-joined on
    * a.k < b.k with the kernel's 2x2 segment-pair crossing brackets —
    * u = na x nb inlined per component, both bracket orientations as
    * the >= 0 / <= 0 mirror of the same four triple products. No
    * cover arithmetic at all, so the candidate machinery is fully
    * machine-checked; the degenerate-edge and coincident-circle
    * branches are unreachable for these hashed >= 4-degree segments
    * (the q95/q96 argument).
    */
  private def q97MirrorSql: String = {
    val d2r = fmt(math.Pi / 180.0)
    // vertex (sa, so) of the zig-zag: (clat + sa*dla, lon + so*dlo);
    // `lon + 0*dlo` is written out so a -0.0 longitude rounds through
    // the identical float ops as the engine's lit(0) * dlo
    val verts = Seq((1, "clat - dla", "(lon - dlo)"),
      (2, "clat + dla", "(lon + 0*dlo)"), (3, "clat - dla", "(lon + dlo)"))
    val crnCols = verts.map { case (i, la, lo) =>
      s"cos($la)*cos($lo) AS c${i}x, cos($la)*sin($lo) AS c${i}y, " +
        s"sin($la) AS c${i}z" }.mkString(", ")
    val eCols = Seq((1, 1, 2), (2, 2, 3)).map { case (e, i, j) =>
      s"c${i}y*c${j}z - c${i}z*c${j}y AS e${e}x, " +
        s"c${i}z*c${j}x - c${i}x*c${j}z AS e${e}y, " +
        s"c${i}x*c${j}y - c${i}y*c${j}x AS e${e}z" }.mkString(", ")
    def crossC(p: String, q: String, w: String): String = w match {
      case "x" => s"(${p}y*${q}z - ${p}z*${q}y)"
      case "y" => s"(${p}z*${q}x - ${p}x*${q}z)"
      case _   => s"(${p}x*${q}y - ${p}y*${q}x)"
    }
    val crosses = (for (e <- 1 to 2; f <- 1 to 2) yield {
      val j = e + 1; val g = f + 1
      def u(w: String) = crossC(s"a.e$e", s"b.e$f", w)
      def tripleU(v1: Either[String, Unit], v2: Either[String, Unit], n: String) = {
        def comp(v: Either[String, Unit], w: String) =
          v.fold(p => s"$p$w", _ => u(w))
        Seq(("y", "z"), ("z", "x"), ("x", "y")).zip(Seq("x", "y", "z"))
          .map { case ((w1, w2), w) =>
            s"(${comp(v1, w1)}*${comp(v2, w2)} - ${comp(v1, w2)}*${comp(v2, w1)})*$n$w"
          }.mkString(" + ")
      }
      val t1 = tripleU(Left(s"a.c$e"), Right(()), s"a.e$e")
      val t2 = tripleU(Right(()), Left(s"a.c$j"), s"a.e$e")
      val s1 = tripleU(Left(s"b.c$f"), Right(()), s"b.e$f")
      val s2 = tripleU(Right(()), Left(s"b.c$g"), s"b.e$f")
      s"((($t1) >= 0 AND ($t2) >= 0 AND ($s1) >= 0 AND ($s2) >= 0) OR " +
        s"(($t1) <= 0 AND ($t2) <= 0 AND ($s1) <= 0 AND ($s2) <= 0))"
    }).mkString(" OR ")
    s"WITH keyed AS (SELECT c_custkey AS k, ${latSql("c_custkey")} AS lat, " +
      s"${lonSql("c_custkey")} AS lon FROM customer WHERE c_custkey % 5 = 0), " +
      s"ang AS (SELECT k, lat*0.7 AS clat, lon, (5 + (k % 9)) * $d2r AS dla, " +
      s"(6 + (k % 13)) * $d2r AS dlo FROM keyed), " +
      s"crn AS MATERIALIZED (SELECT k, $crnCols FROM ang), " +
      s"geom AS MATERIALIZED (SELECT *, $eCols FROM crn) " +
      s"SELECT a.k AS r_id, b.k AS b_id FROM geom a " +
      s"JOIN geom b ON a.k < b.k AND ($crosses) ORDER BY r_id, b_id"
  }

  /** Nearest-polygon mirror: every (customer, quad) pair gets the
    * kernel's signed boundary distance replayed fully symbolically —
    * per edge: the NORMALIZED great-circle normal, the perpendicular
    * foot, the two winding brackets, atan2 perpendicular distance or
    * the endpoint fallback (CellKernels.segDistRad verbatim; the
    * degenerate-edge branch is unreachable for >= 4-degree quad
    * edges) — inside by the convex half-plane form, then the exact
    * argmin per point by (region distance, quad id), the same tie
    * rule as the operator's struct-min. A cross join, no cover
    * pruning: a ladder round that missed the true nearest would
    * surface as a wrong row.
    */
  private def q95MirrorSql: String = {
    val d2r = fmt(math.Pi / 180.0)
    val corners = Seq((1, "-", "-"), (2, "-", "+"), (3, "+", "+"), (4, "+", "-"))
    val crnCols = corners.map { case (i, sa, so) =>
      s"cos(clat $sa dla)*cos(lon $so dlo) AS c${i}x, " +
        s"cos(clat $sa dla)*sin(lon $so dlo) AS c${i}y, " +
        s"sin(clat $sa dla) AS c${i}z" }.mkString(", ")
    val eCols = Seq((1, 1, 2), (2, 2, 3), (3, 3, 4), (4, 4, 1)).map { case (e, i, j) =>
      s"c${i}y*c${j}z - c${i}z*c${j}y AS e${e}x, " +
        s"c${i}z*c${j}x - c${i}x*c${j}z AS e${e}y, " +
        s"c${i}x*c${j}y - c${i}y*c${j}x AS e${e}z" }.mkString(", ")
    val cnCols = (1 to 4).map { e =>
      val en = s"sqrt(e${e}x*e${e}x + e${e}y*e${e}y + e${e}z*e${e}z)"
      s"e${e}x/($en) AS cn${e}x, e${e}y/($en) AS cn${e}y, e${e}z/($en) AS cn${e}z"
    }.mkString(", ")
    def ep(vx: String, vy: String, vz: String) =
      s"atan2(sqrt((ny*$vz - nz*$vy)*(ny*$vz - nz*$vy) + " +
        s"(nz*$vx - nx*$vz)*(nz*$vx - nx*$vz) + " +
        s"(nx*$vy - ny*$vx)*(nx*$vy - ny*$vx)), nx*$vx + ny*$vy + nz*$vz)"
    val dEdges = (1 to 4).map { e =>
      val j = e % 4 + 1
      val cd = s"(cn${e}x*nx + cn${e}y*ny + cn${e}z*nz)"
      val fx = s"(nx - $cd*cn${e}x)"
      val fy = s"(ny - $cd*cn${e}y)"
      val fz = s"(nz - $cd*cn${e}z)"
      val winA = s"(c${e}y*$fz - c${e}z*$fy)*cn${e}x + " +
        s"(c${e}z*$fx - c${e}x*$fz)*cn${e}y + (c${e}x*$fy - c${e}y*$fx)*cn${e}z >= 0"
      val winB = s"($fy*c${j}z - $fz*c${j}y)*cn${e}x + " +
        s"($fz*c${j}x - $fx*c${j}z)*cn${e}y + ($fx*c${j}y - $fy*c${j}x)*cn${e}z >= 0"
      s"CASE WHEN ($winA) AND ($winB) " +
        s"THEN atan2(abs($cd), sqrt($fx*$fx + $fy*$fy + $fz*$fz)) " +
        s"ELSE least(${ep(s"c${e}x", s"c${e}y", s"c${e}z")}, " +
        s"${ep(s"c${j}x", s"c${j}y", s"c${j}z")}) END"
    }
    val inside = (1 to 4).map(e =>
      s"(e${e}x*nx + e${e}y*ny + e${e}z*nz > 0)").mkString(" AND ")
    s"WITH keyed AS (SELECT c_custkey AS k, ${latSql("c_custkey")} AS lat, " +
      s"${lonSql("c_custkey")} AS lon FROM customer), " +
      s"pts AS (SELECT k, cos(lat)*cos(lon) AS nx, cos(lat)*sin(lon) AS ny, " +
      s"sin(lat) AS nz FROM keyed), " +
      s"qkeyed AS (SELECT c_custkey AS qid, ${latSql("c_custkey")} AS lat, " +
      s"${lonSql("c_custkey")} AS lon FROM customer WHERE c_custkey % 20 = 0), " +
      s"qang AS (SELECT qid, lat*0.7 AS clat, lon, (2 + (qid % 7)) * $d2r AS dla, " +
      s"(2 + (qid % 11)) * $d2r AS dlo FROM qkeyed), " +
      s"qcrn AS MATERIALIZED (SELECT qid, $crnCols FROM qang), " +
      s"qgeom AS MATERIALIZED (SELECT *, $eCols FROM qcrn), " +
      s"qn AS MATERIALIZED (SELECT *, $cnCols FROM qgeom), " +
      s"pair AS (SELECT p.k, q.qid, CASE WHEN $inside " +
      s"THEN -least(${dEdges.mkString(", ")}) " +
      s"ELSE least(${dEdges.mkString(", ")}) END AS sd FROM pts p CROSS JOIN qn q), " +
      s"ranked AS (SELECT k, qid, greatest(sd, 0) AS rd, " +
      s"row_number() OVER (PARTITION BY k ORDER BY greatest(sd, 0), qid) AS rn FROM pair) " +
      s"SELECT k AS c_custkey, qid AS q_id, round(rd * ${fmt(R)} / 1000.0, 6) AS dist_km " +
      s"FROM ranked WHERE rn = 1 ORDER BY c_custkey"
  }

  /** Nearest-route mirror: every (customer, route) pair gets
    * CellKernels.segDistRad replayed fully symbolically over the
    * route TABLE's data-derived zig-zag vertices ([[routeTable]]'s
    * exact construction: v1=(clat-dla, lon-dlo), v2=(clat+dla, lon),
    * v3=(clat-dla, lon+dlo)) — per segment the NORMALIZED
    * great-circle normal, perpendicular foot, winding brackets,
    * atan2 distance or endpoint fallback (the >= 4-degree segments
    * keep the degenerate branch unreachable) — min over the two
    * segments, then the exact argmin per point with ties to the
    * smaller route id (the operator's struct-min rule). A cross
    * join, no corridor pruning: a ladder round whose buffered cover
    * missed the true nearest route would surface as a wrong row.
    */
  private def q96MirrorSql: String = {
    val d2r = fmt(math.Pi / 180.0)
    val verts = Seq((1, -1, -1), (2, 1, 0), (3, -1, 1))
    val vCols = verts.map { case (i, sa, so) =>
      val la = s"(clat + ($sa)*dla)"
      val lo = if (so == 0) "lon" else s"(lon + ($so)*dlo)"
      s"cos($la)*cos($lo) AS v${i}x, cos($la)*sin($lo) AS v${i}y, " +
        s"sin($la) AS v${i}z"
    }.mkString(", ")
    val segs = Seq((1, 1, 2), (2, 2, 3))
    val eCols = segs.map { case (e, i, j) =>
      s"v${i}y*v${j}z - v${i}z*v${j}y AS e${e}x, " +
        s"v${i}z*v${j}x - v${i}x*v${j}z AS e${e}y, " +
        s"v${i}x*v${j}y - v${i}y*v${j}x AS e${e}z" }.mkString(", ")
    val cnCols = segs.map { case (e, _, _) =>
      val en = s"sqrt(e${e}x*e${e}x + e${e}y*e${e}y + e${e}z*e${e}z)"
      s"e${e}x/($en) AS cn${e}x, e${e}y/($en) AS cn${e}y, e${e}z/($en) AS cn${e}z"
    }.mkString(", ")
    def ep(vx: String, vy: String, vz: String) =
      s"atan2(sqrt((ny*$vz - nz*$vy)*(ny*$vz - nz*$vy) + " +
        s"(nz*$vx - nx*$vz)*(nz*$vx - nx*$vz) + " +
        s"(nx*$vy - ny*$vx)*(nx*$vy - ny*$vx)), nx*$vx + ny*$vy + nz*$vz)"
    val dSegs = segs.map { case (e, i, j) =>
      val cd = s"(cn${e}x*nx + cn${e}y*ny + cn${e}z*nz)"
      val fx = s"(nx - $cd*cn${e}x)"
      val fy = s"(ny - $cd*cn${e}y)"
      val fz = s"(nz - $cd*cn${e}z)"
      val winA = s"(v${i}y*$fz - v${i}z*$fy)*cn${e}x + " +
        s"(v${i}z*$fx - v${i}x*$fz)*cn${e}y + (v${i}x*$fy - v${i}y*$fx)*cn${e}z >= 0"
      val winB = s"($fy*v${j}z - $fz*v${j}y)*cn${e}x + " +
        s"($fz*v${j}x - $fx*v${j}z)*cn${e}y + ($fx*v${j}y - $fy*v${j}x)*cn${e}z >= 0"
      s"CASE WHEN ($winA) AND ($winB) " +
        s"THEN atan2(abs($cd), sqrt($fx*$fx + $fy*$fy + $fz*$fz)) " +
        s"ELSE least(${ep(s"v${i}x", s"v${i}y", s"v${i}z")}, " +
        s"${ep(s"v${j}x", s"v${j}y", s"v${j}z")}) END"
    }
    s"WITH keyed AS (SELECT c_custkey AS k, ${latSql("c_custkey")} AS lat, " +
      s"${lonSql("c_custkey")} AS lon FROM customer), " +
      s"pts AS (SELECT k, cos(lat)*cos(lon) AS nx, cos(lat)*sin(lon) AS ny, " +
      s"sin(lat) AS nz FROM keyed), " +
      s"rkeyed AS (SELECT c_custkey AS rid, ${latSql("c_custkey")} AS lat, " +
      s"${lonSql("c_custkey")} AS lon FROM customer WHERE c_custkey % 20 = 0), " +
      s"rang AS (SELECT rid, lat*0.7 AS clat, lon, (2 + (rid % 7)) * $d2r AS dla, " +
      s"(2 + (rid % 11)) * $d2r AS dlo FROM rkeyed), " +
      s"rv AS MATERIALIZED (SELECT rid, $vCols FROM rang), " +
      s"re AS MATERIALIZED (SELECT *, $eCols FROM rv), " +
      s"rcn AS MATERIALIZED (SELECT *, $cnCols FROM re), " +
      s"pair AS (SELECT p.k, r.rid, least(${dSegs.mkString(", ")}) AS d " +
      s"FROM pts p CROSS JOIN rcn r), " +
      s"ranked AS (SELECT k, rid, d, " +
      s"row_number() OVER (PARTITION BY k ORDER BY d, rid) AS rn FROM pair) " +
      s"SELECT k AS c_custkey, rid AS r_id, round(d * ${fmt(R)} / 1000.0, 6) AS dist_km " +
      s"FROM ranked WHERE rn = 1 ORDER BY c_custkey"
  }

  private val BoxA = Seq((-20.0, -40.0), (-20.0, 10.0), (25.0, 10.0), (25.0, -40.0))
  private val BoxB = Seq((30.0, 60.0), (30.0, 120.0), (60.0, 120.0), (60.0, 60.0))

  // multipolygon gate rings (all convex, q15's orientation): BoxA as
  // the outer, a hole inside it, an island inside the hole, and the
  // disjoint BoxB as a second part — one AoiM, parity across 4 rings
  private val HoleA = Seq((-10.0, -25.0), (-10.0, -5.0), (10.0, -5.0), (10.0, -25.0))
  private val IslandA = Seq((-4.0, -18.0), (-4.0, -12.0), (4.0, -12.0), (4.0, -18.0))
  private val MultiRings = Seq(BoxA, HoleA, IslandA, BoxB)

  private val RouteA = Seq((0.0, 0.0), (10.0, 10.0), (10.0, 25.0), (20.0, 40.0))
  private val RouteB = Seq((-30.0, -60.0), (-10.0, -55.0), (5.0, -40.0))

  // polygon-TABLE gate shapes: the multipolygon plus a deliberately
  // SMALL box so the per-polygon cover levels differ (the mixed-level
  // machinery is what q90/q91 exercise end-to-end)
  private val SmallBox = Seq((36.0, 90.0), (36.0, 102.0), (48.0, 102.0), (48.0, 90.0))
  private val PolyTable = Seq("m1" -> MultiRings, "p_small" -> Seq(SmallBox))

  /** SQL mirror of CellKernels.snapToPolyline for a LITERAL route:
    * per-segment rows (k, route_id, seg, d, fx, fy, fz) over the
    * `pts` CTE — distance is segDistRad's formula verbatim, the foot
    * is the normalized in-arc perpendicular or the nearer endpoint
    * (same strict-< endpoint pick as the kernel). q75 takes the
    * global argmin by (d, route_id, seg) — the engine's `least`
    * struct order.
    */
  private def snapRouteSql(id: String, vs: Seq[(Double, Double)]): String = {
    import graft.geo.{Vec3, VecMath}
    val vn = vs.map { case (la, lo) =>
      graft.geo.Gade.latLonToNvec(math.toRadians(la), math.toRadians(lo)) }
    def segSql(i: Int): String = {
      val a = vn(i); val b = vn(i + 1)
      val c = VecMath.unit(a cross b)
      val cd = s"${fmt(c.x)}*nx + ${fmt(c.y)}*ny + ${fmt(c.z)}*nz"
      val sub = s"SELECT k, nx, ny, nz, ($cd) AS cd, " +
        s"nx - ($cd)*${fmt(c.x)} AS gx, ny - ($cd)*${fmt(c.y)} AS gy, " +
        s"nz - ($cd)*${fmt(c.z)} AS gz FROM pts"
      val winA = s"(${fmt(a.y)}*gz - ${fmt(a.z)}*gy)*${fmt(c.x)} + " +
        s"(${fmt(a.z)}*gx - ${fmt(a.x)}*gz)*${fmt(c.y)} + " +
        s"(${fmt(a.x)}*gy - ${fmt(a.y)}*gx)*${fmt(c.z)} >= 0"
      val winB = s"(gy*${fmt(b.z)} - gz*${fmt(b.y)})*${fmt(c.x)} + " +
        s"(gz*${fmt(b.x)} - gx*${fmt(b.z)})*${fmt(c.y)} + " +
        s"(gx*${fmt(b.y)} - gy*${fmt(b.x)})*${fmt(c.z)} >= 0"
      def ep(v: graft.geo.Vec3) =
        s"atan2(sqrt((ny*${fmt(v.z)} - nz*${fmt(v.y)})*(ny*${fmt(v.z)} - nz*${fmt(v.y)}) + " +
          s"(nz*${fmt(v.x)} - nx*${fmt(v.z)})*(nz*${fmt(v.x)} - nx*${fmt(v.z)}) + " +
          s"(nx*${fmt(v.y)} - ny*${fmt(v.x)})*(nx*${fmt(v.y)} - ny*${fmt(v.x)})), " +
          s"nx*${fmt(v.x)} + ny*${fmt(v.y)} + nz*${fmt(v.z)})"
      val gn = "sqrt(gx*gx + gy*gy + gz*gz)"
      val win = s"($winA) AND ($winB)"
      def foot(ax: String, gxc: String, aLit: Double, bLit: Double) =
        s"CASE WHEN $win THEN $gxc / $gn " +
          s"WHEN ${ep(b)} < ${ep(a)} THEN ${fmt(bLit)} ELSE ${fmt(aLit)} END AS $ax"
      s"SELECT k, '$id' AS route_id, $i AS seg, " +
        s"CASE WHEN $win THEN atan2(abs(cd), $gn) ELSE least(${ep(a)}, ${ep(b)}) END AS d, " +
        foot("fx", "gx", a.x, b.x) + ", " +
        foot("fy", "gy", a.y, b.y) + ", " +
        foot("fz", "gz", a.z, b.z) +
        s" FROM ($sub)"
    }
    (0 until vn.length - 1).map(i => s"(${segSql(i)})").mkString(" UNION ALL ")
  }

  /** Engine-side twin of `Karney.inverseSqlMirror`'s general-position
    * filter: selects pairs where the inverse solver provably takes the
    * Newton + hybrid path (not meridional / equatorial / short /
    * nearly antipodal, each with a >= 1e6-ULP margin over the solver's
    * own branch thresholds, so Spark's java.lang.Math and DuckDB's
    * libm classify every realistic row identically). Must stay
    * formula-for-formula identical to the SQL mirror's inv_base WHERE.
    */
  private def inverseGeneralFilter(df: DataFrame,
                                   lat1: Column, lon1: Column,
                                   lat2: Column, lon2: Column): DataFrame = {
    // ONE static call (GeoKernels.inverseGeneralPosition): the
    // equivalent Column chain — staged or not — blows up
    // exponentially once Catalyst's project collapsing re-inlines the
    // when() stages (8-16 s at sf0.1 vs ~0.3 s for the kernel)
    import org.apache.spark.sql.types.{BooleanType, DoubleType}
    df.filter(org.apache.spark.sql.GraftSqlBridge.staticInvoke(
      Class.forName("graft.functions.GeoKernels"),
      BooleanType, "inverseGeneralPosition",
      Seq(lat1, lon1, lat2, lon2, lit(graft.geo.Ellipsoids.WGS84.f)),
      Seq(DoubleType, DoubleType, DoubleType, DoubleType, DoubleType)))
  }

  // SQL twins of the hyperplane-LSH signature and vector dot products
  // (shared by the q32/q39 oracle mirrors): plane constants inline at
  // the exact doubles the kernel uses; dot products as left-fold `+`
  // chains, so the IEEE adds match the kernel's fold bit for bit.
  private def dotWSql(vec: String, w: Array[Double]): String =
    (0 until 64).map(i => s"CAST($vec[${i + 1}] AS DOUBLE)*${fmt(w(i))}")
      .mkString(" + ")
  private def dotVVSql(a: String, b: String): String =
    (0 until 64).map(i =>
      s"CAST($a[${i + 1}] AS DOUBLE)*CAST($b[${i + 1}] AS DOUBLE)")
      .mkString(" + ")
  private def lshSigSql(vec: String): String = {
    val planes = (0 until 16).map(b =>
      graft.operators.Similarity.hyperplane(b, 64))
    (0 until 16).map(b =>
      s"(CASE WHEN (${dotWSql(vec, planes(b))}) >= 0 THEN ${1 << b} ELSE 0 END)")
      .mkString("CAST(", " + ", " AS BIGINT)")
  }

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Like [[t]], but spread across all cores first — for queries that
    * follow the scan with per-row-expensive projections (signature
    * hashes). Small tables arrive as a single parquet row group, and
    * computing 2048 md5 shingles per row in that one task serializes
    * the whole query on one core.
    */
  private[graft] def tSpread(s: SparkSession, dir: String, name: String): DataFrame = {
    val df = t(s, dir, name)
    val want = s.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < want) df.repartition(want) else df
  }

  /** customers with derived position and n-vector. */
  /** Data-derived great-circle quads (one per 20th customer — center
    * and half-widths from the key), the polygon-table side of
    * q92/q94: (c_custkey, a_rings) in the ring-list encoding.
    */
  private def quadTable(s: SparkSession, dir: String): DataFrame = {
    val d2r = math.Pi / 180.0
    val a0 = custPts(s, dir).filter(col("c_custkey") % 20 === 0)
      .withColumn("__clat", col("lat") * 0.7)
      .withColumn("__dla", (lit(2.0) + (col("c_custkey") % 7).cast("double")) * d2r)
      .withColumn("__dlo", (lit(2.0) + (col("c_custkey") % 11).cast("double")) * d2r)
    def crn(sa: Int, so: Int) = geo.nvec(
      col("__clat") + lit(sa) * col("__dla"),
      col("lon") + lit(so) * col("__dlo"))
    val ringCols = Seq(lit(1.0), lit(4.0)) ++
      Seq(crn(-1, -1), crn(-1, 1), crn(1, 1), crn(1, -1))
        .flatMap(c => Seq(geo.vx(c), geo.vy(c), geo.vz(c)))
    a0.select(col("c_custkey"), array(ringCols: _*).as("a_rings"))
  }

  /** Data-derived route TABLE for q96: one 3-vertex zig-zag polyline
    * per 20th customer — same key-derived geometry family as
    * [[quadTable]] (center at 0.7·lat to stay off the poles,
    * half-widths 2–8°/2–12° from the key mod 7/11), so the DuckDB
    * mirror can recompute every vertex symbolically. Segments span
    * >= 4° of latitude, keeping the segment-distance kernel's
    * degenerate-edge branch unreachable (the q95 argument).
    */
  private def routeTable(s: SparkSession, dir: String): DataFrame = {
    val d2r = math.Pi / 180.0
    val a0 = custPts(s, dir).filter(col("c_custkey") % 20 === 0)
      .withColumn("__clat", col("lat") * 0.7)
      .withColumn("__dla", (lit(2.0) + (col("c_custkey") % 7).cast("double")) * d2r)
      .withColumn("__dlo", (lit(2.0) + (col("c_custkey") % 11).cast("double")) * d2r)
    def v(sa: Int, so: Int) = geo.nvec(
      col("__clat") + lit(sa) * col("__dla"),
      col("lon") + lit(so) * col("__dlo"))
    val verts = Seq(v(-1, -1), v(1, 0), v(-1, 1))
      .flatMap(c => Seq(geo.vx(c), geo.vy(c), geo.vz(c)))
    a0.select(col("c_custkey").as("r_id"), array(verts: _*).as("verts"))
  }

  /** Denser, wider route family for the q97 crossing gate: every 5th
    * customer, half-widths 5-13°/6-18° — mod-20 routes cross nowhere
    * at sf0.001 (7 routes on the whole sphere), and an empty gate is
    * no evidence; this family crosses at every SF (2 pairs at
    * sf0.001, ~100k at sf0.1) while keeping the oracle's all-pairs
    * sweep ~10 s at sf0.1.
    */
  private[graft] def routeTableDense(s: SparkSession, dir: String): DataFrame = {
    val d2r = math.Pi / 180.0
    val a0 = custPts(s, dir).filter(col("c_custkey") % 5 === 0)
      .withColumn("__clat", col("lat") * 0.7)
      .withColumn("__dla", (lit(5.0) + (col("c_custkey") % 9).cast("double")) * d2r)
      .withColumn("__dlo", (lit(6.0) + (col("c_custkey") % 13).cast("double")) * d2r)
    def v(sa: Int, so: Int) = geo.nvec(
      col("__clat") + lit(sa) * col("__dla"),
      col("lon") + lit(so) * col("__dlo"))
    val verts = Seq(v(-1, -1), v(1, 0), v(-1, 1))
      .flatMap(c => Seq(geo.vx(c), geo.vy(c), geo.vz(c)))
    a0.select(col("c_custkey").as("r_id"), array(verts: _*).as("verts"))
  }

  private def custPts(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .withColumn("lat", latRad(col("c_custkey")))
      .withColumn("lon", lonRad(col("c_custkey")))
      .withColumn("n", geo.nvec(col("lat"), col("lon")))

  private def suppPts(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "supplier")
      .withColumn("s_lat", latRad(col("s_suppkey") * 7 + 3))
      .withColumn("s_lon", lonRad(col("s_suppkey") * 7 + 3))
      .withColumn("s_n", geo.nvec(col("s_lat"), col("s_lon")))

  private val suppKeySql = "(s_suppkey * 7 + 3)"

  // ---- flagship ----------------------------------------------------

  /** Flagship on sf0.001: cell-encode customer positions, assign to
    * AOI polygons (broadcast PIP), aggregate per AOI (count + mean
    * position) and attach the 3 nearest suppliers of each AOI mean
    * position via the kNN join with ellipsoidal re-rank.
    */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val pts = custPts(spark, dir)
      .withColumn("cell10", cells.cellAt(col("n"), 10))
    val aois = Seq(
      Aoi("equator_box", Seq((-25.0, -30.0), (-25.0, 30.0), (25.0, 30.0), (25.0, -30.0))),
      Aoi("antimeridian", Seq((-30.0, 150.0), (-30.0, -150.0), (30.0, -150.0), (30.0, 150.0))),
      Aoi("north_cap", (0 until 8).map(i => (55.0, -180.0 + 45.0 * i))),
      Aoi("south_band", Seq((-65.0, -120.0), (-65.0, 0.0), (-35.0, 0.0), (-35.0, -120.0))))
    val assigned = SpatialJoins.aoiJoin(pts, "n", aois)
    val perAoi = assigned.groupBy("aoi_id")
      .agg(count(lit(1)).as("n_points"),
        geo.meanPosition(col("n")).as("mean_n"))
      .withColumn("mean_lat", round(geo.latDeg(col("mean_n")), 6))
      .withColumn("mean_lon", round(geo.lonDeg(col("mean_n")), 6))
      .select("aoi_id", "n_points", "mean_n", "mean_lat", "mean_lon")
    val nearest = SpatialJoins.knnJoin(
      perAoi, suppPts(spark, dir).select("s_suppkey", "s_n"),
      "mean_n", "s_n", "aoi_id", "s_suppkey", k = 3, geodesicReRank = true)
      .withColumn("geodesic_m", round(col("geodesic_m"), 3))
    nearest.drop("mean_n", "s_n").orderBy(col("aoi_id"), col("rank"))
  }

  // ---- the gate ----------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // engine-level relational coverage -------------------------------
    "q01_agg_pricing" -> ((s, dir) => {
      // avg of a 2-dp column in exact integer cents (see q24: double
      // sum order + decimal rounding boundaries are engine- and
      // scale-dependent for rational averages); money SUMs rounded at
      // 2 dp are safe — their true values are 0.01-multiples, 0.0025
      // away from any rounding boundary
      t(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_price"),
          sum(round(col("l_discount") * 100).cast("long")).as("__disc_cents"),
          count(lit(1)).as("cnt"))
        // `div` = integral division (Column./ is always floating)
        .withColumn("avg_disc_e6", expr("__disc_cents * 10000 div cnt"))
        .drop("__disc_cents")
        .select("l_returnflag", "l_linestatus", "sum_qty", "sum_price",
          "avg_disc_e6", "cnt")
        .orderBy("l_returnflag", "l_linestatus")
    }),
    "q02_join_revenue" -> ((s, dir) => {
      t(s, dir, "customer").join(t(s, dir, "orders"),
          col("c_custkey") === col("o_custkey"))
        .join(t(s, dir, "nation"), col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(round(sum("o_totalprice"), 2).as("revenue"),
          count(lit(1)).as("n_orders"))
        .orderBy("n_name")
    }),
    "q03_top_orders" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 2)
        .select("o_custkey", "rn", "o_orderkey", "o_totalprice")
        .orderBy("o_custkey", "rn")
    }),
    "q04_empty_orders" -> ((s, dir) => {
      t(s, dir, "orders")
        .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"), "left_anti")
        .select("o_orderkey").orderBy("o_orderkey")
    }),
    "q05_brand_setop" -> ((s, dir) => {
      val p = t(s, dir, "part")
      p.filter(col("p_size") > 30).select("p_brand").distinct()
        .except(p.filter(col("p_size") > 49).select("p_brand").distinct())
        .orderBy("p_brand")
    }),
    "q06_events_delta" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("event_id")
      t(s, dir, "events")
        .withColumn("delta", round(coalesce(col("value") - lag("value", 1).over(w),
          lit(0.0)), 6))
        .select("event_id", "user_id", "delta")
        .orderBy("event_id")
    }),
    // geodesy kernels ------------------------------------------------
    "q07_gc_distance" -> ((s, dir) => {
      custPts(s, dir)
        .select(col("c_custkey"),
          round(geo.gcDistance(col("n"),
            geo.nvec(lit(OsloLat), lit(OsloLon)), R) / 1000.0, 6).as("dist_km"))
        .orderBy("c_custkey")
    }),
    "q08_chord_distance" -> ((s, dir) => {
      custPts(s, dir)
        .select(col("c_custkey"),
          round(geo.euclideanDistance(col("n"),
            geo.nvec(lit(OsloLat), lit(OsloLon)), R) / 1000.0, 6).as("dist_km"))
        .orderBy("c_custkey")
    }),
    "q09_azimuth" -> ((s, dir) => {
      custPts(s, dir)
        .select(col("c_custkey"),
          round(geo.azimuth(col("n"), geo.nvec(lit(OsloLat), lit(OsloLon)),
            a = R, f = 0.0), 6).as("az_rad"))
        .orderBy("c_custkey")
    }),
    "q10_cross_track" -> ((s, dir) => {
      val a1 = geo.nvecDeg(lit(20.0), lit(-30.0))
      val a2 = geo.nvecDeg(lit(40.0), lit(10.0))
      custPts(s, dir)
        .select(col("c_custkey"),
          round(geo.crossTrackDistance(a1, a2, col("n"), R) / 1000.0, 6).as("xtd_km"))
        .orderBy("c_custkey")
    }),
    "q11_midpoint" -> ((s, dir) => {
      // staged column (see q12): lat/lon both extract from `mid`, so
      // leaving it inline would re-inline the lerp subtree twice
      custPts(s, dir)
        .withColumn("mid",
          geo.interpolate(col("n"), geo.nvec(lit(OsloLat), lit(OsloLon)), lit(0.5)))
        .select(col("c_custkey"),
          round(geo.latDeg(col("mid")), 6).as("mlat"),
          round(geo.lonDeg(col("mid")), 6).as("mlon"))
        .orderBy("c_custkey")
    }),
    "q12_sphere_reckon" -> ((s, dir) => {
      // stage each frame vector as a column: keeps the Catalyst tree
      // linear instead of re-inlining the struct subtrees per field
      custPts(s, dir)
        .withColumn("dr", ((col("c_custkey") % 97).cast("double") / 97.0) * 0.5 + 0.01)
        .withColumn("east", geo.eastAt(col("n")))
        .withColumn("north", geo.vcross(col("n"), col("east")))
        .withColumn("d", geo.vadd(geo.vscale(col("north"), cos(col("lon"))),
          geo.vscale(col("east"), sin(col("lon")))))
        .withColumn("dest", geo.vadd(geo.vscale(col("n"), cos(col("dr"))),
          geo.vscale(col("d"), sin(col("dr")))))
        .select(col("c_custkey"),
          round(geo.latDeg(col("dest")), 6).as("dlat"),
          round(geo.lonDeg(col("dest")), 6).as("dlon"))
        .orderBy("c_custkey")
    }),
    "q13_mean_position" -> ((s, dir) => {
      custPts(s, dir).groupBy("c_nationkey")
        .agg(geo.meanPosition(col("n")).as("m"), count(lit(1)).as("n_pts"))
        .select(col("c_nationkey"),
          round(geo.latDeg(col("m")), 6).as("mlat"),
          round(geo.lonDeg(col("m")), 6).as("mlon"), col("n_pts"))
        .orderBy("c_nationkey")
    }),
    // cell index + spatial joins -------------------------------------
    "q14_cell_ids" -> ((s, dir) => {
      custPts(s, dir)
        .select(col("c_custkey"), cells.cellAt(col("n"), 6).as("cell"))
        .orderBy("c_custkey")
    }),
    "q15_pip" -> ((s, dir) => {
      val aois = Seq(
        Aoi("box_a", Seq((-20.0, -40.0), (-20.0, 10.0), (25.0, 10.0), (25.0, -40.0))),
        Aoi("box_b", Seq((30.0, 60.0), (30.0, 120.0), (60.0, 120.0), (60.0, 60.0))))
      SpatialJoins.aoiJoin(custPts(s, dir), "n", aois)
        .select("c_custkey", "aoi_id")
        .orderBy("c_custkey", "aoi_id")
    }),
    "q16_distance_join" -> ((s, dir) => {
      // 1000 km: inside provable block coverage, so this exercises the
      // cell-ring candidate path (not the wide-radius cross join)
      SpatialJoins.distanceJoin(
        custPts(s, dir).select(col("c_custkey"), col("n")),
        suppPts(s, dir).select(col("s_suppkey"), col("s_n")),
        "n", "s_n", 1000e3, R, broadcastRight = true)
        .groupBy("c_custkey").agg(count(lit(1)).as("n_close"))
        .orderBy("c_custkey")
    }),
    "q17_knn_suppliers" -> ((s, dir) => {
      SpatialJoins.knnJoin(
        custPts(s, dir).select(col("c_custkey"), col("n")),
        suppPts(s, dir).select(col("s_suppkey"), col("s_n")),
        "n", "s_n", "c_custkey", "s_suppkey", k = 3)
        .select(col("c_custkey"), col("rank"), col("s_suppkey"),
          round(col("dist_m") / 1000.0, 6).as("dist_km"))
        .orderBy("c_custkey", "rank")
    }),
    "q46_knn_landmarks" -> ((s, dir) => {
      // stateless landmark kNN (the streaming kNN path): landmarks on
      // a deterministic 6x4 degree grid ride as plan literals; one
      // kernel scan per row, no shuffle — oracle mirrors the grid and
      // the eq-16 metric relationally
      val lms = (0 until 24).map { i =>
        (i.toLong, graft.geo.Gade.latLonToNvec(
          (-60.0 + 24.0 * (i % 6)) / 180.0 * math.Pi,
          (-150.0 + 72.0 * (i / 6)) / 180.0 * math.Pi))
      }
      SpatialJoins.knnLandmarks(
          custPts(s, dir).select(col("c_custkey"), col("n")), "n", lms, k = 3)
        .select(col("c_custkey"), col("rank"), col("lm_id"),
          round(col("dist_m") / 1000.0, 6).as("dist_km"))
        .orderBy("c_custkey", "rank")
    }),
    // text / dedup ---------------------------------------------------
    "q18_text_stats" -> ((s, dir) => {
      tSpread(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.wordCount(col("text")).as("words"),
          (length(col("text")) - length(translate(col("text"), ".,!", ""))).as("punct"),
          col("n_chars"))
        .orderBy("doc_id")
    }),
    "q19_dedup_exact" -> ((s, dir) => {
      // the synthetic corpus has no exact duplicates at gate SFs, so
      // the gate PLANTS a deterministic duplicate set inside the query
      // (every 10th doc re-appears under a shifted id) — the oracle
      // then compares a non-empty dedup result instead of being
      // trivially satisfied by two empty frames
      val d = t(s, dir, "documents").select("doc_id", "text")
      val planted = d.filter(col("doc_id") % 10 === 0)
        .withColumn("doc_id", col("doc_id") + lit(1000000L))
      d.unionByName(planted)
        .groupBy(md5(col("text")).as("digest"))
        .agg(count(lit(1)).as("cnt"), min("doc_id").as("keeper"))
        .filter(col("cnt") > 1)
        .orderBy("digest")
    }),
    "q20_embed_norm" -> ((s, dir) => {
      t(s, dir, "embeddings")
        .select(col("vec_id"),
          round(Similarity.l2Norm(col("embedding")), 4).as("l2"),
          col("label"))
        .orderBy("vec_id")
    }),
    "q21_intersect" -> ((s, dir) => {
      // path A: customer point -> Oslo; path B: fixed.
      // staged columns (see q12): avoids struct re-inlining blowup
      val b1 = geo.nvecDeg(lit(50.0), lit(-40.0))
      val b2 = geo.nvecDeg(lit(60.0), lit(20.0))
      custPts(s, dir)
        .withColumn("ca", geo.vcross(col("n"), geo.nvec(lit(OsloLat), lit(OsloLon))))
        .withColumn("t", geo.vcross(col("ca"), geo.vcross(b1, b2)))
        // >= 0 branch pick, NOT signum: the DuckDB mirror's CASE WHEN
        // dot >= 0 THEN 1 ELSE -1 never yields 0, while signum(0)
        // would zero the vector on an exact boundary tie
        .withColumn("ix", geo.vscale(col("t"),
          when(geo.vdot(col("t"), col("n")) >= 0, 1.0).otherwise(-1.0)))
        .select(col("c_custkey"),
          round(geo.latDeg(col("ix")), 6).as("ilat"),
          round(geo.lonDeg(col("ix")), 6).as("ilon"))
        .orderBy("c_custkey")
    }),
    "q22_closest_point" -> ((s, dir) => {
      val a1 = geo.nvecDeg(lit(-10.0), lit(-60.0))
      val a2 = geo.nvecDeg(lit(35.0), lit(40.0))
      // staged columns: see q12 (struct re-inlining blows up the tree)
      custPts(s, dir)
        .withColumn("gcn", geo.gcNormal(a1, a2))
        .withColumn("w", geo.vcross(col("n"), col("gcn")))
        .withColumn("p0", geo.vunit(geo.vcross(col("gcn"), col("w"))))
        .withColumn("cp", geo.vscale(col("p0"), // >= 0 pick, see q21
          when(geo.vdot(col("p0"), col("n")) >= 0, 1.0).otherwise(-1.0)))
        .select(col("c_custkey"),
          round(geo.latDeg(col("cp")), 6).as("clat"),
          round(geo.lonDeg(col("cp")), 6).as("clon"))
        .orderBy("c_custkey")
    }),
    "q23_stopword_ratio" -> ((s, dir) => {
      tSpread(s, dir, "documents")
        .select(col("doc_id"),
          round(TextAnalysis.stopwordRatio(col("text")), 6).as("sw_ratio"))
        .orderBy("doc_id")
    }),
    // similarity family, oracle-checked --------------------------------
    "q25_cosine_topk" -> ((s, dir) => {
      // exact cosine top-k (the brute-force baseline the LSH path is
      // verified against), DuckDB-mirrored via list arithmetic
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val data = emb.select(col("vec_id").as("d_id"), col("embedding").as("d_vec"))
      Similarity.bruteForceTopK(queries, data, "q_vec", "d_vec", "q_id", "d_id", k = 5)
        .select(col("q_id"), col("rank"), col("d_id"),
          round(col("cosine"), 6).as("cosine"))
        .orderBy("q_id", "rank")
    }),
    "q26_hamming_fingerprint" -> ((s, dir) => {
      // 60-bit content fingerprint (md5 low bits) + hamming distance to
      // the previous doc of the same language — drives the xor/bit_count
      // machinery the simhash family is built on through the oracle
      val sig = conv(substring(md5(col("text")), 1, 15), 16, 10).cast("long")
      val w = Window.partitionBy("lang").orderBy("doc_id")
      t(s, dir, "documents")
        .withColumn("sig", sig)
        .withColumn("prev_sig", lag("sig", 1).over(w))
        .filter(col("prev_sig").isNotNull)
        .select(col("doc_id"), col("lang"),
          Dedup.hamming(col("sig"), col("prev_sig")).cast("int").as("hd"))
        .orderBy("doc_id")
    }),
    "q43_ivf_topk" -> ((s, dir) => {
      // IVF search path (assignment -> nProbe lists -> exact re-rank)
      // over FIXED pseudo-random centroids so the DuckDB oracle can
      // mirror it relationally; training is spec-verified separately
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val data = emb.select(col("vec_id").as("d_id"), col("embedding").as("d_vec"))
      Similarity.ivfTopK(queries, data, "q_vec", "d_vec", "q_id", "d_id",
          k = 5, dim = 64, Similarity.pseudoCentroids(16, 64), nProbe = 4)
        .select(col("q_id"), col("rank"), col("d_id"),
          round(col("cosine"), 6).as("cosine"))
        .orderBy("q_id", "rank")
    }),
    // rows-only (not SQL-expressible): Karney, LSH, images -----------
    "q30_geodesic_inverse" -> ((s, dir) => {
      // general-position rows only (same filter as the DuckDB mirror's
      // inv_base WHERE — see inverseGeneralFilter): the Newton + hybrid
      // inverse path is oracle-checked relationally; the excluded
      // special-case branches (meridional, equatorial, short, astroid)
      // keep their GeodSolve golden suites. Rounding: both engines
      // converge alpha1 to ~1e-15 rad, so 2 dp of a meter / 7 dp of a
      // radian leave >= 1e6x margin against rounding-boundary ties
      // (measured cross-engine deltas at sf0.1: s12 <= 1.2e-8 m,
      // az <= 1.6e-14 rad).
      inverseGeneralFilter(custPts(s, dir), col("lat"), col("lon"),
          lit(OsloLat), lit(OsloLon))
        .withColumn("inv", geo.geodesicInverse(col("lat"), col("lon"),
          lit(OsloLat), lit(OsloLon)))
        .select(col("c_custkey"),
          round(col("inv.s12"), 2).as("s12_m"),
          round(col("inv.az1"), 7).as("az1"),
          round(col("inv.az2"), 7).as("az2"))
        .orderBy("c_custkey")
    }),
    "q31_geodesic_reckon" -> ((s, dir) => {
      val dist = (col("c_custkey") % 9973).cast("double") * 1000.0 + 500.0
      custPts(s, dir)
        .withColumn("fwd", geo.geodesicReckon(col("lat"), col("lon"),
          dist, col("lon")))
        .select(col("c_custkey"),
          // 6 dp (~0.1 m): the DuckDB mirror unrolls Clenshaw sums, so
          // the two engines agree to ~1e-12 deg, not bit-exactly
          round(degrees(col("fwd.lat2")), 6).as("dlat"),
          round(degrees(col("fwd.lon2")), 6).as("dlon"))
        .orderBy("c_custkey")
    }),
    "q49_dedup_components" -> ((s, dir) => {
      // duplicate-CLUSTER resolution over a pair list (the step after
      // any near-dup pair operator): min-label propagation vs the
      // oracle's recursive-CTE reachability closure. Edge pattern
      // (k, k+1) unless k = 7 mod 8 builds chains of diameter 7, so
      // the gate exercises genuine multi-round propagation
      val edges = t(s, dir, "customer")
        .select(col("c_custkey").as("a"))
        .filter(col("a") % 8 =!= 7)
        .withColumn("b", col("a") + 1)
      Dedup.connectedComponents(edges, "a", "b")
        .orderBy("node")
    }),
    "q47_geodesic_meridional" -> ((s, dir) => {
      // same-longitude pairs: the inverse solver's MERIDIONAL branch
      // (alpha1 = 0, hybrid I1 along the meridian) — oracle-checked
      // via Karney.meridionalSqlMirror. The |dlat| >= 0.01 filter
      // (identical expression both sides) keeps every row >= 1e6 ULPs
      // clear of the short-distance branch; |dlat| <= 0.985 by
      // construction keeps it clear of the nearly-antipodal one.
      custPts(s, dir)
        .withColumn("lat2", col("lat") * 0.5 + 0.2)
        .filter(abs(col("lat") * 0.5 + lit(0.2) - col("lat")) >= 0.01)
        .withColumn("inv", geo.geodesicInverse(col("lat"), col("lon"),
          col("lat2"), col("lon")))
        .select(col("c_custkey"),
          round(col("inv.s12"), 2).as("s12_m"),
          round(col("inv.az1"), 7).as("az1"),
          round(col("inv.az2"), 7).as("az2"))
        .orderBy("c_custkey")
    }),
    "q48_geodesic_equatorial" -> ((s, dir) => {
      // equator-to-equator pairs with lamda12 in ~[1.0, 3.0) rad
      // (< (1-f)*pi): the solver's EQUATORIAL branch keeps the
      // Vincenty-start distance s12 = a * wbar * sigma12 and pins
      // azimuths at pi/2 — oracle-checked via
      // Karney.equatorialSqlMirror. The pi/3.15 factor de-aligns the
      // grid from the 2-dp rounding boundary: a plain k/1000 grid
      // times the INTEGER equatorial radius a = 6378137 m lands s12
      // exactly on x.xx5 meters for k = 5 mod 10, where 1-ulp
      // cross-engine atan2 deltas flip the rounded cent
      val lam = ((col("c_custkey") % 2000).cast("double") / 1000.0 + 1.0) *
        math.Pi / 3.15
      t(s, dir, "customer")
        .withColumn("inv", geo.geodesicInverse(lit(0.0), lit(0.0), lit(0.0), lam))
        .select(col("c_custkey"),
          round(col("inv.s12"), 2).as("s12_m"),
          round(col("inv.az1"), 7).as("az1"),
          round(col("inv.az2"), 7).as("az2"))
        .orderBy("c_custkey")
    }),
    "q32_knn_embedding" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val data = emb.select(col("vec_id").as("d_id"), col("embedding").as("d_vec"))
      val queries = emb.filter(col("vec_id") < 20)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      Similarity.lshTopK(queries, data, "q_vec", "d_vec", "q_id", "d_id",
          k = 5, dim = 64)
        .select(col("q_id"), col("rank"), col("d_id"), round(col("cosine"), 6).as("cosine"))
        .orderBy("q_id", "rank")
    }),
    "q33_minhash_pairs" -> ((s, dir) => {
      // md5 signature basis: same one-permutation pipeline as the
      // production default, with the hash swapped for the 60-bit md5
      // value DuckDB can compute — converts this gate from rows-only
      // to a full oracle row
      Dedup.minHashPairs(t(s, dir, "documents"), "doc_id", "text", threshold = 0.35,
          basis = "md5")
        .orderBy("id_a", "id_b")
    }),
    "q34_simhash" -> ((s, dir) => {
      // md5 hash basis (see q33) so signature + fingerprint both get a
      // relational DuckDB mirror
      tSpread(s, dir, "documents")
        .select(col("doc_id"), Dedup.simHashMd5(col("text")).as("sig"),
          TextAnalysis.fingerprint(col("text"), basis = "md5").as("fp"))
        .orderBy("doc_id")
    }),
    "q35_lang_quality" -> ((s, dir) => {
      // printable-ASCII rows only, same regex filter in the DuckDB
      // mirror: on ASCII input Java's (?U)\w and RE2's \w token
      // classes coincide, so the BPE-ish token count is relationally
      // checkable; non-ASCII documents (none in the synthetic corpus,
      // but possible at other scales) are excluded identically on
      // both sides rather than diverging silently
      tSpread(s, dir, "documents")
        .filter(col("text").rlike("^[\\x20-\\x7e]*$"))
        .select(col("doc_id"), col("lang"),
          TextAnalysis.langGuess(col("text")).as("lang_guess"),
          TextAnalysis.qualityScore(col("text")).as("quality"),
          TextAnalysis.tokenCountApprox(col("text")).as("tokens"))
        .orderBy("doc_id")
    }),
    "q36_image_verify" -> ((s, dir) => {
      // payload invariants of the input_hint image table at tiny scale
      val images = ImageTable.generate(s, 512, 8)
      import s.implicits._
      val checked = images.as[ImageTable.ImageRow].map { r =>
        val ord = r.image_id.drop(4).toLong
        val psnr = ImageTable.referencePsnr(ord, r.bytes, r.w, r.h, r.fmt)
        (r.image_id, r.fmt, psnr >= 40.0,
          ImageTable.payloadPhash(r.bytes, r.w, r.h, r.fmt) == r.phash,
          ImageTable.referenceCaption(ord) == r.caption)
      }.toDF("image_id", "fmt", "psnr_ok", "phash_ok", "caption_ok")
      checked.groupBy("fmt")
        .agg(count(lit(1)).as("n"),
          sum(when(col("psnr_ok"), 1).otherwise(0)).as("n_psnr_ok"),
          sum(when(col("phash_ok"), 1).otherwise(0)).as("n_phash_ok"),
          sum(when(col("caption_ok"), 1).otherwise(0)).as("n_caption_ok"))
        .orderBy("fmt")
    }),
    "q37_course_over_ground" -> ((s, dir) => {
      // treat each user's event sequence as a vehicle track
      val ev = t(s, dir, "events")
        .withColumn("lat", latRad(col("event_id")))
        .withColumn("lon", lonRad(col("event_id")))
        .withColumn("n", geo.nvec(col("lat"), col("lon")))
      graft.operators.Tracks.courseOverGround(ev, "user_id", "event_id", "n",
          dropSingletons = true)
        .select(col("user_id"), col("event_id"), round(col("cog"), 6).as("cog_rad"))
        .orderBy("user_id", "event_id")
    }),
    "q24_rasterize" -> ((s, dir) => {
      // money average in EXACT integer arithmetic: double sums are
      // order-dependent, and even identical quotient doubles round
      // differently across engines on exact .xxxx5 boundaries
      // (observed at sf0.1) — cents * 1e4 div n in BIGINT is
      // associative and engine-independent. Unit: 1e-6 dollars.
      graft.operators.Raster.rasterize(custPts(s, dir), "n", 4,
          Seq(count(lit(1)).as("cnt"),
            sum(round(col("c_acctbal") * 100).cast("long")).as("__cents")))
        .withColumn("avg_bal_e6", expr("__cents * 10000 div cnt"))
        .drop("__cents")
        .orderBy("cell")
    }),
    "q39_embedding_near_dups" -> ((s, dir) => {
      // plant deterministic jittered duplicates, then recover them
      val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
      val planted = emb.filter(col("vec_id") % 100 === 0)
        .select((col("vec_id") + 1000000).as("vec_id"),
          transform(col("embedding"), x => x * 1.0005f).as("embedding"))
      Similarity.embeddingNearDups(emb.unionByName(planted), "vec_id", "embedding",
          dim = 64, threshold = 0.9995)
        .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
        .orderBy("id_a", "id_b")
    }),
    "q40_cog_smoothed" -> ((s, dir) => {
      // Savitzky-Golay smoothing composed with course over ground —
      // the reference's course_over_ground(window_length=...) path,
      // via the pure-window-function smoother (the scale path: no
      // per-track buffering)
      val ev = t(s, dir, "events")
        .withColumn("tsec", col("event_id").cast("double"))
        .withColumn("lat", latRad(col("event_id")))
        .withColumn("lon", lonRad(col("event_id")))
        .withColumn("n", geo.nvec(col("lat"), col("lon")))
        .select(col("user_id"), col("tsec"), col("n"))
      val smoothed = graft.operators.Tracks.savgolSmoothWindowed(
        ev, "user_id", "tsec", "n", windowLength = 7, polyorder = 2)
      graft.operators.Tracks.courseOverGround(smoothed, "user_id", "tsec", "n",
          dropSingletons = true)
        .select(col("user_id"), col("tsec"), round(col("cog"), 6).as("cog_rad"))
        .orderBy("user_id", "tsec")
    }),
    "q42_media_features" -> ((s, dir) => {
      // real pure-JVM media codecs over synthesized payloads: PCM WAV
      // parse + feature extraction, raw-MJPEG demux + per-frame decode
      import s.implicits._
      import graft.operators.{MediaCodecs, Multimodal}
      val media = s.range(48).as[Long].map(MediaCodecs.syntheticMedia)
        .toDF("media_id", "bytes", "kind")
      val audio = Multimodal.audioFeatures(media.filter(col("kind") === "wav"),
          "media_id", "bytes")
        .groupBy(lit("wav").as("kind"))
        .agg(count(lit(1)).as("n"),
          round(avg("rms"), 4).as("metric_a"),
          sum("zero_crossings").cast("double").as("metric_b"))
      val video = Multimodal.videoFrameSample(media.filter(col("kind") === "mjpeg"),
          "media_id", "bytes", everyNth = 2)
        .groupBy(lit("mjpeg").as("kind"))
        .agg(count(lit(1)).as("n"),
          avg("frame_w").as("metric_a"),
          sum("frame_h").cast("double").as("metric_b"))
      audio.unionByName(video).orderBy("kind")
    }),
    "q41_track_interp_cubic" -> ((s, dir) => {
      // cubic (not-a-knot spline) track interpolation with depth carry
      // — the reference interp_nvectors(kind='cubic') headline path.
      // Tracks shorter than 4 fixes are excluded on BOTH sides (same
      // integer count filter in the DuckDB mirror) so every mirrored
      // track provably takes the cubic path at any scale — never the
      // engine's short-track fallback orders.
      val evBase = t(s, dir, "events")
        .withColumn("tsec", col("event_id").cast("double"))
        .withColumn("lat", latRad(col("event_id")))
        .withColumn("lon", lonRad(col("event_id")))
        .withColumn("n", geo.nvec(col("lat"), col("lon")))
        .withColumn("depth", (col("event_id") % 97).cast("double"))
        .select(col("user_id"), col("tsec"), col("n"), col("depth"))
      // DISTINCT-timestamp count: the spline dedups same-t fixes, so a
      // raw-row filter could keep a track whose knot count is below
      // the cubic minimum (engine would degrade order, the mirror
      // would not) — count what the solver actually sees. Aggregate +
      // join, not a collect_set window (which materializes the full
      // distinct set once per ROW — O(rows x distinct) on long tracks)
      val ev = evBase.join(
        evBase.groupBy("user_id").agg(countDistinct("tsec").as("__n")), "user_id")
        .filter(col("__n") >= 4).drop("__n")
      val qs = t(s, dir, "events").select(col("user_id")).distinct()
        .withColumn("tsec", col("user_id").cast("double") * 7.0 + 100.0)
      graft.operators.Tracks.interpolateSpline(ev, qs, "user_id", "tsec", "n",
          zCol = Some("depth"), kind = "cubic")
        .filter(!isnan(geo.vx(col("n"))))
        .select(col("user_id"), col("tsec"),
          round(geo.latDeg(col("n")), 6).as("ilat"),
          round(geo.lonDeg(col("n")), 6).as("ilon"),
          round(col("depth"), 6).as("idepth"))
        .orderBy("user_id")
    }),
    "q44_track_interp_quadratic" -> ((s, dir) => {
      // quadratic (order-2 B-spline, scipy midpoint knots) track
      // interpolation with a mirror-padded Savitzky-Golay pre-smooth —
      // the interp1d kind='quadratic' / savgol mode parity path
      // tracks shorter than 8 fixes excluded on BOTH sides (same
      // integer filter in the DuckDB mirror), so every mirrored track
      // keeps the full 7-tap window and the quadratic order at any
      // scale — never the window-truncation or short-track fallbacks
      val evBase = t(s, dir, "events")
        .withColumn("tsec", col("event_id").cast("double"))
        .withColumn("lat", latRad(col("event_id")))
        .withColumn("lon", lonRad(col("event_id")))
        .withColumn("n", geo.nvec(col("lat"), col("lon")))
        .withColumn("depth", (col("event_id") % 97).cast("double"))
        .select(col("user_id"), col("tsec"), col("n"), col("depth"))
      val ev = evBase.join( // distinct-timestamp count, see q41
        evBase.groupBy("user_id").agg(countDistinct("tsec").as("__n")), "user_id")
        .filter(col("__n") >= 8).drop("__n")
      val qs = t(s, dir, "events").select(col("user_id")).distinct()
        .withColumn("tsec", col("user_id").cast("double") * 7.0 + 100.0)
      graft.operators.Tracks.interpolateSpline(ev, qs, "user_id", "tsec", "n",
          zCol = Some("depth"), kind = "quadratic", windowLength = 7,
          polyorder = 2, mode = "mirror")
        .filter(!isnan(geo.vx(col("n"))))
        .select(col("user_id"), col("tsec"),
          round(geo.latDeg(col("n")), 6).as("ilat"),
          round(geo.lonDeg(col("n")), 6).as("ilon"),
          round(col("depth"), 6).as("idepth"))
        .orderBy("user_id")
    }),
    "q45_phash_neardups" -> ((s, dir) => {
      // image-corpus near-dup primitive: multi-index hamming self-join
      // over a 64-bit perceptual-hash-style fingerprint. Gate variant
      // fingerprints documents with the md5-basis simhash (q34's
      // signature) so DuckDB can brute-force the same pair set —
      // the banded join is provably brute-force-equal (pigeonhole).
      val sigs = tSpread(s, dir, "documents")
        .select(col("doc_id"), Dedup.simHashMd5(col("text")).as("fp"))
      Dedup.hammingNearDups(sigs, "doc_id", "fp",
          maxDist = 3, bits = 60, bands = 6)
        .orderBy("id_a", "id_b")
    }),
    "q38_track_interpolation" -> ((s, dir) => {
      // interpolate each user's position track at fixed times
      val ev = t(s, dir, "events")
        .withColumn("tsec", col("event_id").cast("double"))
        .withColumn("lat", latRad(col("event_id")))
        .withColumn("lon", lonRad(col("event_id")))
        .withColumn("n", geo.nvec(col("lat"), col("lon")))
        .select(col("user_id"), col("tsec"), col("n"))
      val qs = t(s, dir, "events").select(col("user_id")).distinct()
        .withColumn("tsec", col("user_id").cast("double") * 7.0 + 100.0)
      graft.operators.Tracks.interpolateLinear(ev, qs, "user_id", "tsec", "n")
        .filter(col("n").isNotNull)
        .select(col("user_id"), col("tsec"),
          round(geo.latDeg(col("n")), 6).as("ilat"),
          round(geo.lonDeg(col("n")), 6).as("ilon"))
        .orderBy("user_id")
    }),
    "q53_cell_compact" -> ((s, dir) => {
      // compact/uncompact as an oracle gate: level-3 cells of every
      // 5th customer exploded to level 5 (complete sibling subtrees
      // by construction) + raw level-5 cells of the rest; compaction
      // must merge back exactly the complete groups (incl. any
      // groups the scattered cells happen to complete). The oracle
      // unrolls the level-by-level merge in plain CTEs.
      val pts = custPts(s, dir)
      val fine = graft.index.CellSetOps.uncompact(
        pts.filter(col("c_custkey") % 5 === 0)
          .select(cells.cellAt(col("n"), 3).as("cell")), "cell", 5)
      val scattered = pts.filter(col("c_custkey") % 5 =!= 0)
        .select(cells.cellAt(col("n"), 5).as("cell"))
      graft.index.CellSetOps.compact(fine.unionByName(scattered), "cell")
        .orderBy("cell")
    }),
    "q54_sessionize" -> ((s, dir) => {
      // event-gap sessionization of the user event streams (12 h
      // gap): one hash shuffle on the key drives the boundary lag,
      // the running session index AND the per-session aggregate
      // (plan-asserted in SessionsSpec)
      graft.operators.Sessions.sessionStats(
          t(s, dir, "events"), "user_id", "ts", 43200000L)
        .select(col("user_id"), col("session_idx"), col("n_events"),
          col("start_ms"), col("end_ms"), col("duration_ms"))
        .orderBy("user_id", "session_idx")
    }),
    "q55_stratified_sample" -> ((s, dir) => {
      // deterministic training-data sampling: a 50% hash draw (map-
      // only, partitioning-independent) then an exact 15-per-(lang,
      // source) quota by hash rank — the DuckDB oracle re-draws the
      // identical rows from the identical md5s
      val half = graft.operators.Sampling.hashSample(
        t(s, dir, "documents"), "doc_id", 0.5, salt = "g")
      graft.operators.Sampling.stratifiedSample(
          half, Seq("lang", "source"), "doc_id", 15, salt = "s")
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    }),
    "q56_repetition" -> ((s, dir) => {
      // Gopher-style repetition quality signals, one JITed kernel
      // pass per metric (no explode/groupBy — the gram multiplicity
      // table never leaves the row)
      t(s, dir, "documents")
        .select(col("doc_id"),
          round(graft.operators.TextAnalysis.topNgramFrac(col("text"), 2), 6)
            .as("top2_frac"),
          round(graft.operators.TextAnalysis.dupNgramFrac(col("text"), 3), 6)
            .as("dup3_frac"))
        .orderBy("doc_id")
    }),
    "q57_staypoints" -> ((s, dir) => {
      // stay-point anchors over synthetic vehicle tracks (user event
      // streams with ~200 m jitter around a per-user home and a 5 km
      // excursion every 11th event): time-bucketed join, never a
      // whole-track fan-out. 24 h dwell, 1 km radius.
      val Rm = graft.geo.Ellipsoids.MeanEarthRadius
      val jScale = 200.0 / Rm
      val far = 5000.0 / Rm
      val ev = t(s, dir, "events")
        .withColumn("tms", unix_millis(col("ts").cast("timestamp")))
        .withColumn("lat",
          latRad(col("user_id")) * 0.99 +
            (((col("event_id") * 2654435761L) % 2001L) / 1000.0 - 1.0) * jScale +
            when(col("event_id") % 11 === 0, far).otherwise(0.0))
        .withColumn("lon",
          lonRad(col("user_id")) * 0.99 +
            (((col("event_id") * 40503L) % 2001L) / 1000.0 - 1.0) * jScale)
        .withColumn("n", geo.nvec(col("lat"), col("lon")))
      graft.operators.StayPoints.stayAnchors(
          ev, "user_id", "event_id", "tms", "n", 1000.0, 86400000L)
        .select(col("user_id"), col("event_id"), col("n_window"),
          round(col("max_excursion_m"), 2).as("max_excursion_m"),
          col("is_stay"))
        .orderBy("user_id", "event_id")
    }),
    "q58_interval_join" -> ((s, dir) => {
      // interval overlap join: per-user click validity windows x
      // purchase windows. The engine's bucket-explode + responsibility
      // rule (each pair kept exactly once, no dedup shuffle) vs the
      // oracle's brute inequality join.
      val ev = t(s, dir, "events")
      val l = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("l_event"), col("user_id").as("l_uid"),
          col("event_id").cast("double").as("l_s"),
          (col("event_id") + (col("user_id") % 50) * 3 + 1).cast("double").as("l_e"))
      val r = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("r_event"), col("user_id").as("r_uid"),
          (col("event_id") - 40).cast("double").as("r_s"),
          (col("event_id") + (col("user_id") % 30)).cast("double").as("r_e"))
      graft.operators.IntervalJoin.intervalJoin(l, r, "l_s", "l_e", "r_s", "r_e",
          bucketWidth = 64.0, keys = Seq(("l_uid", "r_uid")))
        .select("l_event", "r_event")
        .orderBy("l_event", "r_event")
    }),
    "q59_tile_pyramid" -> ((s, dir) => {
      // multi-resolution tile statistics: ONE scan + shuffle at the
      // finest level, every coarser level aggregates the previous
      // level's AGGREGATES via exact parent-cell arithmetic. The
      // oracle recomputes each level directly from the points —
      // equality proves the rollup is lossless level by level.
      graft.operators.Pyramid.rollup(custPts(s, dir), "n", finest = 5,
          coarsest = 1, sumCols = Seq("c_acctbal"))
        .select(col("level"), col("cell"), col("n").as("n_pts"),
          round(col("c_acctbal_sum"), 4).as("bal_sum"))
        .orderBy("level", "cell")
    }),
    "q60_track_hausdorff" -> ((s, dir) => {
      // symmetric discrete Hausdorff distance between user tracks
      // (events jittered around a per-user center), scored for an
      // explicit pair list — the exact-verify step of a track
      // similarity pipeline. Oracle: full min/max SQL mirror.
      val ev = t(s, dir, "events")
        .withColumn("lat", latRad(col("user_id") * 13 + 1) * 0.95 +
          (((col("event_id") * 2654435761L) % 4001L) / 2000.0 - 1.0) * 0.01)
        .withColumn("lon", lonRad(col("user_id") * 13 + 1) * 0.97 +
          (((col("event_id") * 40503L) % 4001L) / 2000.0 - 1.0) * 0.01)
        .withColumn("nv", geo.nvec(col("lat"), col("lon")))
      val users = ev.select("user_id").distinct()
      val pairs = users.filter(col("user_id") % 3 === 0)
        .select(col("user_id").as("a"))
        .withColumn("b", col("a") + 1)
        .join(users.select(col("user_id").as("b")), "b")
        .select("a", "b")
      graft.operators.TrajectoryDist.hausdorff(ev, "user_id", "event_id", "nv",
          pairs, "a", "b")
        .select(col("a"), col("b"), round(col("hausdorff_m"), 6).as("hausdorff_m"))
        .orderBy("a")
    }),
    "q76_track_frechet" -> ((s, dir) => {
      // discrete Frechet for the same pair list as q60 — the
      // order-aware track distance. Oracle: the DP's within-row
      // prefix dependency disappears iterated by ANTI-DIAGONALS
      // (diagonal s needs only s-1 and s-2), which a two-generation
      // recursive CTE expresses — see dpTrackOracleSql.
      val ev = t(s, dir, "events")
        .withColumn("lat", latRad(col("user_id") * 13 + 1) * 0.95 +
          (((col("event_id") * 2654435761L) % 4001L) / 2000.0 - 1.0) * 0.01)
        .withColumn("lon", lonRad(col("user_id") * 13 + 1) * 0.97 +
          (((col("event_id") * 40503L) % 4001L) / 2000.0 - 1.0) * 0.01)
        .withColumn("nv", geo.nvec(col("lat"), col("lon")))
      val users = ev.select("user_id").distinct()
      val pairs = users.filter(col("user_id") % 3 === 0)
        .select(col("user_id").as("a"))
        .withColumn("b", col("a") + 1)
        .join(users.select(col("user_id").as("b")), "b")
        .select("a", "b")
      graft.operators.TrajectoryDist.frechet(ev, "user_id", "event_id", "nv",
          pairs, "a", "b")
        .select(col("a"), col("b"), round(col("frechet_m"), 6).as("frechet_m"))
        .orderBy("a")
    }),
    "q80_kde_heatmap" -> ((s, dir) => {
      // grid KDE heatmap: truncated-Gaussian smoothing of per-cell
      // counts at level 4 (sigma 300 km, cutoff 1000 km — ring k=4
      // provably covers). The oracle ignores the ring machinery
      // entirely: occupied-cell counts + an ALL-PAIRS distance-filtered
      // join over cell centers — equality proves the ring expansion
      // reaches every in-cutoff source.
      graft.operators.Raster.kdeDensity(custPts(s, dir), "n", level = 4,
          sigmaMeters = 300e3, cutoffMeters = 1000e3)
        .select(col("cell"), col("n"), round(col("density"), 6).as("density"))
        .orderBy("cell")
    }),
    "q86_od_flows" -> ((s, dir) => {
      // origin-destination flow matrix over the q60 jittered tracks:
      // consecutive fixes whose level-4 cells differ contribute one
      // trip. Oracle replays the cell arithmetic + lag window + group
      // relationally.
      val ev = t(s, dir, "events")
        .withColumn("lat", latRad(col("user_id") * 13 + 1) * 0.95 +
          (((col("event_id") * 2654435761L) % 4001L) / 2000.0 - 1.0) * 0.01)
        .withColumn("lon", lonRad(col("user_id") * 13 + 1) * 0.97 +
          (((col("event_id") * 40503L) % 4001L) / 2000.0 - 1.0) * 0.01)
        .withColumn("nv", geo.nvec(col("lat"), col("lon")))
      graft.operators.Tracks.cellFlows(ev, "user_id", "event_id", "nv", level = 4)
        .orderBy("from_cell", "to_cell")
    }),
    "q85_tile_decode" -> ((s, dir) => {
      // the mercator family's DECODE side: quadkey parsed back to
      // (tx, ty) — must round-trip the q78 encode — and tile bounds
      // by the inverse projection, with a containment check for
      // non-clamped rows (rows beyond +-85.051 deg sit inside the
      // edge tile but outside its nominal mercator bounds -> null).
      val z = 8
      val maxLat = math.atan(math.sinh(math.Pi))
      val pts = custPts(s, dir)
        .select(col("c_custkey").as("k"), col("lat"), col("lon"))
        .withColumn("tx", graft.index.WebMercator.tileX(col("lon"), z))
        .withColumn("ty", graft.index.WebMercator.tileY(col("lat"), z))
        .withColumn("rt", graft.index.WebMercator.quadkeyToXY(
          graft.index.WebMercator.quadkey(col("tx"), col("ty"), z), z))
        .withColumn("b", graft.index.WebMercator.tileBounds(col("tx"), col("ty"), z))
      pts.select(col("k"), col("tx"), col("ty"),
          col("rt.tx").as("tx2"), col("rt.ty").as("ty2"),
          round(col("b.lat_n"), 9).as("lat_n"), round(col("b.lat_s"), 9).as("lat_s"),
          round(col("b.lon_w"), 9).as("lon_w"), round(col("b.lon_e"), 9).as("lon_e"),
          // 1/0/-1 instead of a nullable boolean: the driver's pandas
          // compare reads DuckDB null booleans as NaN and mismatches
          when(abs(col("lat")) < maxLat,
            (col("lat") <= col("b.lat_n") && col("lat") >= col("b.lat_s") &&
              col("lon") >= col("b.lon_w") && col("lon") <= col("b.lon_e"))
              .cast("int"))
            .otherwise(lit(-1)).as("contained"))
        .orderBy("k")
    }),
    "q84_geohash" -> ((s, dir) => {
      // geohash addressing (precision 7 = 35 bits: 18 lon + 17 lat)
      // plus the raw axis indexes: the closed floor-of-fraction form
      // vs the oracle's identical arithmetic with the bit interleave
      // and base-32 mapping unrolled in SQL. Full-range lats exercise
      // the pole clamp; spec separately pins the closed form against
      // the textbook bisection loop.
      custPts(s, dir).select(col("c_custkey").as("k"),
          graft.index.Geohash.encode(col("lat"), col("lon"), 7).as("gh"),
          graft.index.Geohash.lonIdx(col("lon"), 18).as("lon_idx"),
          graft.index.Geohash.latIdx(col("lat"), 17).as("lat_idx"))
        .orderBy("k")
    }),
    "q83_tile_rollup" -> ((s, dir) => {
      // XYZ tile-pyramid statistics (the q59 one-scan rollup pattern
      // on the web-mercator index family): base aggregation at zoom 7
      // only, coarser zooms re-aggregate AGGREGATES via tx>>1, ty>>1.
      // Oracle recomputes each zoom directly from lat/lon — equality
      // proves the shift rollup lossless zoom by zoom.
      graft.operators.Pyramid.tileRollup(
          custPts(s, dir).select(col("lat"), col("lon"), col("c_acctbal")),
          "lat", "lon", finest = 7, coarsest = 2, sumCols = Seq("c_acctbal"))
        .select(col("zoom"), col("tx"), col("ty"), col("n").as("n_pts"),
          round(col("c_acctbal_sum"), 4).as("bal_sum"))
        .orderBy("zoom", "tx", "ty")
    }),
    "q81_geofence" -> ((s, dir) => {
      // geofence enter/exit events along the q60 jittered tracks:
      // fence boxes are centered ON the track centers of users 3 and
      // 6 with a lat half-width (0.004 rad) INSIDE the jitter range
      // (+-0.01 rad), so those tracks repeatedly cross the fence at
      // every SF. Winding kernel + lag window vs the oracle's convex
      // half-plane chain + identical window.
      val ev = t(s, dir, "events")
        .withColumn("lat", latRad(col("user_id") * 13 + 1) * 0.95 +
          (((col("event_id") * 2654435761L) % 4001L) / 2000.0 - 1.0) * 0.01)
        .withColumn("lon", lonRad(col("user_id") * 13 + 1) * 0.97 +
          (((col("event_id") * 40503L) % 4001L) / 2000.0 - 1.0) * 0.01)
        .withColumn("nv", geo.nvec(col("lat"), col("lon")))
      graft.operators.SpatialJoins.geofenceTransitions(ev, "user_id",
          "event_id", "nv", geofenceAois)
        .orderBy("user_id", "aoi_id", "event_id")
    }),
    "q82_speed_flags" -> ((s, dir) => {
      // implied-speed outlier flags over the same tracks (event_id as
      // the time axis): great-circle step distance / id gap, flagged
      // above 400 m per id unit; first fix null-speed unflagged.
      val ev = t(s, dir, "events")
        .withColumn("lat", latRad(col("user_id") * 13 + 1) * 0.95 +
          (((col("event_id") * 2654435761L) % 4001L) / 2000.0 - 1.0) * 0.01)
        .withColumn("lon", lonRad(col("user_id") * 13 + 1) * 0.97 +
          (((col("event_id") * 40503L) % 4001L) / 2000.0 - 1.0) * 0.01)
        .withColumn("nv", geo.nvec(col("lat"), col("lon")))
        .withColumn("tsec", col("event_id").cast("double"))
      graft.operators.Tracks.speedFlags(ev, "user_id", "tsec", "nv",
          maxSpeedMps = 400.0)
        .select(col("user_id"), col("event_id"),
          round(col("speed_mps"), 6).as("speed_mps"), col("too_fast"))
        .orderBy("user_id", "event_id")
    }),
    "q79_track_dtw" -> ((s, dir) => {
      // dynamic-time-warping alignment cost for the same pair list as
      // q60/q76 — the SUM-along-coupling companion of Frechet. Same
      // anti-diagonal recursive-CTE oracle with the + min update.
      val ev = t(s, dir, "events")
        .withColumn("lat", latRad(col("user_id") * 13 + 1) * 0.95 +
          (((col("event_id") * 2654435761L) % 4001L) / 2000.0 - 1.0) * 0.01)
        .withColumn("lon", lonRad(col("user_id") * 13 + 1) * 0.97 +
          (((col("event_id") * 40503L) % 4001L) / 2000.0 - 1.0) * 0.01)
        .withColumn("nv", geo.nvec(col("lat"), col("lon")))
      val users = ev.select("user_id").distinct()
      val pairs = users.filter(col("user_id") % 3 === 0)
        .select(col("user_id").as("a"))
        .withColumn("b", col("a") + 1)
        .join(users.select(col("user_id").as("b")), "b")
        .select("a", "b")
      graft.operators.TrajectoryDist.dtw(ev, "user_id", "event_id", "nv",
          pairs, "a", "b")
        .select(col("a"), col("b"), round(col("dtw_m"), 6).as("dtw_m"))
        .orderBy("a")
    }),
    "q61_bm25" -> ((s, dir) => {
      // Okapi BM25 lexical scoring of the document corpus against a
      // fixed 3-term query: tf/df/length normalization all mirrored
      // term-for-term in the oracle SQL.
      graft.operators.Retrieval.bm25(t(s, dir, "documents"), "doc_id", "text",
          Seq("spark", "vector", "merge"))
        .select(col("doc_id"), round(col("score"), 6).as("score"))
        .orderBy("doc_id")
    }),
    "q62_boilerplate" -> ((s, dir) => {
      // corpus-level shared-n-gram boilerplate fractions (C4-style
      // cross-document repetition, n-gram unit) — md5 basis so the
      // oracle can recompute every gram hash relationally
      Boilerplate.sharedNgramStats(t(s, dir, "documents"), "doc_id", "text",
          n = 3, minDocs = 3, basis = "md5")
        .select(col("doc_id"), col("total_grams"), col("shared_grams"),
          round(col("boilerplate_frac"), 6).as("boilerplate_frac"))
        .orderBy("doc_id")
    }),
    "q63_unigram_lm" -> ((s, dir) => {
      // CCNet-style LM quality scoring: add-k unigram model trained on
      // the deterministic doc_id % 5 = 0 slice, every doc scored by
      // mean negative log-likelihood
      val docs = t(s, dir, "documents")
      val model = LangModel.unigramCounts(docs.filter(col("doc_id") % 5 === 0),
        "text")
      LangModel.unigramScore(docs, "doc_id", "text", model, k = 0.5)
        .select(col("doc_id"), col("n_tokens"),
          round(col("avg_nll"), 6).as("avg_nll"))
        .orderBy("doc_id")
    }),
    "q64_pii_redact" -> ((s, dir) => {
      // PII detect + redact. The synthetic corpus carries no PII, so
      // the gate PLANTS deterministic emails/phones/IPs derived from
      // doc_id (same expressions in the oracle SQL) — the compare then
      // covers real matches, not two all-zero frames
      val planted = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 3 === 0,
            concat(lit(" reach user"), col("doc_id"), lit("@mail"),
              col("doc_id") % 5, lit(".org"))).otherwise(lit("")),
          when(col("doc_id") % 4 === 1,
            concat(lit(" call +1-555-123-"),
              lpad(((col("doc_id") * 7) % 10000).cast("string"), 4, "0")))
            .otherwise(lit("")),
          when(col("doc_id") % 5 === 2,
            concat(lit(" from 10."), col("doc_id") % 256, lit("."),
              (col("doc_id") * 3) % 256, lit(".7"))).otherwise(lit("")))
          .as("text"))
      planted.select(col("doc_id"),
          TextAnalysis.piiEmailCount(col("text")).as("emails"),
          TextAnalysis.piiPhoneCount(col("text")).as("phones"),
          TextAnalysis.piiIpv4Count(col("text")).as("ips"),
          TextAnalysis.redactPii(col("text")).as("redacted"))
        .orderBy("doc_id")
    }),
    "q65_neardup_resolve" -> ((s, dir) => {
      // END-TO-END image-corpus dedup: fingerprint -> banded hamming
      // pair join -> connected components -> keep one representative
      // per cluster, in one composition — the full "drop near
      // duplicates" pipeline a training-data job runs. md5-basis
      // simhash fingerprints so the oracle can brute-force the pair
      // set and close it with a recursive CTE
      val sigs = tSpread(s, dir, "documents")
        .select(col("doc_id"), Dedup.simHashMd5(col("text")).as("fp"))
      val pairs = Dedup.hammingNearDups(sigs, "doc_id", "fp",
          maxDist = 3, bits = 60, bands = 6)
        .select("id_a", "id_b")
      Dedup.keepComponentRepresentatives(sigs, "doc_id", pairs, "id_a", "id_b")
        .select(col("doc_id"))
        .orderBy("doc_id")
    }),
    "q66_contamination" -> ((s, dir) => {
      // benchmark decontamination: eval set = the deterministic
      // doc_id % 7 = 3 slice, n=3 at gate SF (gate docs are short;
      // production default is n=13), contaminated at >= 2 shared
      // grams. md5 basis so the oracle recomputes every gram hash
      val docs = t(s, dir, "documents")
      Contamination.overlapStats(docs, "doc_id", "text",
          docs.filter(col("doc_id") % 7 === 3), "text",
          n = 3, minOverlap = 2, basis = "md5")
        .orderBy("doc_id")
    }),
    "q67_aoi_boundary_dist" -> ((s, dir) => {
      // signed distance to the AOI BOUNDARY (negative inside) — the
      // buffer/erosion primitive; same boxes as q15 so the sign leg
      // reuses q15's proven winding<->half-plane equivalence
      val aois = Seq(Aoi("box_a", BoxA), Aoi("box_b", BoxB))
      SpatialJoins.aoiBoundaryDistance(
          custPts(s, dir).select(col("c_custkey"), col("n")), "n", aois, R)
        .select(col("c_custkey"), col("aoi_id"),
          round(col("dist_m") / 1000.0, 6).as("dist_km"))
        .orderBy("c_custkey", "aoi_id")
    }),
    "q70_aoi_buffer_join" -> ((s, dir) => {
      // points within 800 km of each AOI (polygon dilated by the
      // buffer) via the cell-cover prefilter + one exact signed
      // boundary-distance call; the oracle recomputes the signed
      // distance for EVERY point and filters — so the gate proves
      // the grown quadtree cover drops no qualifying point
      val aois = Seq(Aoi("box_a", BoxA), Aoi("box_b", BoxB))
      SpatialJoins.aoiBufferJoin(
          custPts(s, dir).select(col("c_custkey"), col("n")), "n", aois,
          bufferMeters = 800e3, radius = R)
        .select(col("c_custkey"), col("aoi_id"),
          round(col("dist_m") / 1000.0, 6).as("dist_km"))
        .orderBy("c_custkey", "aoi_id")
    }),
    "q87_aoi_holes" -> ((s, dir) => {
      // multipolygon / holes containment: EVEN-ODD over a ring list
      // (outer + hole + island-in-the-hole + a disjoint part) via the
      // per-ring cell-cover join; the oracle replays each convex ring
      // as q15's half-plane test and combines by parity
      import graft.operators.SpatialJoins.AoiM
      SpatialJoins.aoiJoinM(custPts(s, dir).select(col("c_custkey"), col("n")),
          "n", Seq(AoiM("m1", MultiRings)))
        .select("c_custkey", "aoi_id")
        .orderBy("c_custkey", "aoi_id")
    }),
    "q89_corridor_join" -> ((s, dir) => {
      // buffered-polyline corridor join with routes as a TABLE (the
      // lift of snapToRoutes' literal set): pieces + per-piece disc
      // covers generate candidates, the exact predicate runs against
      // the ORIGINAL segment endpoints, so the oracle replays the
      // identical per-segment arithmetic and filters at the buffer
      import s.implicits._
      def flat(vs: Seq[(Double, Double)]): Seq[Double] = CellIndex.flatNvecs(vs).toSeq
      val routes = Seq(("r_a", flat(RouteA)), ("r_b", flat(RouteB)))
        .toDF("route_id", "verts")
      SpatialJoins.corridorJoin(
          custPts(s, dir).select(col("c_custkey"), col("n")), "n", "c_custkey",
          routes, "route_id", "verts", bufferMeters = 300e3, radius = R)
        .select(col("c_custkey"), col("route_id"),
          round(col("dist_m") / 1000.0, 6).as("dist_km"))
        .orderBy("c_custkey", "route_id")
    }),
    "q88_rings_buffer" -> ((s, dir) => {
      // buffered multipolygon join: signed distance to the nearest
      // edge of ANY ring (a hole's rim is boundary, so points deep
      // inside the hole fall outside a small buffer), negative by
      // even-odd containment; the oracle recomputes every (point,
      // ring-edge) distance brute-force and filters — proving the
      // per-ring grown covers drop no qualifying point
      import graft.operators.SpatialJoins.AoiM
      SpatialJoins.aoiBufferJoinM(custPts(s, dir).select(col("c_custkey"), col("n")),
          "n", Seq(AoiM("m1", MultiRings)), bufferMeters = 500e3, radius = R)
        .select(col("c_custkey"), col("aoi_id"),
          round(col("dist_m") / 1000.0, 6).as("dist_km"))
        .orderBy("c_custkey", "aoi_id")
    }),
    "q90_polygon_table" -> ((s, dir) => {
      // PIP join with polygons as a TABLE (mixed cover levels: the
      // multipolygon's rings cover coarse, the small box fine); the
      // oracle replays every (point, polygon) even-odd test with no
      // cover pruning, so a cover-dropped pair would surface
      import s.implicits._
      import graft.operators.SpatialJoins.AoiM
      val polys = PolyTable.map { case (id, r) =>
        (id, AoiM(id, r).flatRings.toSeq) }.toDF("poly_id", "rings")
      SpatialJoins.polygonJoin(custPts(s, dir).select(col("c_custkey"), col("n")),
          "n", "c_custkey", polys, "poly_id", "rings")
        .select("c_custkey", "poly_id")
        .orderBy("c_custkey", "poly_id")
    }),
    "q91_polygon_buffer" -> ((s, dir) => {
      // buffered polygon-TABLE join: per-ring covers grown by the
      // buffer angle at each polygon's own level; oracle recomputes
      // every signed (point, polygon) boundary distance brute-force
      import s.implicits._
      import graft.operators.SpatialJoins.AoiM
      val polys = PolyTable.map { case (id, r) =>
        (id, AoiM(id, r).flatRings.toSeq) }.toDF("poly_id", "rings")
      SpatialJoins.polygonBufferJoin(custPts(s, dir).select(col("c_custkey"), col("n")),
          "n", "c_custkey", polys, "poly_id", "rings",
          bufferMeters = 400e3, radius = R)
        .select(col("c_custkey"), col("poly_id"),
          round(col("dist_m") / 1000.0, 6).as("dist_km"))
        .orderBy("c_custkey", "poly_id")
    }),
    "q92_polygon_intersect" -> ((s, dir) => {
      // polygon-polygon intersection join: DATA-DERIVED great-circle
      // quads (one per 20th customer — center and half-widths from
      // the key) against the literal polygon table; the oracle
      // replays the kernel's full decomposition (vertex-in both
      // directions + arc-crossing brackets) per pair, no cover
      // pruning, so a cover-alignment miss would surface as a
      // missing row
      import s.implicits._
      import graft.operators.SpatialJoins.AoiM
      val aT = quadTable(s, dir)
      val bT = PolyTable.map { case (id, r) => (id, AoiM(id, r).flatRings.toSeq) }
        .toDF("poly_id", "b_rings")
      SpatialJoins.polygonIntersectJoin(aT, "c_custkey", "a_rings",
          bT, "poly_id", "b_rings")
        .orderBy("c_custkey", "poly_id")
    }),
    "q94_polygon_dissolve" -> ((s, dir) => {
      // dissolve: each quad labeled with the min quad id reachable
      // through chains of pairwise intersection (intersect self-join
      // -> connected components). The oracle replays the symmetric
      // full intersect decomposition per unordered pair — vertex-in
      // both directions + all 16 edge-pair crossing brackets, both
      // data-derived sides symbolic — then propagates min labels
      // through a reachability recursive CTE (the q49 pattern), so
      // both the candidate generation AND the component resolution
      // are independently checked
      SpatialJoins.polygonDissolve(quadTable(s, dir), "c_custkey", "a_rings")
        .orderBy("c_custkey")
    }),
    "q95_nearest_polygon" -> ((s, dir) => {
      // nearest quad per customer (distance-to-region, ties by min
      // quad id) through the escalation ladder — the 200 km start
      // forces most points through several rounds. Oracle: fully
      // symbolic per-edge segment-distance replay (normalized edge
      // normals, perpendicular-foot bracket, endpoint fallback) +
      // convex half-plane containment + argmin window per point
      val quads = quadTable(s, dir)
        .select(col("c_custkey").as("q_id"), col("a_rings").as("q_rings"))
      SpatialJoins.nearestPolygon(
          custPts(s, dir).select(col("c_custkey"), col("n")),
          "n", "c_custkey", quads, "q_id", "q_rings",
          startMeters = 200e3, radius = R)
        .select(col("c_custkey"), col("q_id"),
          round(col("dist_m") / 1000.0, 6).as("dist_km"))
        .orderBy("c_custkey")
    }),
    "q96_nearest_route" -> ((s, dir) => {
      // nearest route per customer over a route TABLE (the route
      // analogue of q95): escalation ladder of corridor joins, 200 km
      // start so most points pay several rounds; candidates carry the
      // exact segment-min distance computed on the ORIGINAL segment
      // endpoints (corridorPieces only adds cover midpoints), so the
      // oracle replays segDistRad verbatim over the symbolically
      // recomputed zig-zag vertices and takes the same (d, id) argmin
      SpatialJoins.nearestRoute(
          custPts(s, dir).select(col("c_custkey"), col("n")),
          "n", "c_custkey", routeTable(s, dir), "r_id", "verts",
          startMeters = 200e3, radius = R)
        .select(col("c_custkey"), col("r_id"),
          round(col("dist_m") / 1000.0, 6).as("dist_km"))
        .orderBy("c_custkey")
    }),
    "q93_zonal_stats" -> ((s, dir) => {
      // zonal statistics: per-polygon aggregates over the exact PIP
      // join (the q90 machinery feeding a partial groupBy). Account
      // balances aggregate as exact integer CENTS (2-decimal values
      // are not representable as doubles, so a double sum would be
      // summation-order-dependent between the two engines); the mean
      // divides the exact cent sum, so every output is
      // order-independent and hash-comparable
      import s.implicits._
      import graft.operators.SpatialJoins.AoiM
      val polys = PolyTable.map { case (id, r) =>
        (id, AoiM(id, r).flatRings.toSeq) }.toDF("poly_id", "rings")
      val pts = custPts(s, dir).select(col("c_custkey"), col("n"),
        round(col("c_acctbal") * 100).cast("long").as("__cents"),
        col("c_acctbal"))
      SpatialJoins.zonalStats(pts, "n", "c_custkey", polys, "poly_id", "rings", Seq(
          count(lit(1)).as("n_points"),
          sum(col("__cents")).as("sum_cents"),
          min(col("c_acctbal")).as("min_bal"),
          max(col("c_acctbal")).as("max_bal"),
          round(sum(col("__cents")) / lit(100.0) / count(lit(1)), 6).as("avg_bal")))
        .orderBy("poly_id")
    }),
    "q71_simplify" -> ((s, dir) => {
      // Douglas-Peucker decimation at a 30 km tolerance over SMOOTH
      // per-user drift tracks (a raw event scatter has no redundant
      // points to drop). No SQL oracle: the argmax-split recursion
      // needs aggregation inside recursion (forbidden in recursive
      // CTEs) — rows-only gate; the exactness evidence is
      // SimplifySpec's independent-reference equivalence.
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("event_id")
      val ev = t(s, dir, "events")
        .withColumn("rk", row_number().over(w).cast("double"))
        .withColumn("lat", radians(
          (col("user_id") % 120 - 60) + col("rk") * 0.02 + sin(col("rk") * 0.5) * 0.4))
        .withColumn("lon", radians(
          (col("user_id") % 300 - 150) + col("rk") * 0.03 + cos(col("rk") * 0.8) * 0.3))
        .withColumn("n", geo.nvec(col("lat"), col("lon")))
      graft.operators.Simplify.douglasPeucker(ev, "user_id", "event_id", "n",
          tolRad = 30000.0 / R)
        .orderBy("user_id", "event_id")
    }),
    "q72_dbscan" -> ((s, dir) => {
      // geodesic DBSCAN at 600 km / minPts 4 — the eps self-join is
      // the disc-cover distance join, components are min-label
      // propagation; the oracle replays all-pairs + recursive
      // reachability, so core/border/noise AND every label must match
      Clustering.dbscan(
          custPts(s, dir).select(col("c_custkey"), col("n")),
          "c_custkey", "n", epsMeters = 600e3, minPts = 4, sphereRadius = R)
        .select(col("c_custkey"),
          coalesce(col("cluster"), lit(-1L)).as("cluster"), col("kind"))
        .orderBy("c_custkey")
    }),
    "q73_idw" -> ((s, dir) => {
      // IDW field interpolation: estimate the customer-balance field
      // at each supplier position from customers within 2000 km —
      // the oracle recomputes every pair brute-force, so the
      // disc-cover candidate pruning must lose no in-range sample.
      // est rounded to 2 decimals: sum order differs between engines
      // and cents-level noise is ~1e-9, so the boundary-straddle
      // probability is negligible (q24's integer-exact trick does
      // not apply to a weighted quotient).
      graft.operators.Raster.idw(
          suppPts(s, dir).select(col("s_suppkey"), col("s_n")), "s_n",
          custPts(s, dir).select(col("n"), col("c_acctbal")), "n", "c_acctbal",
          radiusMeters = 2000e3, power = 2.0, minDistMeters = 1.0,
          sphereRadius = R, queryIdCol = Some("s_suppkey"))
        .select(col("s_suppkey"),
          coalesce(round(col("est"), 2), lit(-999.0)).as("est"),
          col("n_samples"))
        .orderBy("s_suppkey")
    }),
    "q74_joint_neardups" -> ((s, dir) => {
      // joint image+caption dedup: fingerprint-hamming candidates
      // (q45's banded join, exact by pigeonhole) verified by exact
      // caption trigram Jaccard — a pair must be near on BOTH
      // modalities. The gate fingerprints the documents corpus with
      // the md5-basis simhash so DuckDB can replay both predicates.
      val sigs = tSpread(s, dir, "documents")
        .select(col("doc_id"), Dedup.simHashMd5(col("text")).as("fp"),
          col("text"))
      Dedup.jointNearDups(sigs, "doc_id", "fp", "text",
          maxDist = 3, minJaccard = 0.975, bits = 60, bands = 6)
        .select(col("id_a"), col("id_b"), col("hamming"),
          round(col("jaccard"), 6).as("jaccard"))
        .orderBy("id_a", "id_b")
    }),
    "q75_snap_route" -> ((s, dir) => {
      // map-matching-lite: snap each customer to the nearest segment
      // across two literal routes — one kernel call per (point,
      // route) in a single map-only projection, winner by `least`
      // over (dist, route) structs; the oracle replays every segment
      // and takes the same (d, route, seg) argmin
      val routes = Seq(SpatialJoins.Route("alpha", RouteA),
        SpatialJoins.Route("beta", RouteB))
      SpatialJoins.snapToRoutes(
          custPts(s, dir).select(col("c_custkey"), col("n")), "n", routes, R)
        .select(col("c_custkey"), col("route_id"), col("seg"),
          round(col("dist_m") / 1000.0, 6).as("dist_km"),
          round(geo.latDeg(col("snap_n")), 6).as("snap_lat"),
          round(geo.lonDeg(col("snap_n")), 6).as("snap_lon"))
        .orderBy("c_custkey")
    }),
    "q77_convex_hull" -> ((s, dir) => {
      // spherical convex hull per group (customers restricted to a
      // hemispheric window, 5 hash groups): gnomonic monotone-chain
      // kernel vs the oracle's O(n^3) vertex characterization —
      // completely different formulations that must agree id-for-id
      val pts = custPts(s, dir)
        .filter(col("lat") > lit(math.toRadians(10.0)) &&
          col("lat") < lit(math.toRadians(70.0)) &&
          col("lon") > lit(math.toRadians(-40.0)) &&
          col("lon") < lit(math.toRadians(40.0)))
        .withColumn("grp", (col("c_custkey") % 5).cast("int"))
      graft.operators.Hull.convexHull(pts, "grp", "c_custkey", "n")
        .orderBy("grp", "c_custkey")
    }),
    "q78_tile_assign" -> ((s, dir) => {
      // web-mercator (slippy z/x/y) per-image tile assignment at
      // zooms 2..8: the engine projects ONCE at zoom 8 and derives
      // coarser tiles by bit-shift and quadkeys by substring; the
      // oracle recomputes EVERY zoom directly from lat/lon — equality
      // machine-checks the shift/prefix derivation. Full-range lats
      // (+-90 deg) exercise the +-85.05 deg mercator clamp rows.
      graft.index.WebMercator.assign(
          custPts(s, dir).select(col("c_custkey").as("k"), col("lat"), col("lon")),
          "lat", "lon", finest = 8, coarsest = 2)
        .select("k", "zoom", "tx", "ty", "qk")
        .orderBy("zoom", "k")
    }),
    "q68_url_normalize" -> ((s, dir) => {
      // web-corpus URL plumbing: the corpus carries no URLs, so the
      // gate PLANTS deterministic ones (upper-case host, default
      // port, tracking params, fragment, trailing slash — one of
      // each normalization rule) with the identical expression in
      // the oracle SQL
      val planted = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 2 === 0,
            concat(lit(" see https://EX"), col("doc_id") % 7,
              lit(".COM:443/a"), col("doc_id"),
              lit("?utm_source=x&id="), col("doc_id"), lit("#f")))
            .otherwise(concat(lit(" via http://site"), col("doc_id") % 5,
              lit(".org:80/p"), col("doc_id"), lit("/"))),
          when(col("doc_id") % 3 === 0,
            lit(" plus http://x.io/q?utm_campaign=z")).otherwise(lit("")))
          .as("text"))
      planted.select(col("doc_id"),
          WebText.urlCount(col("text")).cast("long").as("n_urls"),
          WebText.urlHost(regexp_extract(col("text"), WebText.UrlRe, 0)).as("host"),
          WebText.urlKey(regexp_extract(col("text"), WebText.UrlRe, 0)).as("url_key"))
        .orderBy("doc_id")
    }),
    "q69_seq_packing" -> ((s, dir) => {
      // greedy in-id-order packing into 200-token bins over 8 md5
      // shards; fill is the bin's running token count after each doc
      val docs = t(s, dir, "documents")
        .filter(col("text").isNotNull)
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("len"))
      Packing.greedyPack(docs, "doc_id", "len", capacity = 200, shards = 8)
        .orderBy("doc_id")
    }),
    "q50_asof_join" -> ((s, dir) => {
      // point-in-time join: each click matched to the SAME user's most
      // recent purchase at-or-before it (event_id as the time axis),
      // within a 3000-id tolerance. AsOfJoin's single-shuffle
      // union+window plan vs the oracle's quadratic range-join + rank.
      val ev = t(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_event"), col("user_id"), col("value"))
      AsOfJoin.asOfJoin(clicks, purchases, Seq("user_id"),
          "event_id", "p_event", direction = "backward", tolerance = Some(3000.0))
        .select(col("event_id"), col("user_id"), col("r_p_event"),
          round(col("r_value"), 6).as("r_value"))
        .orderBy("event_id")
    }),
    "q51_polygon_area" -> ((s, dir) => {
      // per-row spherical pentagon (vertices derived from the customer
      // key): signed fan excess + enclosed area via the van
      // Oosterom-Strackee solid-angle form (geo.polygonExcess)
      val verts = (0 until 5).map { j =>
        val ang = 2.0 * math.Pi * j / 5.0
        geo.nvec(col("lat") * 0.9 + lit(0.02 * math.cos(ang)),
          col("lon") * 0.98 + lit(0.02 * math.sin(ang)))
      }
      custPts(s, dir).select(col("c_custkey"),
          round(geo.polygonExcess(verts), 9).as("excess_sr"),
          round(geo.polygonArea(verts) / 1e6, 3).as("area_km2"))
        .orderBy("c_custkey")
    }),
    "q52_ngram_jaccard" -> ((s, dir) => {
      // exact word-trigram Jaccard — the verification-stage primitive
      // behind the LSH estimates — against (a) a 60%-character-prefix
      // variant of the same doc and (b) the next doc (null for the
      // last). Values are exact rationals, so the oracle compare is
      // float-risk-free.
      val d = t(s, dir, "documents")
      val trunc = col("text").substr(lit(1),
        floor(col("n_chars") * 3 / 5).cast("int"))
      val base = d.select(col("doc_id"), col("text"), trunc.as("ttrunc"))
      val nxt = d.select((col("doc_id") - 1).as("doc_id"), col("text").as("tnext"))
      base.join(nxt, Seq("doc_id"), "left")
        .select(col("doc_id"),
          round(Dedup.ngramJaccardFast(col("text"), col("ttrunc")), 6).as("j_trunc"),
          round(Dedup.ngramJaccardFast(col("text"), col("tnext")), 6).as("j_next"))
        .orderBy("doc_id")
    }),
    "q97_route_cross" -> ((s, dir) => {
      // route-route intersection self-join over the dense route table
      // (a.r_id < b.r_id): cover-cell candidates + exact segsCross on
      // the original segment endpoints. The oracle replays the FULL
      // symmetric 2x2 segment-pair crossing decomposition (normals,
      // u = na x nb, both bracket orientations) with both vertex sets
      // symbolic — no cover pruning, so a cover/level-alignment miss
      // surfaces as a missing pair
      val a = routeTableDense(s, dir)
      val b = routeTableDense(s, dir)
        .select(col("r_id").as("b_id"), col("verts").as("b_verts"))
      graft.operators.SpatialJoins.routeIntersectJoin(
          a, "r_id", "verts", b, "b_id", "b_verts", pieceMeters = 500e3,
          orderedPairs = true)
        .filter(col("r_id") < col("b_id"))
        .orderBy("r_id", "b_id")
    }),
    "q98_track_dwell" -> ((s, dir) => {
      // dwell seconds (event_id units) inside the q81 fences along
      // the same jittered tracks: left-constant interval attribution,
      // zero-dwell (track, fence) rows included. Interval gaps are
      // exact integers, so the double sums are order-independent and
      // hash-exact against the oracle's window + CASE replay
      val ev = t(s, dir, "events")
        .withColumn("lat", latRad(col("user_id") * 13 + 1) * 0.95 +
          (((col("event_id") * 2654435761L) % 4001L) / 2000.0 - 1.0) * 0.01)
        .withColumn("lon", lonRad(col("user_id") * 13 + 1) * 0.97 +
          (((col("event_id") * 40503L) % 4001L) / 2000.0 - 1.0) * 0.01)
        .withColumn("nv", geo.nvec(col("lat"), col("lon")))
      graft.operators.SpatialJoins.trackDwell(ev, "user_id", "event_id",
          "nv", geofenceAois)
        .orderBy("user_id", "aoi_id")
    }),
    "q99_polygon_shape" -> ((s, dir) => {
      // perimeter + isoperimetric compactness (4*pi*A/P^2) of the
      // q51 pentagon family — the length companion of the area gate,
      // mirrored edge-by-edge at the exact floating-op order (eq 16
      // atan2 terms, left-associated sum, shared radius constant)
      val verts = (0 until 5).map { j =>
        val ang = 2.0 * math.Pi * j / 5.0
        geo.nvec(col("lat") * 0.9 + lit(0.02 * math.cos(ang)),
          col("lon") * 0.98 + lit(0.02 * math.sin(ang)))
      }
      val per = geo.polygonPerimeter(verts)
      val area = geo.polygonArea(verts)
      custPts(s, dir).select(col("c_custkey"),
          round(per / 1000.0, 6).as("perim_km"),
          round(lit(4.0 * math.Pi) * area / (per * per), 9).as("compactness"))
        .orderBy("c_custkey")
    })
  )

  // ---- DuckDB mirrors ----------------------------------------------

  private def nvecSqlConst(latDeg: Double, lonDeg: Double): (String, String, String) = {
    val n = graft.geo.Gade.latLonToNvec(math.toRadians(latDeg), math.toRadians(lonDeg))
    (fmt(n.x), fmt(n.y), fmt(n.z))
  }

  /** Fence boxes for q81, shared by the gate and its oracle: centered
    * on the q60-track centers of users 3 and 6, lat half-width
    * 0.004 rad (INSIDE the tracks' +-0.01 rad jitter, so the fence is
    * crossed repeatedly at every SF), lon half-width 0.03 rad
    * (outside it, so latitude drives the transitions). */
  private lazy val geofenceAois: Seq[graft.operators.SpatialJoins.Aoi] = {
    def center(uid: Long): (Double, Double) =
      (latRadScalar(uid * 13 + 1) * 0.95, lonRadScalar(uid * 13 + 1) * 0.97)
    Seq(3L, 6L).map { uid =>
      val (la, lo) = center(uid)
      val (dla, dlo) = (0.004, 0.03)
      graft.operators.SpatialJoins.Aoi(s"fence_u$uid", Seq(
        (math.toDegrees(la - dla), math.toDegrees(lo - dlo)),
        (math.toDegrees(la - dla), math.toDegrees(lo + dlo)),
        (math.toDegrees(la + dla), math.toDegrees(lo + dlo)),
        (math.toDegrees(la + dla), math.toDegrees(lo - dlo))))
    }
  }

  /** Anti-diagonal recursive-CTE mirror of the track-pair DP kernels
    * (TrajectoryKernels.frechet/dtw) over the q60 events-derived
    * tracks and pair list. Row-major the DP has a within-row prefix
    * dependency no recursive CTE can express; iterated by
    * ANTI-DIAGONALS, diagonal s depends only on diagonals s-1 (up /
    * left preds) and s-2 (diagonal pred), so the recursion carries
    * TWO generations: each step computes diagonal s+1 from the
    * working set (age-0 rows = diagonal s, age-1 rows = s-1 re-aged)
    * and re-emits diagonal s as age 1. All pairs march in lockstep
    * (every pair's diagonal s materializes at global step s), shorter
    * pairs just stop producing. `update` is the DP combine over c.d
    * (the great-circle cost) and min(w.val) (the best predecessor):
    * `greatest(c.d, min(w.val))` = Frechet, `c.d + min(w.val)` = DTW
    * — the additions then happen in the SAME order as the kernel's
    * rolling-row DP, so agreement is expected to the rounding digit.
    */
  private def dpTrackOracleSql(update: String, outCol: String): String = {
    val gc =
      """atan2(sqrt((ay*bz - az*by)*(ay*bz - az*by) + (az*bx - ax*bz)*(az*bx - ax*bz)
        | + (ax*by - ay*bx)*(ax*by - ay*bx)), ax*bx + ay*by + az*bz)""".stripMargin.replace("\n", " ")
    s"""WITH RECURSIVE p AS (SELECT user_id, event_id,
       |   ${latSql("(user_id * 13 + 1)")} * 0.95
       |     + (((event_id * 2654435761) % 4001) / 2000.0 - 1.0) * 0.01 AS lat,
       |   ${lonSql("(user_id * 13 + 1)")} * 0.97
       |     + (((event_id * 40503) % 4001) / 2000.0 - 1.0) * 0.01 AS lon FROM events),
       | v AS (SELECT user_id, event_id, cos(lat)*cos(lon) AS nx,
       |   cos(lat)*sin(lon) AS ny, sin(lat) AS nz FROM p),
       | us AS (SELECT DISTINCT user_id FROM events),
       | pr AS (SELECT ua.user_id AS a, ub.user_id AS b FROM us ua
       |   JOIN us ub ON ub.user_id = ua.user_id + 1 WHERE ua.user_id % 3 = 0),
       | ia AS (SELECT pr.a, pr.b, row_number() OVER (PARTITION BY pr.a, pr.b ORDER BY va.event_id) - 1 AS i,
       |   va.nx AS ax, va.ny AS ay, va.nz AS az FROM pr JOIN v va ON va.user_id = pr.a),
       | ib AS (SELECT pr.a, pr.b, row_number() OVER (PARTITION BY pr.a, pr.b ORDER BY vb.event_id) - 1 AS j,
       |   vb.nx AS bx, vb.ny AS by, vb.nz AS bz FROM pr JOIN v vb ON vb.user_id = pr.b),
       | c AS (SELECT ia.a, ia.b, i, j, $gc AS d
       |   FROM ia JOIN ib ON ib.a = ia.a AND ib.b = ia.b),
       | dp AS (
       |   SELECT a, b, i, j, d AS val, 0 AS age FROM c WHERE i = 0 AND j = 0
       |   UNION ALL
       |   SELECT * FROM (
       |     SELECT c.a, c.b, c.i, c.j, $update AS val, 0 AS age
       |     FROM c JOIN dp w ON w.a = c.a AND w.b = c.b
       |       AND ((w.age = 0 AND w.i + w.j = c.i + c.j - 1
       |             AND ((w.i = c.i - 1 AND w.j = c.j) OR (w.i = c.i AND w.j = c.j - 1)))
       |         OR (w.age = 1 AND w.i = c.i - 1 AND w.j = c.j - 1))
       |     WHERE c.i + c.j = (SELECT max(i + j) FROM dp WHERE age = 0) + 1
       |     GROUP BY c.a, c.b, c.i, c.j, c.d
       |     UNION ALL
       |     SELECT a, b, i, j, val, 1 AS age FROM dp WHERE age = 0
       |   )
       | ),
       | nn AS (SELECT a, b, max(i) AS ni FROM ia GROUP BY a, b),
       | mm AS (SELECT a, b, max(j) AS mj FROM ib GROUP BY a, b)
       | SELECT dp.a, dp.b, round(dp.val * ${fmt(graft.geo.Ellipsoids.MeanEarthRadius)}, 6) AS $outCol
       | FROM dp JOIN nn ON nn.a = dp.a AND nn.b = dp.b
       |   JOIN mm ON mm.a = dp.a AND mm.b = dp.b
       | WHERE dp.age = 0 AND dp.i = nn.ni AND dp.j = mm.mj
       | ORDER BY dp.a""".stripMargin.replace("\n", " ")
  }

  def oracleSql: Map[String, String] = {
    val gcOslo =
      s"""atan2(sqrt((ny*${fmt(oslo.z)} - nz*${fmt(oslo.y)})*(ny*${fmt(oslo.z)} - nz*${fmt(oslo.y)})
         | + (nz*${fmt(oslo.x)} - nx*${fmt(oslo.z)})*(nz*${fmt(oslo.x)} - nx*${fmt(oslo.z)})
         | + (nx*${fmt(oslo.y)} - ny*${fmt(oslo.x)})*(nx*${fmt(oslo.y)} - ny*${fmt(oslo.x)})),
         | nx*${fmt(oslo.x)} + ny*${fmt(oslo.y)} + nz*${fmt(oslo.z)})""".stripMargin.replace("\n", " ")
    // cross-track path constants: c = unit(a1 x a2)
    val a1 = graft.geo.Gade.latLonToNvec(math.toRadians(20.0), math.toRadians(-30.0))
    val a2 = graft.geo.Gade.latLonToNvec(math.toRadians(40.0), math.toRadians(10.0))

    // WGS84 constants for the ellipsoidal azimuth chain (eq 22 +
    // NED decompose), inlined at the same double values the Scala
    // kernel computes
    val wa = graft.geo.Ellipsoids.WGS84.a
    val wf = graft.geo.Ellipsoids.WGS84.f
    val omm = fmt((1.0 - wf) * (1.0 - wf))
    val bPol = fmt(wa * (1.0 - wf))

    /** Course-over-ground chain over a CTE `src`(user_id, <key>, nx,
      * ny, nz): midpoint smoothing, eq-22 p-vectors, NED decompose,
      * atan2(east, north) — the SQL mirror of Tracks.courseOverGround.
      * Emits the CTE tail + final SELECT (user_id, <key>, cog_rad).
      */
    def cogChainSql(src: String, keyCol: String): String =
      s"""w2 AS (SELECT user_id, $keyCol, nx, ny, nz,
         |   lag(nx) OVER win AS px, lag(ny) OVER win AS py, lag(nz) OVER win AS pz,
         |   lead(nx) OVER win AS qx, lead(ny) OVER win AS qy, lead(nz) OVER win AS qz
         |   FROM $src WINDOW win AS (PARTITION BY user_id ORDER BY $keyCol)),
         | mid AS (SELECT user_id, $keyCol,
         |   CASE WHEN px IS NULL THEN nx ELSE px + nx END AS ax,
         |   CASE WHEN py IS NULL THEN ny ELSE py + ny END AS ay,
         |   CASE WHEN pz IS NULL THEN nz ELSE pz + nz END AS az,
         |   CASE WHEN qx IS NULL THEN nx ELSE nx + qx END AS bx,
         |   CASE WHEN qy IS NULL THEN ny ELSE ny + qy END AS by,
         |   CASE WHEN qz IS NULL THEN nz ELSE nz + qz END AS bz
         |   FROM w2 WHERE NOT (px IS NULL AND qx IS NULL)),
         | un AS (SELECT user_id, $keyCol,
         |   ax/sqrt(ax*ax+ay*ay+az*az) AS fx, ay/sqrt(ax*ax+ay*ay+az*az) AS fy, az/sqrt(ax*ax+ay*ay+az*az) AS fz,
         |   bx/sqrt(bx*bx+by*by+bz*bz) AS tx, by/sqrt(bx*bx+by*by+bz*bz) AS ty, bz/sqrt(bx*bx+by*by+bz*bz) AS tz
         |   FROM mid),
         | pv AS (SELECT user_id, $keyCol, fx, fy, fz,
         |   $bPol / sqrt(fz*fz + (fx*fx + fy*fy) / $omm) AS sf,
         |   $bPol / sqrt(tz*tz + (tx*tx + ty*ty) / $omm) AS st,
         |   tx, ty, tz FROM un),
         | dl AS (SELECT user_id, $keyCol, fx, fy, fz,
         |   (st*tx)/$omm - (sf*fx)/$omm AS dx,
         |   (st*ty)/$omm - (sf*fy)/$omm AS dy,
         |   st*tz - sf*fz AS dz FROM pv),
         | frame AS (SELECT user_id, $keyCol, dx, dy, dz, fx, fy, fz,
         |   CASE WHEN sqrt(fy*fy + fx*fx) = 0 THEN 0.0 ELSE -fy/sqrt(fy*fy + fx*fx) END AS ex,
         |   CASE WHEN sqrt(fy*fy + fx*fx) = 0 THEN 1.0 ELSE fx/sqrt(fy*fy + fx*fx) END AS ey
         |   FROM dl),
         | ned AS (SELECT user_id, $keyCol,
         |   (-ey*fz)*dx + (ex*fz)*dy + (ey*fx - ex*fy)*dz AS dn,
         |   ex*dx + ey*dy AS de FROM frame)
         | SELECT user_id, $keyCol, round(atan2(de, dn), 6) AS cog_rad
         | FROM ned ORDER BY user_id, $keyCol""".stripMargin.replace("\n", " ")

    Map(
      "q01_agg_pricing" ->
        """SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty,
          | round(sum(l_extendedprice), 2) AS sum_price,
          | (CAST(sum(CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT) * 10000) // count(*) AS avg_disc_e6,
          | count(*) AS cnt FROM lineitem GROUP BY l_returnflag, l_linestatus
          | ORDER BY l_returnflag, l_linestatus""".stripMargin.replace("\n", " "),
      "q02_join_revenue" ->
        """SELECT n_name, round(sum(o_totalprice), 2) AS revenue, count(*) AS n_orders
          | FROM customer JOIN orders ON c_custkey = o_custkey
          | JOIN nation ON c_nationkey = n_nationkey
          | GROUP BY n_name ORDER BY n_name""".stripMargin.replace("\n", " "),
      "q03_top_orders" ->
        """SELECT o_custkey, rn, o_orderkey, o_totalprice FROM (
          |   SELECT o_custkey, o_orderkey, o_totalprice,
          |     row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
          |   FROM orders) WHERE rn <= 2 ORDER BY o_custkey, rn""".stripMargin.replace("\n", " "),
      "q04_empty_orders" ->
        """SELECT o_orderkey FROM orders WHERE NOT EXISTS
          | (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey) ORDER BY o_orderkey""".stripMargin.replace("\n", " "),
      "q05_brand_setop" ->
        """SELECT p_brand FROM (
          | SELECT DISTINCT p_brand FROM part WHERE p_size > 30
          | EXCEPT SELECT DISTINCT p_brand FROM part WHERE p_size > 49) ORDER BY p_brand""".stripMargin.replace("\n", " "),
      "q06_events_delta" ->
        """SELECT event_id, user_id, round(coalesce(value - lag(value, 1) OVER
          | (PARTITION BY user_id ORDER BY event_id), 0.0), 6) AS delta
          | FROM events ORDER BY event_id""".stripMargin.replace("\n", " "),
      "q07_gc_distance" ->
        (ptsSql("customer", "c_custkey") +
        s"SELECT k AS c_custkey, round(($gcOslo) * ${fmt(R)} / 1000.0, 6) AS dist_km FROM pts ORDER BY c_custkey"),
      "q08_chord_distance" ->
        (ptsSql("customer", "c_custkey") +
        s"""SELECT k AS c_custkey, round(sqrt((nx - ${fmt(oslo.x)})*(nx - ${fmt(oslo.x)})
           | + (ny - ${fmt(oslo.y)})*(ny - ${fmt(oslo.y)})
           | + (nz - ${fmt(oslo.z)})*(nz - ${fmt(oslo.z)})) * ${fmt(R)} / 1000.0, 6) AS dist_km
           | FROM pts ORDER BY c_custkey""".stripMargin.replace("\n", " ")),
      "q09_azimuth" ->
        (ptsSql("customer", "c_custkey") +
        s"""SELECT k AS c_custkey, round(atan2(
           |   cos(${fmt(OsloLat)}) * sin(${fmt(OsloLon)} - lon),
           |   cos(lat) * sin(${fmt(OsloLat)}) - sin(lat) * cos(${fmt(OsloLat)}) * cos(${fmt(OsloLon)} - lon)
           | ), 6) AS az_rad FROM pts ORDER BY c_custkey""".stripMargin.replace("\n", " ")),
      "q10_cross_track" -> {
        val c = graft.geo.VecMath.unit(a1 cross a2)
        ptsSql("customer", "c_custkey") +
          s"""SELECT k AS c_custkey, round(asin(-(${fmt(c.x)}*nx + ${fmt(c.y)}*ny + ${fmt(c.z)}*nz))
             | * ${fmt(R)} / 1000.0, 6) AS xtd_km FROM pts ORDER BY c_custkey""".stripMargin.replace("\n", " ")
      },
      "q11_midpoint" ->
        (ptsSql("customer", "c_custkey") +
          s""", mid AS (SELECT k, nx + 0.5*(${fmt(oslo.x)} - nx) AS mx,
             |  ny + 0.5*(${fmt(oslo.y)} - ny) AS my, nz + 0.5*(${fmt(oslo.z)} - nz) AS mz FROM pts)
             | SELECT k AS c_custkey, round(degrees(atan2(mz, sqrt(mx*mx + my*my))), 6) AS mlat,
             |  round(degrees(atan2(my, mx)), 6) AS mlon FROM mid ORDER BY c_custkey""".stripMargin.replace("\n", " ")),
      "q12_sphere_reckon" ->
        (ptsSql("customer", "c_custkey") +
          s""", geom AS (SELECT k, nx, ny, nz, lon AS az,
             |   ((k % 97) / 97.0) * 0.5 + 0.01 AS dr,
             |   sqrt(ny*ny + nx*nx) AS s FROM pts),
             | frame AS (SELECT k, nx, ny, nz, az, dr,
             |   -ny/s AS ex, nx/s AS ey FROM geom),
             | north AS (SELECT k, nx, ny, nz, az, dr, ex, ey,
             |   -nz*ey AS tx, nz*ex AS ty, nx*ey - ny*ex AS tz FROM frame),
             | dest AS (SELECT k,
             |   nx*cos(dr) + (tx*cos(az) + ex*sin(az))*sin(dr) AS bx,
             |   ny*cos(dr) + (ty*cos(az) + ey*sin(az))*sin(dr) AS by,
             |   nz*cos(dr) + (tz*cos(az) + 0.0*sin(az))*sin(dr) AS bz FROM north)
             | SELECT k AS c_custkey, round(degrees(atan2(bz, sqrt(bx*bx + by*by))), 6) AS dlat,
             |  round(degrees(atan2(by, bx)), 6) AS dlon FROM dest ORDER BY c_custkey""".stripMargin.replace("\n", " ")),
      "q13_mean_position" ->
        (s"""WITH keyed AS (SELECT c_custkey AS k, c_nationkey,
            |  ${latSql("c_custkey")} AS lat, ${lonSql("c_custkey")} AS lon FROM customer),
            | pts AS (SELECT k, c_nationkey, cos(lat)*cos(lon) AS nx, cos(lat)*sin(lon) AS ny, sin(lat) AS nz FROM keyed),
            | sums AS (SELECT c_nationkey, sum(nx) AS sx, sum(ny) AS sy, sum(nz) AS sz, count(*) AS n_pts FROM pts GROUP BY c_nationkey)
            | SELECT c_nationkey, round(degrees(atan2(sz, sqrt(sx*sx + sy*sy))), 6) AS mlat,
            |  round(degrees(atan2(sy, sx)), 6) AS mlon, n_pts FROM sums ORDER BY c_nationkey""".stripMargin.replace("\n", " ")),
      "q14_cell_ids" ->
        (ptsSql("customer", "c_custkey") +
          s""", faced AS (SELECT k, nx, ny, nz,
             |  CASE WHEN abs(nx) >= abs(ny) AND abs(nx) >= abs(nz) THEN (CASE WHEN nx >= 0 THEN 0 ELSE 1 END)
             |       WHEN abs(ny) >= abs(nz) THEN (CASE WHEN ny >= 0 THEN 2 ELSE 3 END)
             |       ELSE (CASE WHEN nz >= 0 THEN 4 ELSE 5 END) END AS face FROM pts),
             | uv AS (SELECT k, face,
             |  CASE face WHEN 0 THEN ny/nx WHEN 1 THEN nz/(-nx) WHEN 2 THEN nz/ny
             |            WHEN 3 THEN nx/(-ny) WHEN 4 THEN nx/nz ELSE ny/(-nz) END AS u,
             |  CASE face WHEN 0 THEN nz/nx WHEN 1 THEN ny/(-nx) WHEN 2 THEN nx/ny
             |            WHEN 3 THEN nz/(-ny) WHEN 4 THEN ny/nz ELSE nx/(-nz) END AS v FROM faced),
             | ij AS (SELECT k, face,
             |  least(63, greatest(0, CAST(floor((u + 1.0) * 0.5 * 64) AS BIGINT))) AS i,
             |  least(63, greatest(0, CAST(floor((v + 1.0) * 0.5 * 64) AS BIGINT))) AS j FROM uv)
             | SELECT k AS c_custkey, face * 144115188075855872 + 6 * 4503599627370496
             |  + i * 67108864 + j AS cell FROM ij ORDER BY c_custkey""".stripMargin.replace("\n", " ")),
      "q15_pip" -> {
        def edgesSql(aoi: Seq[(Double, Double)], id: String): String = {
          val vs = aoi.map { case (la, lo) =>
            graft.geo.Gade.latLonToNvec(math.toRadians(la), math.toRadians(lo)) }
          val conds = vs.indices.map { i =>
            val a = vs(i); val b = vs((i + 1) % vs.length)
            val c = a cross b
            s"(${fmt(c.x)}*nx + ${fmt(c.y)}*ny + ${fmt(c.z)}*nz > 0)"
          }
          s"SELECT k AS c_custkey, '$id' AS aoi_id FROM pts WHERE ${conds.mkString(" AND ")}"
        }
        val boxA = Seq((-20.0, -40.0), (-20.0, 10.0), (25.0, 10.0), (25.0, -40.0))
        val boxB = Seq((30.0, 60.0), (30.0, 120.0), (60.0, 120.0), (60.0, 60.0))
        ptsSql("customer", "c_custkey") +
          s"SELECT * FROM (${edgesSql(boxA, "box_a")} UNION ALL ${edgesSql(boxB, "box_b")}) ORDER BY c_custkey, aoi_id"
      },
      "q16_distance_join" ->
        (s"""WITH ck AS (SELECT c_custkey AS k, ${latSql("c_custkey")} AS lat, ${lonSql("c_custkey")} AS lon FROM customer),
            | c AS (SELECT k, cos(lat)*cos(lon) AS nx, cos(lat)*sin(lon) AS ny, sin(lat) AS nz FROM ck),
            | sk AS (SELECT s_suppkey AS sk2, ${latSql(suppKeySql)} AS lat, ${lonSql(suppKeySql)} AS lon FROM supplier),
            | sp AS (SELECT sk2, cos(lat)*cos(lon) AS sx, cos(lat)*sin(lon) AS sy, sin(lat) AS sz FROM sk),
            | pairs AS (SELECT k, atan2(sqrt((ny*sz - nz*sy)*(ny*sz - nz*sy) + (nz*sx - nx*sz)*(nz*sx - nx*sz)
            |   + (nx*sy - ny*sx)*(nx*sy - ny*sx)), nx*sx + ny*sy + nz*sz) * ${fmt(R)} AS d
            |   FROM c CROSS JOIN sp)
            | SELECT k AS c_custkey, count(*) AS n_close FROM pairs WHERE d <= 1000000.0
            | GROUP BY k ORDER BY c_custkey""".stripMargin.replace("\n", " ")),
      "q17_knn_suppliers" ->
        (s"""WITH ck AS (SELECT c_custkey AS k, ${latSql("c_custkey")} AS lat, ${lonSql("c_custkey")} AS lon FROM customer),
            | c AS (SELECT k, cos(lat)*cos(lon) AS nx, cos(lat)*sin(lon) AS ny, sin(lat) AS nz FROM ck),
            | sk AS (SELECT s_suppkey AS sk2, ${latSql(suppKeySql)} AS lat, ${lonSql(suppKeySql)} AS lon FROM supplier),
            | sp AS (SELECT sk2, cos(lat)*cos(lon) AS sx, cos(lat)*sin(lon) AS sy, sin(lat) AS sz FROM sk),
            | pairs AS (SELECT k, sk2, atan2(sqrt((ny*sz - nz*sy)*(ny*sz - nz*sy) + (nz*sx - nx*sz)*(nz*sx - nx*sz)
            |   + (nx*sy - ny*sx)*(nx*sy - ny*sx)), nx*sx + ny*sy + nz*sz) * ${fmt(R)} AS d
            |   FROM c CROSS JOIN sp),
            | ranked AS (SELECT k, sk2, d, row_number() OVER (PARTITION BY k ORDER BY d, sk2) AS rank FROM pairs)
            | SELECT k AS c_custkey, rank, sk2 AS s_suppkey, round(d / 1000.0, 6) AS dist_km
            | FROM ranked WHERE rank <= 3 ORDER BY c_custkey, rank""".stripMargin.replace("\n", " ")),
      "q46_knn_landmarks" ->
        (s"""WITH ck AS (SELECT c_custkey AS k, ${latSql("c_custkey")} AS lat, ${lonSql("c_custkey")} AS lon FROM customer),
            | c AS (SELECT k, cos(lat)*cos(lon) AS nx, cos(lat)*sin(lon) AS ny, sin(lat) AS nz FROM ck),
            | lk AS (SELECT t.i AS lm, ((-60.0 + 24.0 * (t.i % 6)) / 180.0) * pi() AS lat,
            |   ((-150.0 + 72.0 * (t.i // 6)) / 180.0) * pi() AS lon FROM generate_series(0, 23) t(i)),
            | lp AS (SELECT lm, cos(lat)*cos(lon) AS sx, cos(lat)*sin(lon) AS sy, sin(lat) AS sz FROM lk),
            | pairs AS (SELECT k, lm, atan2(sqrt((ny*sz - nz*sy)*(ny*sz - nz*sy) + (nz*sx - nx*sz)*(nz*sx - nx*sz)
            |   + (nx*sy - ny*sx)*(nx*sy - ny*sx)), nx*sx + ny*sy + nz*sz) * ${fmt(R)} AS d
            |   FROM c CROSS JOIN lp),
            | ranked AS (SELECT k, lm, d, row_number() OVER (PARTITION BY k ORDER BY d, lm) AS rank FROM pairs)
            | SELECT k AS c_custkey, rank, lm AS lm_id, round(d / 1000.0, 6) AS dist_km
            | FROM ranked WHERE rank <= 3 ORDER BY c_custkey, rank""".stripMargin.replace("\n", " ")),
      "q24_rasterize" ->
        (ptsSql("customer", "c_custkey") +
          s""", faced AS (SELECT k, nx, ny, nz,
             |  CASE WHEN abs(nx) >= abs(ny) AND abs(nx) >= abs(nz) THEN (CASE WHEN nx >= 0 THEN 0 ELSE 1 END)
             |       WHEN abs(ny) >= abs(nz) THEN (CASE WHEN ny >= 0 THEN 2 ELSE 3 END)
             |       ELSE (CASE WHEN nz >= 0 THEN 4 ELSE 5 END) END AS face FROM pts),
             | uv AS (SELECT k, face,
             |  CASE face WHEN 0 THEN ny/nx WHEN 1 THEN nz/(-nx) WHEN 2 THEN nz/ny
             |            WHEN 3 THEN nx/(-ny) WHEN 4 THEN nx/nz ELSE ny/(-nz) END AS u,
             |  CASE face WHEN 0 THEN nz/nx WHEN 1 THEN ny/(-nx) WHEN 2 THEN nx/ny
             |            WHEN 3 THEN nz/(-ny) WHEN 4 THEN ny/nz ELSE nx/(-nz) END AS v FROM faced),
             | ij AS (SELECT k, face,
             |  least(15, greatest(0, CAST(floor((u + 1.0) * 0.5 * 16) AS BIGINT))) AS i,
             |  least(15, greatest(0, CAST(floor((v + 1.0) * 0.5 * 16) AS BIGINT))) AS j FROM uv),
             | cellids AS (SELECT k, face * 144115188075855872 + 4 * 4503599627370496
             |  + i * 67108864 + j AS cell FROM ij)
             | SELECT cell, count(*) AS cnt,
             |  (CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) * 10000) // count(*) AS avg_bal_e6
             | FROM cellids JOIN customer ON c_custkey = k
             | GROUP BY cell ORDER BY cell""".stripMargin.replace("\n", " ")),
      "q21_intersect" -> {
        val b1 = graft.geo.Gade.latLonToNvec(math.toRadians(50.0), math.toRadians(-40.0))
        val b2 = graft.geo.Gade.latLonToNvec(math.toRadians(60.0), math.toRadians(20.0))
        val cb = b1 cross b2
        ptsSql("customer", "c_custkey") +
          s""", ca AS (SELECT k, ny*${fmt(oslo.z)} - nz*${fmt(oslo.y)} AS ax,
             |  nz*${fmt(oslo.x)} - nx*${fmt(oslo.z)} AS ay,
             |  nx*${fmt(oslo.y)} - ny*${fmt(oslo.x)} AS az, nx, ny, nz FROM pts),
             | tv AS (SELECT k, ay*${fmt(cb.z)} - az*${fmt(cb.y)} AS tx,
             |  az*${fmt(cb.x)} - ax*${fmt(cb.z)} AS ty,
             |  ax*${fmt(cb.y)} - ay*${fmt(cb.x)} AS tz, nx, ny, nz FROM ca),
             | sg AS (SELECT k, CASE WHEN tx*nx + ty*ny + tz*nz >= 0 THEN 1.0 ELSE -1.0 END AS s,
             |  tx, ty, tz FROM tv)
             | SELECT k AS c_custkey,
             |  round(degrees(atan2(s*tz, sqrt(tx*tx + ty*ty))), 6) AS ilat,
             |  round(degrees(atan2(s*ty, s*tx)), 6) AS ilon
             | FROM sg ORDER BY c_custkey""".stripMargin.replace("\n", " ")
      },
      "q22_closest_point" -> {
        val a1 = graft.geo.Gade.latLonToNvec(math.toRadians(-10.0), math.toRadians(-60.0))
        val a2 = graft.geo.Gade.latLonToNvec(math.toRadians(35.0), math.toRadians(40.0))
        val c = graft.geo.VecMath.unit(a1 cross a2)
        ptsSql("customer", "c_custkey") +
          s""", c2 AS (SELECT k, ny*${fmt(c.z)} - nz*${fmt(c.y)} AS wx,
             |  nz*${fmt(c.x)} - nx*${fmt(c.z)} AS wy,
             |  nx*${fmt(c.y)} - ny*${fmt(c.x)} AS wz, nx, ny, nz FROM pts),
             | cp AS (SELECT k, ${fmt(c.y)}*wz - ${fmt(c.z)}*wy AS px,
             |  ${fmt(c.z)}*wx - ${fmt(c.x)}*wz AS py,
             |  ${fmt(c.x)}*wy - ${fmt(c.y)}*wx AS pz, nx, ny, nz FROM c2),
             | sg AS (SELECT k, CASE WHEN px*nx + py*ny + pz*nz >= 0 THEN 1.0 ELSE -1.0 END AS s,
             |  px, py, pz FROM cp)
             | SELECT k AS c_custkey,
             |  round(degrees(atan2(s*pz, sqrt(px*px + py*py))), 6) AS clat,
             |  round(degrees(atan2(s*py, s*px)), 6) AS clon
             | FROM sg ORDER BY c_custkey""".stripMargin.replace("\n", " ")
      },
      "q23_stopword_ratio" -> {
        val preds = graft.operators.TextAnalysis.EnglishStopwords
          .map(w => s"x = '$w'").mkString(" OR ")
        s"""SELECT doc_id, round(CAST(len(list_filter(string_split(lower(text), ' '),
           | x -> $preds)) AS DOUBLE)
           | / greatest(len(string_split(lower(text), ' ')), 1), 6) AS sw_ratio
           | FROM documents ORDER BY doc_id""".stripMargin.replace("\n", " ")
      },
      "q18_text_stats" ->
        """SELECT doc_id,
          | CASE WHEN length(text) = 0 THEN 0 ELSE length(text) - length(replace(text, ' ', '')) + 1 END AS words,
          | length(text) - length(replace(replace(replace(text, '.', ''), ',', ''), '!', '')) AS punct,
          | n_chars FROM documents ORDER BY doc_id""".stripMargin.replace("\n", " "),
      "q19_dedup_exact" ->
        """WITH docs AS (SELECT doc_id, text FROM documents
          |  UNION ALL SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0)
          | SELECT md5(text) AS digest, count(*) AS cnt, min(doc_id) AS keeper
          | FROM docs GROUP BY md5(text) HAVING count(*) > 1 ORDER BY digest""".stripMargin.replace("\n", " "),
      "q20_embed_norm" ->
        """SELECT vec_id, round(sqrt(list_sum(list_transform(embedding,
          | x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))::DOUBLE, 4) AS l2, label
          | FROM embeddings ORDER BY vec_id""".stripMargin.replace("\n", " "),
      "q25_cosine_topk" ->
        """WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
          | d AS (SELECT vec_id AS d_id, embedding AS dv FROM embeddings),
          | pairs AS (SELECT q_id, d_id,
          |   list_sum(list_transform(generate_series(1, 64), i -> CAST(qv[i] AS DOUBLE) * CAST(dv[i] AS DOUBLE)))
          |   / (sqrt(list_sum(list_transform(generate_series(1, 64), i -> CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE))))
          |    * sqrt(list_sum(list_transform(generate_series(1, 64), i -> CAST(dv[i] AS DOUBLE) * CAST(dv[i] AS DOUBLE))))) AS cos
          |   FROM q CROSS JOIN d),
          | ranked AS (SELECT q_id, d_id, cos,
          |   row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, d_id) AS rank FROM pairs)
          | SELECT q_id, rank, d_id, round(cos, 6) AS cosine FROM ranked
          | WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin.replace("\n", " "),
      "q26_hamming_fingerprint" ->
        """WITH sigs AS (SELECT doc_id, lang,
          |   CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) AS sig FROM documents),
          | lagged AS (SELECT doc_id, lang, sig,
          |   lag(sig, 1) OVER (PARTITION BY lang ORDER BY doc_id) AS prev_sig FROM sigs)
          | SELECT doc_id, lang, CAST(bit_count(xor(sig, prev_sig)) AS INTEGER) AS hd
          | FROM lagged WHERE prev_sig IS NOT NULL ORDER BY doc_id""".stripMargin.replace("\n", " "),
      "q43_ivf_topk" -> {
        val cents = graft.operators.Similarity.pseudoCentroids(16, 64)
        val values = (0 until 16).flatMap(c => (0 until 64).map(i =>
          s"($c, $i, ${fmt(cents(c * 64 + i))})")).mkString(", ")
        s"""WITH cent(c, ci, cv) AS (VALUES $values),
           | cn AS (SELECT c, sqrt(sum(cv*cv)) AS cnorm FROM cent GROUP BY c),
           | dv AS (SELECT vec_id, t.i AS i, CAST(embedding[t.i + 1] AS DOUBLE) AS v
           |   FROM embeddings CROSS JOIN generate_series(0, 63) t(i)),
           | dn AS (SELECT vec_id, sqrt(sum(v*v)) AS vnorm FROM dv GROUP BY vec_id),
           | dots AS (SELECT dv.vec_id, cent.c, sum(dv.v * cent.cv) AS dot
           |   FROM dv JOIN cent ON cent.ci = dv.i GROUP BY dv.vec_id, cent.c),
           | sims AS (SELECT d.vec_id, d.c, d.dot / (dn.vnorm * cn.cnorm) AS sim
           |   FROM dots d JOIN dn USING (vec_id) JOIN cn USING (c)),
           | ranked_c AS (SELECT vec_id, c,
           |   row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, c) AS rc FROM sims),
           | lists AS (SELECT vec_id AS d_id, c FROM ranked_c WHERE rc = 1),
           | probes AS (SELECT vec_id AS q_id, c FROM ranked_c WHERE rc <= 4 AND vec_id < 10),
           | cand0 AS (SELECT DISTINCT p.q_id, l.d_id FROM probes p JOIN lists l USING (c)),
           | allq AS (SELECT DISTINCT vec_id AS q_id FROM embeddings WHERE vec_id < 10),
           | starved AS (SELECT q_id FROM allq WHERE q_id NOT IN
           |   (SELECT q_id FROM cand0 GROUP BY q_id HAVING count(*) >= 5)),
           | cand AS (SELECT q_id, d_id FROM cand0
           |     WHERE q_id NOT IN (SELECT q_id FROM starved)
           |   UNION SELECT s.q_id, l.d_id FROM starved s
           |     CROSS JOIN (SELECT DISTINCT d_id FROM lists) l),
           | cdot AS (SELECT cd.q_id, cd.d_id, sum(a.v * b.v) AS dot
           |   FROM cand cd JOIN dv a ON a.vec_id = cd.q_id
           |   JOIN dv b ON b.vec_id = cd.d_id AND b.i = a.i
           |   GROUP BY cd.q_id, cd.d_id),
           | ccos AS (SELECT c0.q_id, c0.d_id,
           |   c0.dot / (qa.vnorm * qb.vnorm) AS cos
           |   FROM cdot c0 JOIN dn qa ON qa.vec_id = c0.q_id
           |   JOIN dn qb ON qb.vec_id = c0.d_id),
           | fin AS (SELECT q_id, d_id, cos,
           |   row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, d_id) AS rank FROM ccos)
           | SELECT q_id, rank, d_id, round(cos, 6) AS cosine FROM fin
           | WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin.replace("\n", " ")
      },
      // relational mirror of the text-analysis kernels: stopword-family
      // language guess (integer hit counts, max-(hits, code) tie-break),
      // the quality-score expression chain, and the BPE-ish token count
      // (#word-runs + #non-space-non-word chars — on the gate's
      // printable-ASCII rows Java's (?U)\w equals RE2's \w)
      "q35_lang_quality" -> {
        val fams = graft.operators.TextAnalysis.StopwordFamilies.toSeq.sortBy(_._1)
        // rk encodes the code's sort position so the (hits, code)
        // tie-break packs into one BIGINT for arg_max
        val famRows = fams.zipWithIndex.map { case ((code, sws), rk) =>
          s"('$code', $rk, [${sws.map(w => s"'$w'").mkString(", ")}])"
        }.mkString(", ")
        s"""WITH docs AS (SELECT doc_id, lang, text FROM documents
           |   WHERE regexp_matches(text, '^[ -~]*${"$"}')),
           | ws AS (SELECT doc_id, str_split(lower(text), ' ') AS w FROM docs),
           | fam(code, rk, sws) AS (VALUES $famRows),
           | hits AS (SELECT ws.doc_id, fam.code, fam.rk,
           |   len(list_filter(ws.w, x -> list_contains(fam.sws, x))) AS h
           |  FROM ws CROSS JOIN fam),
           | guess AS (SELECT doc_id,
           |   CASE WHEN max(h) >= 1
           |     THEN arg_max(code, h * ${graft.operators.TextAnalysis.StopwordFamilies.size + 1} + rk) ELSE 'und' END AS lang_guess
           |  FROM hits GROUP BY doc_id),
           | q AS (SELECT doc_id,
           |   CAST(length(text) AS DOUBLE) AS len,
           |   CASE WHEN length(text) = 0 THEN 0
           |     ELSE length(text) - length(replace(text, ' ', '')) + 1 END AS wc,
           |   (CAST(length(text) - length(translate(text, '.,!?;:', '')) AS DOUBLE)
           |     / CAST(greatest(length(text), 1) AS DOUBLE)) AS pr,
           |   CAST(length(replace(text, ' ', '')) AS DOUBLE) AS nospace,
           |   len(regexp_extract_all(text, '[0-9A-Za-z_]+'))
           |     + length(regexp_replace(text, '[0-9A-Za-z_ ]', '', 'g')) AS tokens
           |  FROM docs),
           | q2 AS (SELECT doc_id, tokens,
           |   least(len / 200.0, 1.0) * (CASE WHEN len > 20000 THEN 0.5 ELSE 1.0 END)
           |     * (CASE WHEN pr > 0.2 THEN 0.3 ELSE 1.0 END)
           |     * (CASE WHEN (nospace / CAST(greatest(wc, 1) AS DOUBLE)) > 15.0
           |          OR (nospace / CAST(greatest(wc, 1) AS DOUBLE)) < 2.0
           |        THEN 0.4 ELSE 1.0 END) AS qraw
           |  FROM q)
           | SELECT d.doc_id, d.lang, g.lang_guess,
           |   round(q2.qraw, 4) AS quality, CAST(q2.tokens AS INTEGER) AS tokens
           | FROM docs d JOIN guess g USING (doc_id) JOIN q2 USING (doc_id)
           | ORDER BY d.doc_id""".stripMargin.replace("\n", " ")
      },
      // full relational mirror of the hyperplane-LSH top-k pipeline
      // INCLUDING its escalation ladder: exact+hamming-1 probes, then
      // hamming-2 for queries still short of k candidates, then
      // half-width (2-bit) re-banding, then a rank-all fallback for
      // any residual starved query — each stage the same deterministic
      // integer-count decision the engine makes (Similarity.lshTopK /
      // escalatedTopK), so the candidate pools match exactly
      "q32_knn_embedding" -> {
        val cosPair =
          """list_sum(list_transform(generate_series(1, 64), i -> CAST(qv[i] AS DOUBLE) * CAST(dv[i] AS DOUBLE)))
            | / (sqrt(list_sum(list_transform(generate_series(1, 64), i -> CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE))))
            |  * sqrt(list_sum(list_transform(generate_series(1, 64), i -> CAST(dv[i] AS DOUBLE) * CAST(dv[i] AS DOUBLE)))))"""
            .stripMargin.replace("\n", " ")
        // band tags inline as Scala-computed literals, same
        // (b+1) << width formula as Similarity.lshBands (the tag sits
        // just above the slice bits, so it can never wrap)
        def bandVals(bands: Int, width: Int): String =
          (0 until bands).map(b => s"(${width * b}, ${((b + 1).toLong << width)})")
            .mkString(",")
        def probeJoin(src: String, bands: Int, width: Int, flips: Seq[Int],
                      db: String): String = {
          val mask = (1 << width) - 1
          s"""SELECT DISTINCT q.vec_id AS qid, d.did
             | FROM $src q
             | CROSS JOIN (VALUES ${bandVals(bands, width)}) b(sh, tag)
             | CROSS JOIN (VALUES ${flips.map(f => s"($f)").mkString(",")}) f(f)
             | JOIN $db d ON d.band =
             |   (xor((q.sig >> b.sh) & $mask, CAST(f.f AS BIGINT)) ${"|"} CAST(b.tag AS BIGINT))""".stripMargin
        }
        def starvedOf(pairs: String): String =
          s"""SELECT vec_id, sig FROM sigq WHERE vec_id NOT IN
             | (SELECT qid FROM $pairs GROUP BY qid HAVING count(*) >= 5)""".stripMargin
        val r1 = Seq(0, 1, 2, 4, 8)
        val r2 = Seq(0, 1, 2, 4, 8, 3, 5, 9, 6, 10, 12)
        s"""WITH allv AS (SELECT vec_id, embedding FROM embeddings),
           | sigd AS MATERIALIZED (SELECT vec_id, ${lshSigSql("embedding")} AS sig FROM allv),
           | sigq AS MATERIALIZED (SELECT * FROM sigd WHERE vec_id < 20),
           | db4 AS MATERIALIZED (SELECT did, band FROM (
           |  SELECT s.vec_id AS did,
           |   ((s.sig >> b.sh) & 15) | CAST(b.tag AS BIGINT) AS band,
           |   row_number() OVER (PARTITION BY ((s.sig >> b.sh) & 15) | CAST(b.tag AS BIGINT) ORDER BY s.vec_id) AS rn
           |  FROM sigd s CROSS JOIN (VALUES ${bandVals(4, 4)}) b(sh, tag)) WHERE rn <= 4096),
           | db2 AS MATERIALIZED (SELECT did, band FROM (
           |  SELECT s.vec_id AS did,
           |   ((s.sig >> b.sh) & 3) | CAST(b.tag AS BIGINT) AS band,
           |   row_number() OVER (PARTITION BY ((s.sig >> b.sh) & 3) | CAST(b.tag AS BIGINT) ORDER BY s.vec_id) AS rn
           |  FROM sigd s CROSS JOIN (VALUES ${bandVals(8, 2)}) b(sh, tag)) WHERE rn <= 4096),
           | p1 AS MATERIALIZED (${probeJoin("sigq", 4, 4, r1, "db4")}),
           | s1 AS MATERIALIZED (${starvedOf("p1")}),
           | p2 AS MATERIALIZED (SELECT * FROM p1 UNION ${probeJoin("s1", 4, 4, r2, "db4")}),
           | s2 AS MATERIALIZED (${starvedOf("p2")}),
           | p3 AS MATERIALIZED (SELECT * FROM p2 UNION ${probeJoin("s2", 8, 2, Seq(0, 1, 2), "db2")}),
           | s3 AS MATERIALIZED (${starvedOf("p3")}),
           | fb AS (SELECT qid, did FROM (
           |   SELECT qid, did, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, did) AS r
           |   FROM (SELECT sq.qid, dd.did, $cosPair AS cos
           |    FROM (SELECT s3.vec_id AS qid, a.embedding AS qv
           |      FROM s3 JOIN allv a ON a.vec_id = s3.vec_id) sq
           |    CROSS JOIN (SELECT vec_id AS did, embedding AS dv FROM allv) dd)
           |   ) WHERE r <= 5),
           | pf AS (SELECT * FROM p3 UNION SELECT * FROM fb),
           | scored AS (SELECT p.qid, p.did, $cosPair AS cos
           |  FROM pf p
           |  JOIN (SELECT vec_id, embedding AS qv FROM allv) q ON q.vec_id = p.qid
           |  JOIN (SELECT vec_id, embedding AS dv FROM allv) d ON d.vec_id = p.did),
           | ranked AS (SELECT qid, did, cos,
           |   row_number() OVER (PARTITION BY qid ORDER BY cos DESC, did) AS rank FROM scored)
           | SELECT qid AS q_id, rank, did AS d_id, round(cos, 6) AS cosine
           | FROM ranked WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin.replace("\n", " ")
      },
      "q39_embedding_near_dups" -> {
        // full relational mirror of the hyperplane-LSH near-dup
        // pipeline: the 16 x 64 plane constants inline at the exact
        // doubles the kernel uses, dot products as left-fold `+`
        // chains (SQL + is left-associative, so the IEEE adds match
        // the kernel's fold bit for bit; measured sign margins are
        // >= 1e-5, five orders above any summation-order wobble)
        def dotVV(a: String, b: String): String = dotVVSql(a, b)
        val sigExpr = lshSigSql("embedding")
        s"""WITH base AS (SELECT vec_id, embedding FROM embeddings),
           | pl AS (SELECT vec_id + 1000000 AS vec_id,
           |   list_transform(embedding, x -> CAST(x * CAST(1.0005 AS FLOAT) AS FLOAT)) AS embedding
           |   FROM base WHERE vec_id % 100 = 0),
           | allv AS (SELECT * FROM base UNION ALL SELECT * FROM pl),
           | sig AS (SELECT vec_id, embedding, $sigExpr AS sig FROM allv),
           | banded AS (
           |   SELECT vec_id, (sig & 255) | (CAST(1 AS BIGINT) << 8) AS band FROM sig
           |   UNION ALL
           |   SELECT vec_id, ((sig >> 8) & 255) | (CAST(2 AS BIGINT) << 8) AS band FROM sig),
           | capped AS (SELECT vec_id, band FROM (SELECT vec_id, band,
           |     row_number() OVER (PARTITION BY band ORDER BY vec_id) AS rn FROM banded)
           |   WHERE rn <= 4096),
           | cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
           |   FROM capped a JOIN capped b USING (band) WHERE a.vec_id < b.vec_id),
           | cj AS (SELECT c.id_a, c.id_b, sa.embedding AS ea, sb.embedding AS eb
           |   FROM cand c JOIN sig sa ON sa.vec_id = c.id_a JOIN sig sb ON sb.vec_id = c.id_b),
           | cosv AS (SELECT id_a, id_b,
           |   (${dotVV("ea", "eb")}) / (sqrt(${dotVV("ea", "ea")}) * sqrt(${dotVV("eb", "eb")})) AS cosine
           |   FROM cj)
           | SELECT id_a, id_b, round(cosine, 6) AS cosine FROM cosv
           | WHERE cosine >= 0.9995 ORDER BY id_a, id_b""".stripMargin.replace("\n", " ")
      },
      "q33_minhash_pairs" ->
        """WITH sh AS (SELECT doc_id, substr(lower(text), t.i + 1, 5) AS s
          |   FROM documents CROSS JOIN generate_series(0, 2047) t(i)
          |   WHERE t.i <= greatest(length(text) - 5, 0)),
          | hs AS (SELECT doc_id, CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) AS h FROM sh),
          | bmin AS (SELECT doc_id, h % 32 AS b, min(h) AS mh FROM hs GROUP BY doc_id, h % 32),
          | grid AS (SELECT DISTINCT doc_id, gb.b FROM documents CROSS JOIN generate_series(0, 31) gb(b)),
          | filled AS (SELECT g.doc_id, g.b, arg_min(bm.mh, (bm.b - g.b + 32) % 32) AS mh
          |   FROM grid g JOIN bmin bm ON bm.doc_id = g.doc_id GROUP BY g.doc_id, g.b),
          | sig AS (SELECT doc_id, list(mh ORDER BY b) AS sg FROM filled GROUP BY doc_id),
          | sigk AS (SELECT doc_id, array_to_string(sg, '|') AS sk, sg FROM sig),
          | star AS (SELECT min(doc_id) OVER (PARTITION BY sk) AS rep, doc_id, sg FROM sigk),
          | starpairs AS (SELECT rep AS id_a, doc_id AS id_b, CAST(1.0 AS DOUBLE) AS jaccard_est
          |   FROM star WHERE doc_id <> rep),
          | reps AS (SELECT doc_id, sg FROM star WHERE doc_id = rep),
          | bands AS (SELECT doc_id,
          |   concat_ws(',', gb.b, sg[4*gb.b+1], sg[4*gb.b+2], sg[4*gb.b+3], sg[4*gb.b+4]) AS bk
          |   FROM reps CROSS JOIN generate_series(0, 7) gb(b)),
          | capped AS (SELECT doc_id, bk FROM (SELECT doc_id, bk,
          |     row_number() OVER (PARTITION BY bk ORDER BY doc_id) AS rn FROM bands)
          |   WHERE rn <= 4096),
          | cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          |   FROM capped a JOIN capped b USING (bk) WHERE a.doc_id < b.doc_id),
          | est AS (SELECT c.id_a, c.id_b,
          |   CAST(sum(CASE WHEN sa.sg[gi.i] = sb.sg[gi.i] THEN 1 ELSE 0 END) AS DOUBLE) / 32.0 AS jaccard_est
          |   FROM cand c JOIN sigk sa ON sa.doc_id = c.id_a JOIN sigk sb ON sb.doc_id = c.id_b
          |   CROSS JOIN generate_series(1, 32) gi(i) GROUP BY c.id_a, c.id_b)
          | SELECT id_a, id_b, jaccard_est FROM est WHERE jaccard_est >= 0.35
          | UNION ALL SELECT id_a, id_b, jaccard_est FROM starpairs
          | ORDER BY id_a, id_b""".stripMargin.replace("\n", " "),
      "q34_simhash" ->
        """WITH sh AS (SELECT doc_id, substr(lower(text), t.i + 1, 5) AS s
          |   FROM documents CROSS JOIN generate_series(0, 2047) t(i)
          |   WHERE t.i <= greatest(length(text) - 5, 0)),
          | hs AS (SELECT doc_id, CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) AS h FROM sh),
          | votes AS (SELECT doc_id, gb.b AS b,
          |   sum(CASE WHEN (h >> gb.b) & 1 = 1 THEN 1 ELSE -1 END) AS v
          |   FROM hs CROSS JOIN generate_series(0, 59) gb(b) GROUP BY doc_id, gb.b),
          | sg AS (SELECT doc_id, CAST(sum(CASE WHEN v >= 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS sig
          |   FROM votes GROUP BY doc_id),
          | fsh AS (SELECT doc_id, substr(text, gi.i * 4 + 1, 8) AS s
          |   FROM documents CROSS JOIN generate_series(0, 511) gi(i)
          |   WHERE length(text) >= 8
          |     AND gi.i <= greatest(CAST(floor((length(text) - 8) / 4.0) AS BIGINT), 0)),
          | fmin AS (SELECT doc_id, min(CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT)) AS fp
          |   FROM fsh GROUP BY doc_id),
          | fpa AS (SELECT d.doc_id,
          |   CASE WHEN length(d.text) < 8 THEN CAST(('0x' || substr(md5(d.text), 1, 15)) AS BIGINT)
          |        ELSE f.fp END AS fp
          |   FROM documents d LEFT JOIN fmin f USING (doc_id))
          | SELECT sg.doc_id, sg.sig, fpa.fp FROM sg JOIN fpa USING (doc_id)
          | ORDER BY doc_id""".stripMargin.replace("\n", " "),
      // brute-force mirror of the multi-index hamming join: the banded
      // engine path is pigeonhole-exact over representatives, so an
      // O(n^2) DuckDB pair scan over the same md5-basis simhash
      // fingerprints must produce the identical pair set
      "q45_phash_neardups" ->
        """WITH sh AS (SELECT doc_id, substr(lower(text), t.i + 1, 5) AS s
          |   FROM documents CROSS JOIN generate_series(0, 2047) t(i)
          |   WHERE t.i <= greatest(length(text) - 5, 0)),
          | hs AS (SELECT doc_id, CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) AS h FROM sh),
          | votes AS (SELECT doc_id, gb.b AS b,
          |   sum(CASE WHEN (h >> gb.b) & 1 = 1 THEN 1 ELSE -1 END) AS v
          |   FROM hs CROSS JOIN generate_series(0, 59) gb(b) GROUP BY doc_id, gb.b),
          | sg AS (SELECT doc_id, CAST(sum(CASE WHEN v >= 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS fp
          |   FROM votes GROUP BY doc_id),
          | star AS (SELECT min(doc_id) OVER (PARTITION BY fp) AS rep, doc_id, fp FROM sg),
          | starpairs AS (SELECT rep AS id_a, doc_id AS id_b, 0 AS hamming
          |   FROM star WHERE doc_id <> rep),
          | reps AS (SELECT doc_id, fp FROM star WHERE doc_id = rep),
          | brute AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          |     CAST(bit_count(xor(a.fp, b.fp)) AS INT) AS hamming
          |   FROM reps a JOIN reps b ON a.doc_id < b.doc_id
          |   WHERE bit_count(xor(a.fp, b.fp)) <= 3)
          | SELECT id_a, id_b, hamming FROM brute
          | UNION ALL SELECT id_a, id_b, hamming FROM starpairs
          | ORDER BY id_a, id_b""".stripMargin.replace("\n", " "),
      // full relational mirror of the Karney DIRECT solver (series
      // constants generated from the solver's own arrays — see
      // Karney.directSqlMirror); converts the reckon gate from
      // rows-only to oracle-checked
      // full relational mirror of the Karney INVERSE solver for
      // general-position pairs: recursive-CTE Newton iteration +
      // hybrid distance, generated from the solver's own arrays
      // (Karney.inverseSqlMirror); the engine side filters with the
      // identical general-position guard
      "q30_geodesic_inverse" -> {
        val from =
          s"""(SELECT c_custkey, ${latSql("c_custkey")} AS lat1,
             | ${lonSql("c_custkey")} AS lon1,
             | ${fmt(OsloLat)} AS lat2, ${fmt(OsloLon)} AS lon2
             | FROM customer)""".stripMargin.replace("\n", " ")
        "SELECT c_custkey, round(s12, 2) AS s12_m, round(az1, 7) AS az1, round(az2, 7) AS az2 FROM (" +
          graft.geo.Karney(wa, wf).inverseSqlMirror(from, "c_custkey") +
          ") ORDER BY c_custkey"
      },
      // full relational mirror of the quadratic B-spline (midpoint
      // knots) + savgol mode='mirror' pre-smooth
      // (Tracks.quadraticSplineMirrorSql): tridiagonal collocation
      // solved by the same Thomas CTEs; converts q44 from rows-only
      // to oracle-checked
      "q44_track_interp_quadratic" -> {
        val fixes =
          s"""SELECT user_id, CAST(event_id AS DOUBLE) AS t,
             | cos(lat) * cos(lon) AS c1, cos(lat) * sin(lon) AS c2,
             | sin(lat) AS c3, CAST(event_id % 97 AS DOUBLE) AS c4
             | FROM (SELECT user_id, event_id,
             |  ${latSql("event_id")} AS lat, ${lonSql("event_id")} AS lon
             | FROM events)""".stripMargin.replace("\n", " ")
        val qs = "SELECT DISTINCT user_id, CAST(user_id AS DOUBLE) * 7.0 + 100.0 AS tq FROM events"
        "SELECT user_id, tq AS tsec, " +
          "round(degrees(atan2(i3, sqrt(i1*i1 + i2*i2))), 6) AS ilat, " +
          "round(degrees(atan2(i2, i1)), 6) AS ilon, " +
          "round(i4, 6) AS idepth FROM (" +
          graft.operators.Tracks.quadraticSplineMirrorSql(fixes, qs,
            windowLength = 7, polyorder = 2, minFixes = 8) +
          ") ORDER BY user_id"
      },
      // full relational mirror of the not-a-knot cubic spline track
      // interpolation: Thomas sweeps as recursive CTEs
      // (Tracks.cubicSplineMirrorSql); converts the cubic gate from
      // rows-only to oracle-checked
      "q41_track_interp_cubic" -> {
        val fixes =
          s"""SELECT user_id, CAST(event_id AS DOUBLE) AS t,
             | cos(lat) * cos(lon) AS c1, cos(lat) * sin(lon) AS c2,
             | sin(lat) AS c3, CAST(event_id % 97 AS DOUBLE) AS c4
             | FROM (SELECT user_id, event_id,
             |  ${latSql("event_id")} AS lat, ${lonSql("event_id")} AS lon
             | FROM events)""".stripMargin.replace("\n", " ")
        val qs = "SELECT DISTINCT user_id, CAST(user_id AS DOUBLE) * 7.0 + 100.0 AS tq FROM events"
        "SELECT user_id, tq AS tsec, " +
          "round(degrees(atan2(i3, sqrt(i1*i1 + i2*i2))), 6) AS ilat, " +
          "round(degrees(atan2(i2, i1)), 6) AS ilon, " +
          "round(i4, 6) AS idepth FROM (" +
          graft.operators.Tracks.cubicSplineMirrorSql(fixes, qs) +
          ") ORDER BY user_id"
      },
      "q31_geodesic_reckon" -> {
        val from =
          s"""(SELECT c_custkey, ${latSql("c_custkey")} AS lat1,
             | ${lonSql("c_custkey")} AS lon1,
             | (c_custkey % 9973) * 1000.0 + 500.0 AS dist,
             | ${lonSql("c_custkey")} AS azi FROM customer)""".stripMargin.replace("\n", " ")
        "SELECT c_custkey, round(degrees(lat2), 6) AS dlat, round(degrees(lon2), 6) AS dlon FROM (" +
          graft.geo.Karney(wa, wf).directSqlMirror(from, "c_custkey") +
          ") ORDER BY c_custkey"
      },
      // closed-form mirrors of the inverse solver's MERIDIONAL and
      // EQUATORIAL special branches (Karney.meridionalSqlMirror /
      // equatorialSqlMirror) — closes the last oracle asymmetry on
      // the numerical core: q30 gates the Newton+hybrid general path,
      // these gate the two branches it excludes (the astroid and
      // short-distance branches keep their GeodSolve golden suites)
      "q49_dedup_components" ->
        """WITH RECURSIVE e0 AS (SELECT c_custkey AS a, c_custkey + 1 AS b
          |   FROM customer WHERE c_custkey % 8 <> 7),
          | edges AS (SELECT a AS src, b AS dst FROM e0 UNION SELECT b, a FROM e0),
          | reach AS (SELECT src AS node, src AS lab FROM edges
          |   UNION SELECT e.src, r.lab FROM edges e JOIN reach r ON r.node = e.dst)
          | SELECT node, min(lab) AS component FROM reach GROUP BY node
          | ORDER BY node""".stripMargin.replace("\n", " "),
      "q47_geodesic_meridional" -> {
        val from =
          s"""(SELECT c_custkey, ${latSql("c_custkey")} AS lat1,
             | ${latSql("c_custkey")} * 0.5 + 0.2 AS lat2 FROM customer
             | WHERE abs((${latSql("c_custkey")} * 0.5 + 0.2) - ${latSql("c_custkey")}) >= 0.01)""".stripMargin.replace("\n", " ")
        "SELECT c_custkey, round(s12, 2) AS s12_m, round(az1, 7) AS az1, round(az2, 7) AS az2 FROM (" +
          graft.geo.Karney(wa, wf).meridionalSqlMirror(from, "c_custkey") +
          ") ORDER BY c_custkey"
      },
      "q48_geodesic_equatorial" -> {
        val from =
          "(SELECT c_custkey, ((c_custkey % 2000) / 1000.0 + 1.0) * pi() / 3.15 AS lam0 FROM customer)"
        "SELECT c_custkey, round(s12, 2) AS s12_m, round(az1, 7) AS az1, round(az2, 7) AS az2 FROM (" +
          graft.geo.Karney(wa, wf).equatorialSqlMirror(from, "c_custkey") +
          ") ORDER BY c_custkey"
      },
      "q37_course_over_ground" ->
        (s"""WITH ev AS (SELECT user_id, event_id,
            |   ${latSql("event_id")} AS lat, ${lonSql("event_id")} AS lon FROM events),
            | n AS (SELECT user_id, event_id, cos(lat)*cos(lon) AS nx, cos(lat)*sin(lon) AS ny, sin(lat) AS nz FROM ev),
            |""".stripMargin.replace("\n", " ") + cogChainSql("n", "event_id")),
      "q40_cog_smoothed" -> {
        val coeff = graft.operators.Tracks.savgolCoefficients(7, 2)
        def smoothTerm(lst: String): String =
          coeff.zipWithIndex.map { case (c, kk) =>
            s"${fmt(c)} * $lst[least(cnt, greatest(1, i + ${kk - 3}))]"
          }.mkString(" + ")
        s"""WITH ev AS (SELECT user_id, CAST(event_id AS DOUBLE) AS tsec,
           |   ${latSql("event_id")} AS lat, ${lonSql("event_id")} AS lon FROM events),
           | n AS (SELECT user_id, tsec, cos(lat)*cos(lon) AS nx, cos(lat)*sin(lon) AS ny, sin(lat) AS nz FROM ev),
           | ord AS (SELECT user_id, tsec, row_number() OVER (PARTITION BY user_id ORDER BY tsec) AS i,
           |   count(*) OVER (PARTITION BY user_id) AS cnt FROM n),
           | tr AS (SELECT user_id, list(nx ORDER BY tsec) AS lx, list(ny ORDER BY tsec) AS ly,
           |   list(nz ORDER BY tsec) AS lz FROM n GROUP BY user_id),
           | smooth AS (SELECT o.user_id, o.tsec,
           |   ${smoothTerm("lx")} AS sx,
           |   ${smoothTerm("ly")} AS sy,
           |   ${smoothTerm("lz")} AS sz
           |   FROM ord o JOIN tr USING (user_id)),
           | sm AS (SELECT user_id, tsec,
           |   sx/sqrt(sx*sx+sy*sy+sz*sz) AS nx, sy/sqrt(sx*sx+sy*sy+sz*sz) AS ny,
           |   sz/sqrt(sx*sx+sy*sy+sz*sz) AS nz FROM smooth),
           |""".stripMargin.replace("\n", " ") + cogChainSql("sm", "tsec")
      },
      "q38_track_interpolation" ->
        s"""WITH fx AS (SELECT user_id, CAST(event_id AS DOUBLE) AS t,
           |   ${latSql("event_id")} AS lat, ${lonSql("event_id")} AS lon FROM events),
           | fixes AS (SELECT user_id, t, cos(lat)*cos(lon) AS nx, cos(lat)*sin(lon) AS ny, sin(lat) AS nz FROM fx),
           | queries AS (SELECT DISTINCT user_id, CAST(user_id AS DOUBLE) * 7.0 + 100.0 AS tq FROM events),
           | br AS (SELECT q.user_id, q.tq,
           |   max(f.t) FILTER (f.t <= q.tq) AS pt,
           |   arg_max(f.nx, f.t) FILTER (f.t <= q.tq) AS pnx,
           |   arg_max(f.ny, f.t) FILTER (f.t <= q.tq) AS pny,
           |   arg_max(f.nz, f.t) FILTER (f.t <= q.tq) AS pnz,
           |   min(f.t) FILTER (f.t >= q.tq) AS nt,
           |   arg_min(f.nx, f.t) FILTER (f.t >= q.tq) AS nnx,
           |   arg_min(f.ny, f.t) FILTER (f.t >= q.tq) AS nny,
           |   arg_min(f.nz, f.t) FILTER (f.t >= q.tq) AS nnz
           |   FROM queries q JOIN fixes f USING (user_id) GROUP BY q.user_id, q.tq),
           | itp AS (SELECT user_id, tq,
           |   CASE WHEN nt = pt THEN 0.0 ELSE (tq - pt) / (nt - pt) END AS fr,
           |   pnx, pny, pnz, nnx, nny, nnz FROM br WHERE pt IS NOT NULL AND nt IS NOT NULL),
           | pos AS (SELECT user_id, tq,
           |   pnx + fr * (nnx - pnx) AS ix, pny + fr * (nny - pny) AS iy, pnz + fr * (nnz - pnz) AS iz FROM itp)
           | SELECT user_id, tq AS tsec,
           |   round(degrees(atan2(iz, sqrt(ix*ix + iy*iy))), 6) AS ilat,
           |   round(degrees(atan2(iy, ix)), 6) AS ilon
           | FROM pos ORDER BY user_id""".stripMargin.replace("\n", " "),
      "q53_cell_compact" -> {
        // cell id at `level` from (nx,ny,nz) — the q14 block
        // parameterized; CTE names suffixed to allow two levels
        def cellCte(level: Int, sfx: String, src: String): String = {
          val scale = 1 << level
          s"""faced$sfx AS (SELECT k, nx, ny, nz,
             |  CASE WHEN abs(nx) >= abs(ny) AND abs(nx) >= abs(nz) THEN (CASE WHEN nx >= 0 THEN 0 ELSE 1 END)
             |       WHEN abs(ny) >= abs(nz) THEN (CASE WHEN ny >= 0 THEN 2 ELSE 3 END)
             |       ELSE (CASE WHEN nz >= 0 THEN 4 ELSE 5 END) END AS face FROM $src),
             | uv$sfx AS (SELECT k, face,
             |  CASE face WHEN 0 THEN ny/nx WHEN 1 THEN nz/(-nx) WHEN 2 THEN nz/ny
             |            WHEN 3 THEN nx/(-ny) WHEN 4 THEN nx/nz ELSE ny/(-nz) END AS u,
             |  CASE face WHEN 0 THEN nz/nx WHEN 1 THEN ny/(-nx) WHEN 2 THEN nx/ny
             |            WHEN 3 THEN nz/(-ny) WHEN 4 THEN ny/nz ELSE nx/(-nz) END AS v FROM faced$sfx),
             | cell$sfx AS (SELECT k, face * 144115188075855872 + $level * 4503599627370496
             |  + least(${scale - 1}, greatest(0, CAST(floor((u + 1.0) * 0.5 * $scale) AS BIGINT))) * 67108864
             |  + least(${scale - 1}, greatest(0, CAST(floor((v + 1.0) * 0.5 * $scale) AS BIGINT))) AS cell
             |  FROM uv$sfx)""".stripMargin.replace("\n", " ")
        }
        def parentSql(c: String, l: Int): String =
          s"($c & 1008806316530991104) + ${(l - 1).toLong * 4503599627370496L} " +
            s"+ ((($c >> 26) & 67108863) >> 1) * 67108864 + (($c & 67108863) >> 1)"
        // unrolled bottom-up merge: stage l consumes r{l}, emits
        // k{l} (kept) and r{l-1} (uncompacted rest + merged parents).
        // MATERIALIZED: each stage references its predecessor ~3
        // times; inlined, the base CTE would replicate ~3^5-fold and
        // OOM the oracle engine
        val stages = (5 to 1 by -1).map { l =>
          s""" a$l AS MATERIALIZED (SELECT cell, ${parentSql("cell", l)} AS p FROM r$l WHERE (cell >> 52) & 31 = $l),
             | p$l AS MATERIALIZED (SELECT p AS cell FROM a$l GROUP BY p HAVING count(*) = 4),
             | k$l AS MATERIALIZED (SELECT cell FROM a$l WHERE p NOT IN (SELECT cell FROM p$l)),
             | r${l - 1} AS MATERIALIZED (SELECT cell FROM r$l WHERE (cell >> 52) & 31 <> $l
             |   UNION ALL SELECT cell FROM p$l)""".stripMargin.replace("\n", " ")
        }.mkString(",")
        ptsSql("customer", "c_custkey") +
          s""", ${cellCte(3, "3", "(SELECT * FROM pts WHERE k % 5 = 0)")},
             | ${cellCte(5, "5", "(SELECT * FROM pts WHERE k % 5 <> 0)")},
             | fine AS (SELECT (cell3.cell & 1008806316530991104) + ${5L * 4503599627370496L}
             |   + (((cell3.cell >> 26) & 67108863) * 4 + (d.d >> 2)) * 67108864
             |   + ((cell3.cell & 67108863) * 4 + (d.d & 3)) AS cell
             |   FROM cell3 CROSS JOIN generate_series(0, 15) d(d)),
             | r5 AS MATERIALIZED (SELECT DISTINCT cell FROM
             |   (SELECT cell FROM fine UNION ALL SELECT cell FROM cell5)),
             | $stages
             | SELECT cell FROM (SELECT cell FROM k5 UNION ALL SELECT cell FROM k4
             |   UNION ALL SELECT cell FROM k3 UNION ALL SELECT cell FROM k2
             |   UNION ALL SELECT cell FROM k1 UNION ALL SELECT cell FROM r0)
             | ORDER BY cell""".stripMargin.replace("\n", " ")
      },
      "q54_sessionize" ->
        """WITH e AS (SELECT user_id, epoch_ms(ts) AS ms FROM events WHERE ts IS NOT NULL),
          | f AS (SELECT user_id, ms,
          |   CASE WHEN lag(ms) OVER (PARTITION BY user_id ORDER BY ms) IS NULL
          |     OR ms - lag(ms) OVER (PARTITION BY user_id ORDER BY ms) > 43200000
          |   THEN 1 ELSE 0 END AS b FROM e),
          | sx AS (SELECT user_id, ms, CAST(sum(b) OVER (PARTITION BY user_id ORDER BY ms
          |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx FROM f)
          | SELECT user_id, session_idx, count(*) AS n_events, min(ms) AS start_ms,
          |   max(ms) AS end_ms, max(ms) - min(ms) AS duration_ms
          | FROM sx GROUP BY user_id, session_idx
          | ORDER BY user_id, session_idx""".stripMargin.replace("\n", " "),
      "q55_stratified_sample" ->
        """WITH h AS (SELECT doc_id, lang, source,
          |   CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':g'), 1, 15)) AS BIGINT)
          |     / 1152921504606846976.0 AS u FROM documents),
          | s AS (SELECT doc_id, lang, source FROM h WHERE u < 0.5),
          | r AS (SELECT doc_id, lang, source, row_number() OVER (PARTITION BY lang, source
          |   ORDER BY CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':s'), 1, 15)) AS BIGINT)
          |     / 1152921504606846976.0 ASC, doc_id ASC) AS rn FROM s)
          | SELECT doc_id, lang, source FROM r WHERE rn <= 15
          | ORDER BY doc_id""".stripMargin.replace("\n", " "),
      "q56_repetition" ->
        """WITH words AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
          | g2 AS (SELECT doc_id, array_to_string(w[i+1:i+2], ' ') AS g FROM
          |   (SELECT doc_id, w, unnest(generate_series(0, len(w) - 2)) AS i FROM words)),
          | c2 AS (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY doc_id, g),
          | s2 AS (SELECT doc_id, CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS topf
          |   FROM c2 GROUP BY doc_id),
          | g3 AS (SELECT doc_id, array_to_string(w[i+1:i+3], ' ') AS g FROM
          |   (SELECT doc_id, w, unnest(generate_series(0, len(w) - 3)) AS i FROM words)),
          | c3 AS (SELECT doc_id, g, count(*) AS c FROM g3 GROUP BY doc_id, g),
          | s3 AS (SELECT doc_id, CAST(coalesce(sum(c) FILTER (WHERE c >= 2), 0) AS DOUBLE)
          |   / CAST(sum(c) AS DOUBLE) AS dupf FROM c3 GROUP BY doc_id)
          | SELECT d.doc_id, round(coalesce(s2.topf, 0.0), 6) AS top2_frac,
          |   round(coalesce(s3.dupf, 0.0), 6) AS dup3_frac
          | FROM documents d LEFT JOIN s2 USING (doc_id) LEFT JOIN s3 USING (doc_id)
          | ORDER BY d.doc_id""".stripMargin.replace("\n", " "),
      "q57_staypoints" -> {
        val Rm = graft.geo.Ellipsoids.MeanEarthRadius
        val jS = fmt(200.0 / Rm)
        val farS = fmt(5000.0 / Rm)
        // great-circle distance mirror: identical cross/dot component
        // and summation order as functions.geo.gcDistance (the q07
        // contract)
        val gc =
          s"""atan2(sqrt((a.ny*b.nz - a.nz*b.ny)*(a.ny*b.nz - a.nz*b.ny)
             | + (a.nz*b.nx - a.nx*b.nz)*(a.nz*b.nx - a.nx*b.nz)
             | + (a.nx*b.ny - a.ny*b.nx)*(a.nx*b.ny - a.ny*b.nx)),
             | a.nx*b.nx + a.ny*b.ny + a.nz*b.nz) * ${fmt(Rm)}""".stripMargin.replace("\n", " ")
        s"""WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS tms FROM events WHERE ts IS NOT NULL),
           | p AS (SELECT user_id, event_id, tms,
           |   ${latSql("user_id")} * 0.99 + (((event_id * 2654435761) % 2001) / 1000.0 - 1.0) * $jS
           |     + (CASE WHEN event_id % 11 = 0 THEN $farS ELSE 0.0 END) AS lat,
           |   ${lonSql("user_id")} * 0.99 + (((event_id * 40503) % 2001) / 1000.0 - 1.0) * $jS AS lon
           |   FROM e),
           | v AS (SELECT user_id, event_id, tms, cos(lat)*cos(lon) AS nx,
           |   cos(lat)*sin(lon) AS ny, sin(lat) AS nz FROM p),
           | w AS (SELECT a.user_id, a.event_id, count(b.event_id) AS n_window, max($gc) AS maxd
           |   FROM v a LEFT JOIN v b ON b.user_id = a.user_id AND b.tms > a.tms
           |     AND b.tms <= a.tms + 86400000
           |   GROUP BY a.user_id, a.event_id),
           | m AS (SELECT user_id, max(tms) AS tmax FROM e GROUP BY user_id)
           | SELECT e.user_id, e.event_id, w.n_window, round(w.maxd, 2) AS max_excursion_m,
           |   ((w.maxd IS NULL OR w.maxd <= 1000.0) AND m.tmax >= e.tms + 86400000) AS is_stay
           | FROM e JOIN w ON w.user_id = e.user_id AND w.event_id = e.event_id
           | JOIN m ON m.user_id = e.user_id
           | ORDER BY e.user_id, e.event_id""".stripMargin.replace("\n", " ")
      },
      "q58_interval_join" ->
        """WITH l AS (SELECT event_id AS l_event, user_id AS uid, CAST(event_id AS DOUBLE) AS l_s,
          |   CAST(event_id + (user_id % 50) * 3 + 1 AS DOUBLE) AS l_e
          |   FROM events WHERE event_type = 'click'),
          | r AS (SELECT event_id AS r_event, user_id AS uid, CAST(event_id - 40 AS DOUBLE) AS r_s,
          |   CAST(event_id + (user_id % 30) AS DOUBLE) AS r_e
          |   FROM events WHERE event_type = 'purchase')
          | SELECT l_event, r_event FROM l JOIN r ON l.uid = r.uid
          |   AND l_s <= r_e AND r_s <= l_e
          | ORDER BY l_event, r_event""".stripMargin.replace("\n", " "),
      "q59_tile_pyramid" -> {
        // per-level direct aggregation with the q14 cell-id mirror
        // generalized over the level (scale = 2^l, pack constants
        // 2^57 / 2^52 / 2^26)
        def lvlSql(l: Int): String = {
          val scale = 1 << l
          s"""SELECT $l AS level, face * 144115188075855872 + $l * 4503599627370496
             | + i * 67108864 + j AS cell, count(*) AS n_pts, round(sum(bal), 4) AS bal_sum
             | FROM (SELECT face,
             |   least(${scale - 1}, greatest(0, CAST(floor((u + 1.0) * 0.5 * $scale) AS BIGINT))) AS i,
             |   least(${scale - 1}, greatest(0, CAST(floor((v + 1.0) * 0.5 * $scale) AS BIGINT))) AS j,
             |   bal FROM uv)
             | GROUP BY 1, 2""".stripMargin.replace("\n", " ")
        }
        ptsSql("customer", "c_custkey") +
          s""", faced AS (SELECT k, nx, ny, nz,
             |  CASE WHEN abs(nx) >= abs(ny) AND abs(nx) >= abs(nz) THEN (CASE WHEN nx >= 0 THEN 0 ELSE 1 END)
             |       WHEN abs(ny) >= abs(nz) THEN (CASE WHEN ny >= 0 THEN 2 ELSE 3 END)
             |       ELSE (CASE WHEN nz >= 0 THEN 4 ELSE 5 END) END AS face FROM pts),
             | uv0 AS (SELECT k, face,
             |  CASE face WHEN 0 THEN ny/nx WHEN 1 THEN nz/(-nx) WHEN 2 THEN nz/ny
             |            WHEN 3 THEN nx/(-ny) WHEN 4 THEN nx/nz ELSE ny/(-nz) END AS u,
             |  CASE face WHEN 0 THEN nz/nx WHEN 1 THEN ny/(-nx) WHEN 2 THEN nx/ny
             |            WHEN 3 THEN nz/(-ny) WHEN 4 THEN ny/nz ELSE nx/(-nz) END AS v FROM faced),
             | uv AS (SELECT uv0.face, uv0.u, uv0.v, c.c_acctbal AS bal
             |   FROM uv0 JOIN customer c ON c.c_custkey = uv0.k)
             | ${(1 to 5).map(lvlSql).mkString(" UNION ALL ")}
             | ORDER BY level, cell""".stripMargin.replace("\n", " ")
      },
      "q60_track_hausdorff" -> {
        val gc =
          s"""atan2(sqrt((va.ny*vb.nz - va.nz*vb.ny)*(va.ny*vb.nz - va.nz*vb.ny)
             | + (va.nz*vb.nx - va.nx*vb.nz)*(va.nz*vb.nx - va.nx*vb.nz)
             | + (va.nx*vb.ny - va.ny*vb.nx)*(va.nx*vb.ny - va.ny*vb.nx)),
             | va.nx*vb.nx + va.ny*vb.ny + va.nz*vb.nz)
             | * ${fmt(graft.geo.Ellipsoids.MeanEarthRadius)}""".stripMargin.replace("\n", " ")
        s"""WITH p AS (SELECT user_id, event_id,
           |   ${latSql("(user_id * 13 + 1)")} * 0.95
           |     + (((event_id * 2654435761) % 4001) / 2000.0 - 1.0) * 0.01 AS lat,
           |   ${lonSql("(user_id * 13 + 1)")} * 0.97
           |     + (((event_id * 40503) % 4001) / 2000.0 - 1.0) * 0.01 AS lon FROM events),
           | v AS (SELECT user_id, event_id, cos(lat)*cos(lon) AS nx,
           |   cos(lat)*sin(lon) AS ny, sin(lat) AS nz FROM p),
           | us AS (SELECT DISTINCT user_id FROM events),
           | pr AS (SELECT ua.user_id AS a, ub.user_id AS b FROM us ua
           |   JOIN us ub ON ub.user_id = ua.user_id + 1 WHERE ua.user_id % 3 = 0),
           | cr AS (SELECT pr.a, pr.b, va.event_id AS pa, vb.event_id AS pb, $gc AS d
           |   FROM pr JOIN v va ON va.user_id = pr.a JOIN v vb ON vb.user_id = pr.b),
           | ma AS (SELECT a, b, pa, min(d) AS md FROM cr GROUP BY a, b, pa),
           | ha AS (SELECT a, b, max(md) AS h FROM ma GROUP BY a, b),
           | mb AS (SELECT a, b, pb, min(d) AS md FROM cr GROUP BY a, b, pb),
           | hb AS (SELECT a, b, max(md) AS h FROM mb GROUP BY a, b)
           | SELECT ha.a, ha.b, round(greatest(ha.h, hb.h), 6) AS hausdorff_m
           | FROM ha JOIN hb ON hb.a = ha.a AND hb.b = ha.b
           | ORDER BY ha.a""".stripMargin.replace("\n", " ")
      },
      // track-pair DP mirrors (see dpTrackOracleSql): the Frechet and
      // DTW kernels replayed as anti-diagonal recursive CTEs
      "q76_track_frechet" -> dpTrackOracleSql("greatest(c.d, min(w.val))", "frechet_m"),
      "q79_track_dtw" -> dpTrackOracleSql("c.d + min(w.val)", "dtw_m"),
      // OD flows: jittered-track cells at level 4 (q14/q59 cell-id
      // arithmetic), lag per track, count distinct-cell transitions
      "q86_od_flows" -> {
        val scale = 16; val lvl = 4
        s"""WITH p AS (SELECT user_id, event_id,
           |   ${latSql("(user_id * 13 + 1)")} * 0.95
           |     + (((event_id * 2654435761) % 4001) / 2000.0 - 1.0) * 0.01 AS lat,
           |   ${lonSql("(user_id * 13 + 1)")} * 0.97
           |     + (((event_id * 40503) % 4001) / 2000.0 - 1.0) * 0.01 AS lon FROM events),
           | v AS (SELECT user_id, event_id, cos(lat)*cos(lon) AS nx,
           |   cos(lat)*sin(lon) AS ny, sin(lat) AS nz FROM p),
           | faced AS (SELECT user_id, event_id, nx, ny, nz,
           |  CASE WHEN abs(nx) >= abs(ny) AND abs(nx) >= abs(nz) THEN (CASE WHEN nx >= 0 THEN 0 ELSE 1 END)
           |       WHEN abs(ny) >= abs(nz) THEN (CASE WHEN ny >= 0 THEN 2 ELSE 3 END)
           |       ELSE (CASE WHEN nz >= 0 THEN 4 ELSE 5 END) END AS face FROM v),
           | uv AS (SELECT user_id, event_id, face,
           |  CASE face WHEN 0 THEN ny/nx WHEN 1 THEN nz/(-nx) WHEN 2 THEN nz/ny
           |            WHEN 3 THEN nx/(-ny) WHEN 4 THEN nx/nz ELSE ny/(-nz) END AS u,
           |  CASE face WHEN 0 THEN nz/nx WHEN 1 THEN ny/(-nx) WHEN 2 THEN nx/ny
           |            WHEN 3 THEN nz/(-ny) WHEN 4 THEN ny/nz ELSE nx/(-nz) END AS v FROM faced),
           | cellrows AS (SELECT user_id, event_id,
           |   face * 144115188075855872 + $lvl * 4503599627370496
           |   + least(${scale - 1}, greatest(0, CAST(floor((u + 1.0) * 0.5 * $scale) AS BIGINT))) * 67108864
           |   + least(${scale - 1}, greatest(0, CAST(floor((v + 1.0) * 0.5 * $scale) AS BIGINT))) AS cell
           |  FROM uv),
           | lagged AS (SELECT cell,
           |   lag(cell) OVER (PARTITION BY user_id ORDER BY event_id) AS prev FROM cellrows)
           | SELECT prev AS from_cell, cell AS to_cell, count(*) AS n_trips
           | FROM lagged WHERE prev IS NOT NULL AND prev <> cell
           | GROUP BY 1, 2 ORDER BY from_cell, to_cell""".stripMargin.replace("\n", " ")
      },
      // tile decode: the oracle re-encodes tiles (q78 arithmetic),
      // builds the quadkey STRING, parses it back digit-by-digit, and
      // inverts the projection for bounds — round-trip and
      // containment both machine-checked cross-engine
      "q85_tile_decode" -> {
        val z = 8; val n = 1L << z
        val maxLat = math.atan(math.sinh(math.Pi))
        val qk = (1 to z).map { i =>
          val s = z - i
          s"CAST(((tx >> $s) & 1) + ((ty >> $s) & 1) * 2 AS VARCHAR)"
        }.mkString(" || ")
        def parse(bit: String => String): String = (1 to z).map { i =>
          s"((${bit(s"CAST(substr(qk, $i, 1) AS BIGINT)")}) << ${z - i})"
        }.mkString(" + ")
        def latEdge(row: String): String =
          s"atan((exp(pi() * (1.0 - $row * ${fmt(2.0 / n)})) - exp(-(pi() * (1.0 - $row * ${fmt(2.0 / n)})))) / 2)"
        s"""WITH keyed AS (SELECT c_custkey AS k, ${latSql("c_custkey")} AS lat,
           |   ${lonSql("c_custkey")} AS lon FROM customer),
           | m AS (SELECT k, lat, lon, lon / (2 * pi()) + 0.5 AS fx,
           |   CASE WHEN tan(pi() / 4 + lat / 2) > 0
           |     THEN 0.5 - ln(tan(pi() / 4 + lat / 2)) / (2 * pi())
           |     ELSE 1e15 END AS fy FROM keyed),
           | t AS (SELECT k, lat, lon,
           |   least(${n - 1}, greatest(0, CAST(floor(fx * $n) AS BIGINT))) AS tx,
           |   least(${n - 1}, greatest(0, CAST(floor(fy * $n) AS BIGINT))) AS ty FROM m),
           | q AS (SELECT *, $qk AS qk FROM t),
           | d AS (SELECT *, ${parse(d => s"($d & 1)")} AS tx2, ${parse(d => s"($d >> 1)")} AS ty2,
           |   ${latEdge("ty")} AS blat_n, ${latEdge("(ty + 1)")} AS blat_s,
           |   tx / ${fmt(n.toDouble)} * (2 * pi()) - pi() AS blon_w,
           |   (tx + 1) / ${fmt(n.toDouble)} * (2 * pi()) - pi() AS blon_e FROM q)
           | SELECT k, tx, ty, tx2, ty2,
           |   round(blat_n, 9) AS lat_n, round(blat_s, 9) AS lat_s,
           |   round(blon_w, 9) AS lon_w, round(blon_e, 9) AS lon_e,
           |   CASE WHEN abs(lat) < ${fmt(maxLat)}
           |     THEN CAST(lat <= blat_n AND lat >= blat_s AND lon >= blon_w AND lon <= blon_e AS INT)
           |     ELSE -1 END AS contained
           | FROM d ORDER BY k""".stripMargin.replace("\n", " ")
      },
      // geohash: the same floor-of-fraction axis indexes, then the
      // bit interleave and base-32 alphabet unrolled character by
      // character — byte-for-byte string equality across engines
      "q84_geohash" -> {
        val p = 7; val nlon = 18; val nlat = 17
        def bitSql(k: Int): String =
          if (k % 2 == 0) s"((lon_idx >> ${nlon - 1 - k / 2}) & 1)"
          else s"((lat_idx >> ${nlat - 1 - (k - 1) / 2}) & 1)"
        val chars = (0 until p).map { c =>
          val v = (0 until 5).map(j =>
            s"${bitSql(5 * c + j)} * ${1L << (4 - j)}").mkString(" + ")
          s"substr('${graft.index.Geohash.Alphabet}', CAST(($v) AS INT) + 1, 1)"
        }.mkString(" || ")
        s"""WITH keyed AS (SELECT c_custkey AS k, ${latSql("c_custkey")} AS lat,
           |   ${lonSql("c_custkey")} AS lon FROM customer),
           | idx AS (SELECT k,
           |   least(${(1L << nlon) - 1}, greatest(0, CAST(floor((lon / (2 * pi()) + 0.5) * ${1L << nlon}) AS BIGINT))) AS lon_idx,
           |   least(${(1L << nlat) - 1}, greatest(0, CAST(floor((lat / pi() + 0.5) * ${1L << nlat}) AS BIGINT))) AS lat_idx
           |  FROM keyed)
           | SELECT k, $chars AS gh, lon_idx, lat_idx FROM idx
           | ORDER BY k""".stripMargin.replace("\n", " ")
      },
      // XYZ tile pyramid: direct per-zoom aggregation over the q78
      // mercator fractions (incl. the pole-row CASE) — the engine
      // only aggregates at zoom 7 and rolls up by shifts
      "q83_tile_rollup" -> {
        def zSql(z: Int): String = {
          val n = 1L << z
          s"""SELECT $z AS zoom,
             | least(${n - 1}, greatest(0, CAST(floor(fx * $n) AS BIGINT))) AS tx,
             | least(${n - 1}, greatest(0, CAST(floor(fy * $n) AS BIGINT))) AS ty,
             | count(*) AS n_pts, round(sum(bal), 4) AS bal_sum
             | FROM m GROUP BY 1, 2, 3""".stripMargin.replace("\n", " ")
        }
        s"""WITH keyed AS (SELECT c_custkey AS k, ${latSql("c_custkey")} AS lat,
           |   ${lonSql("c_custkey")} AS lon, c_acctbal AS bal FROM customer),
           | m AS (SELECT k, bal, lon / (2 * pi()) + 0.5 AS fx,
           |   CASE WHEN tan(pi() / 4 + lat / 2) > 0
           |     THEN 0.5 - ln(tan(pi() / 4 + lat / 2)) / (2 * pi())
           |     ELSE 1e15 END AS fy FROM keyed)
           | ${(2 to 7).map(zSql).mkString(" UNION ALL ")}
           | ORDER BY zoom, tx, ty""".stripMargin.replace("\n", " ")
      },
      // geofence transitions: inside flag per (point, fence) via the
      // convex half-plane chain (equivalence with the engine's
      // winding kernel is q15-pinned for convex boxes), then the
      // identical lag window — enter on null-prev-inside or
      // false->true, exit on true->false
      "q81_geofence" -> {
        def inzSql(a: graft.operators.SpatialJoins.Aoi): String = {
          val vs = a.vertsN
          vs.indices.map { i =>
            val p = vs(i); val q = vs((i + 1) % vs.length)
            val c = p cross q
            s"(${fmt(c.x)}*nx + ${fmt(c.y)}*ny + ${fmt(c.z)}*nz > 0)"
          }.mkString("(", " AND ", ")")
        }
        val flags = geofenceAois.map { a =>
          s"SELECT user_id, event_id, '${a.id}' AS aoi_id, ${inzSql(a)} AS inz FROM v"
        }.mkString(" UNION ALL ")
        s"""WITH p AS (SELECT user_id, event_id,
           |   ${latSql("(user_id * 13 + 1)")} * 0.95
           |     + (((event_id * 2654435761) % 4001) / 2000.0 - 1.0) * 0.01 AS lat,
           |   ${lonSql("(user_id * 13 + 1)")} * 0.97
           |     + (((event_id * 40503) % 4001) / 2000.0 - 1.0) * 0.01 AS lon FROM events),
           | v AS (SELECT user_id, event_id, cos(lat)*cos(lon) AS nx,
           |   cos(lat)*sin(lon) AS ny, sin(lat) AS nz FROM p),
           | f AS ($flags),
           | lagged AS (SELECT user_id, event_id, aoi_id, inz,
           |   lag(inz) OVER (PARTITION BY user_id, aoi_id ORDER BY event_id) AS previn FROM f)
           | SELECT user_id, event_id, aoi_id,
           |   CASE WHEN inz THEN 'enter' ELSE 'exit' END AS event
           | FROM lagged
           | WHERE (previn IS NULL AND inz) OR (previn IS NOT NULL AND previn <> inz)
           | ORDER BY user_id, aoi_id, event_id""".stripMargin.replace("\n", " ")
      },
      // implied speed: identical lag window + the q07 great-circle
      // contract divided by the id gap; first fix null speed,
      // COALESCE(false) for the flag exactly as the engine
      "q82_speed_flags" -> {
        val gc =
          """atan2(sqrt((py*nz - pz*ny)*(py*nz - pz*ny) + (pz*nx - px*nz)*(pz*nx - px*nz)
            | + (px*ny - py*nx)*(px*ny - py*nx)), px*nx + py*ny + pz*nz)""".stripMargin.replace("\n", " ")
        s"""WITH p AS (SELECT user_id, event_id,
           |   ${latSql("(user_id * 13 + 1)")} * 0.95
           |     + (((event_id * 2654435761) % 4001) / 2000.0 - 1.0) * 0.01 AS lat,
           |   ${lonSql("(user_id * 13 + 1)")} * 0.97
           |     + (((event_id * 40503) % 4001) / 2000.0 - 1.0) * 0.01 AS lon FROM events),
           | v AS (SELECT user_id, event_id, cos(lat)*cos(lon) AS nx,
           |   cos(lat)*sin(lon) AS ny, sin(lat) AS nz FROM p),
           | lagged AS (SELECT user_id, event_id, nx, ny, nz,
           |   lag(nx) OVER w AS px, lag(ny) OVER w AS py, lag(nz) OVER w AS pz,
           |   lag(CAST(event_id AS DOUBLE)) OVER w AS pt
           |  FROM v WINDOW w AS (PARTITION BY user_id ORDER BY event_id)),
           | sp AS (SELECT user_id, event_id,
           |   CASE WHEN px IS NULL THEN NULL
           |     ELSE ($gc * ${fmt(graft.geo.Ellipsoids.MeanEarthRadius)})
           |       / (CAST(event_id AS DOUBLE) - pt) END AS speed FROM lagged)
           | SELECT user_id, event_id, round(speed, 6) AS speed_mps,
           |   COALESCE(speed > 400.0, false) AS too_fast
           | FROM sp ORDER BY user_id, event_id""".stripMargin.replace("\n", " ")
      },
      // grid KDE: counts per level-4 cell (q14/q59 cell-id mirror),
      // centers by the inverse face projection (dirOf CASE table),
      // then ALL-PAIRS within the cutoff — no ring arithmetic, so
      // equality machine-checks the engine's ring-cover completeness.
      // Centers stay UNNORMALIZED: atan2(|a x b|, a.b) is scale-
      // invariant, so the angle matches the kernel's unit-vector form
      // to ulps, absorbed by round(, 6)
      "q80_kde_heatmap" -> {
        val scale = 16; val lvl = 4
        val sigma = 300e3; val cutoff = 1000e3
        s"""${ptsSql("customer", "c_custkey")},
           | faced AS (SELECT k, nx, ny, nz,
           |  CASE WHEN abs(nx) >= abs(ny) AND abs(nx) >= abs(nz) THEN (CASE WHEN nx >= 0 THEN 0 ELSE 1 END)
           |       WHEN abs(ny) >= abs(nz) THEN (CASE WHEN ny >= 0 THEN 2 ELSE 3 END)
           |       ELSE (CASE WHEN nz >= 0 THEN 4 ELSE 5 END) END AS face FROM pts),
           | uv0 AS (SELECT k, face,
           |  CASE face WHEN 0 THEN ny/nx WHEN 1 THEN nz/(-nx) WHEN 2 THEN nz/ny
           |            WHEN 3 THEN nx/(-ny) WHEN 4 THEN nx/nz ELSE ny/(-nz) END AS u,
           |  CASE face WHEN 0 THEN nz/nx WHEN 1 THEN ny/(-nx) WHEN 2 THEN nx/ny
           |            WHEN 3 THEN nz/(-ny) WHEN 4 THEN ny/nz ELSE nx/(-nz) END AS v FROM faced),
           | cnt AS (SELECT face,
           |   least(${scale - 1}, greatest(0, CAST(floor((u + 1.0) * 0.5 * $scale) AS BIGINT))) AS i,
           |   least(${scale - 1}, greatest(0, CAST(floor((v + 1.0) * 0.5 * $scale) AS BIGINT))) AS j,
           |   count(*) AS n FROM uv0 GROUP BY 1, 2, 3),
           | ctr AS (SELECT face * 144115188075855872 + $lvl * 4503599627370496
           |     + i * 67108864 + j AS cell, n,
           |   CASE face WHEN 0 THEN 1.0 WHEN 1 THEN -1.0 WHEN 2 THEN cv
           |        WHEN 3 THEN cu WHEN 4 THEN cu ELSE cv END AS cx,
           |   CASE face WHEN 0 THEN cu WHEN 1 THEN cv WHEN 2 THEN 1.0
           |        WHEN 3 THEN -1.0 WHEN 4 THEN cv ELSE cu END AS cy,
           |   CASE face WHEN 0 THEN cv WHEN 1 THEN cu WHEN 2 THEN cu
           |        WHEN 3 THEN cv WHEN 4 THEN 1.0 ELSE -1.0 END AS cz
           |  FROM (SELECT face, i, j, n, (i + 0.5) * 2.0 / $scale - 1.0 AS cu,
           |          (j + 0.5) * 2.0 / $scale - 1.0 AS cv FROM cnt)),
           | pairs AS (SELECT t.cell, t.n,
           |   atan2(sqrt((t.cy*s.cz - t.cz*s.cy)*(t.cy*s.cz - t.cz*s.cy)
           |     + (t.cz*s.cx - t.cx*s.cz)*(t.cz*s.cx - t.cx*s.cz)
           |     + (t.cx*s.cy - t.cy*s.cx)*(t.cx*s.cy - t.cy*s.cx)),
           |     t.cx*s.cx + t.cy*s.cy + t.cz*s.cz)
           |     * ${fmt(graft.geo.Ellipsoids.MeanEarthRadius)} AS d, s.n AS sn
           |  FROM ctr t JOIN ctr s ON true)
           | SELECT cell, n, round(sum(sn * exp(-(d * d) / ${fmt(2.0 * sigma * sigma)})), 6) AS density
           | FROM pairs WHERE d <= $cutoff GROUP BY cell, n
           | ORDER BY cell""".stripMargin.replace("\n", " ")
      },
      "q61_bm25" ->
        """WITH dl AS (SELECT doc_id,
          |   len(list_filter(string_split(lower(regexp_replace(text, '[^A-Za-z0-9]+', ' ', 'g')), ' '),
          |       x -> x <> '')) AS dl FROM documents),
          | stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM dl),
          | toks AS (SELECT doc_id,
          |   unnest(string_split(lower(regexp_replace(text, '[^A-Za-z0-9]+', ' ', 'g')), ' ')) AS t
          |   FROM documents),
          | tf AS (SELECT doc_id, t, CAST(count(*) AS DOUBLE) AS tf FROM toks
          |   WHERE t IN ('spark', 'vector', 'merge') GROUP BY doc_id, t),
          | dft AS (SELECT t, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY t),
          | sc AS (SELECT tf.doc_id,
          |   ln(1.0 + (s.n_docs - dft.df + 0.5) / (dft.df + 0.5)) * tf.tf * (1.2 + 1.0)
          |     / (tf.tf + 1.2 * ((1.0 - 0.75) + 0.75 * dl.dl / s.avgdl)) AS sco
          |   FROM tf JOIN dft ON dft.t = tf.t JOIN dl ON dl.doc_id = tf.doc_id
          |   CROSS JOIN stats s)
          | SELECT doc_id, round(sum(sco), 6) AS score FROM sc GROUP BY doc_id
          | ORDER BY doc_id""".stripMargin.replace("\n", " "),
      // corpus-level shared n-grams: every gram hash recomputed
      // relationally with the q45 md5-60 hash convention; df over
      // per-doc DISTINCT grams, count includes the doc itself
      "q62_boilerplate" ->
        """WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS ws
          |   FROM documents WHERE text IS NOT NULL),
          | g AS (SELECT DISTINCT doc_id,
          |   CAST(('0x' || substr(md5(gram), 1, 15)) AS BIGINT) AS gh
          |   FROM (SELECT doc_id, unnest(list_transform(generate_series(0, len(ws) - 3),
          |     i -> array_to_string(ws[i+1:i+3], ' '))) AS gram
          |    FROM w WHERE len(ws) >= 3)),
          | dfq AS (SELECT gh FROM g GROUP BY gh HAVING count(*) >= 3),
          | sh AS (SELECT doc_id, count(*) AS shared FROM g JOIN dfq USING (gh) GROUP BY doc_id),
          | tot AS (SELECT doc_id, count(*) AS total FROM g GROUP BY doc_id)
          | SELECT d.doc_id, coalesce(tot.total, 0) AS total_grams,
          |   coalesce(sh.shared, 0) AS shared_grams,
          |   round(coalesce(sh.shared, 0) * 1.0 / greatest(coalesce(tot.total, 0), 1), 6) AS boilerplate_frac
          | FROM documents d LEFT JOIN tot USING (doc_id) LEFT JOIN sh USING (doc_id)
          | WHERE d.text IS NOT NULL ORDER BY doc_id""".stripMargin.replace("\n", " "),
      // add-k unigram LM, model = doc_id % 5 = 0 slice; identical
      // smoothing arithmetic, ln in both engines
      "q63_unigram_lm" ->
        """WITH tr AS (SELECT unnest(string_split(lower(text), ' ')) AS token
          |   FROM documents WHERE doc_id % 5 = 0 AND text IS NOT NULL),
          | m AS (SELECT token, count(*) AS cnt FROM tr GROUP BY token),
          | st AS (SELECT CAST(sum(cnt) AS DOUBLE) AS n, CAST(count(*) AS DOUBLE) AS v FROM m),
          | sc AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
          |   FROM documents WHERE text IS NOT NULL),
          | j AS (SELECT sc.doc_id,
          |   -ln((CAST(coalesce(m.cnt, 0) AS DOUBLE) + 0.5) / (st.n + 0.5 * (st.v + 1.0))) AS nll
          |   FROM sc LEFT JOIN m USING (token) CROSS JOIN st)
          | SELECT doc_id, count(*) AS n_tokens, round(avg(nll), 6) AS avg_nll
          | FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin.replace("\n", " "),
      // PII: IDENTICAL pattern strings (Java/RE2-common subset) and
      // identical planted-text expressions on both sides
      "q64_pii_redact" -> {
        val em = TextAnalysis.EmailRe
        val ph = TextAnalysis.PhoneRe
        val ip = TextAnalysis.Ipv4Re
        s"""WITH planted AS (SELECT doc_id, text ||
           |   CASE WHEN doc_id % 3 = 0 THEN ' reach user' || doc_id || '@mail' || (doc_id % 5) || '.org' ELSE '' END ||
           |   CASE WHEN doc_id % 4 = 1 THEN ' call +1-555-123-' || lpad(CAST((doc_id * 7) % 10000 AS VARCHAR), 4, '0') ELSE '' END ||
           |   CASE WHEN doc_id % 5 = 2 THEN ' from 10.' || (doc_id % 256) || '.' || ((doc_id * 3) % 256) || '.7' ELSE '' END AS text
           |  FROM documents)
           | SELECT doc_id,
           |   len(regexp_extract_all(text, '$em')) AS emails,
           |   len(regexp_extract_all(text, '$ph')) AS phones,
           |   len(regexp_extract_all(text, '$ip')) AS ips,
           |   regexp_replace(regexp_replace(regexp_replace(text,
           |     '$em', '[EMAIL]', 'g'), '$ph', '[PHONE]', 'g'), '$ip', '[IP]', 'g') AS redacted
           | FROM planted ORDER BY doc_id""".stripMargin.replace("\n", " ")
      },
      // end-to-end near-dup resolution: q45's signature + pair mirror,
      // closed with q49's recursive reachability, minus-join for the
      // keeper set
      "q65_neardup_resolve" ->
        """WITH RECURSIVE sh AS (SELECT doc_id, substr(lower(text), t.i + 1, 5) AS s
          |   FROM documents CROSS JOIN generate_series(0, 2047) t(i)
          |   WHERE t.i <= greatest(length(text) - 5, 0)),
          | hs AS (SELECT doc_id, CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) AS h FROM sh),
          | votes AS (SELECT doc_id, gb.b AS b,
          |   sum(CASE WHEN (h >> gb.b) & 1 = 1 THEN 1 ELSE -1 END) AS v
          |   FROM hs CROSS JOIN generate_series(0, 59) gb(b) GROUP BY doc_id, gb.b),
          | sg AS (SELECT doc_id, CAST(sum(CASE WHEN v >= 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS fp
          |   FROM votes GROUP BY doc_id),
          | star AS (SELECT min(doc_id) OVER (PARTITION BY fp) AS rep, doc_id, fp FROM sg),
          | starpairs AS (SELECT rep AS id_a, doc_id AS id_b FROM star WHERE doc_id <> rep),
          | reps AS (SELECT doc_id, fp FROM star WHERE doc_id = rep),
          | brute AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
          |   FROM reps a JOIN reps b ON a.doc_id < b.doc_id
          |   WHERE bit_count(xor(a.fp, b.fp)) <= 3),
          | p0 AS (SELECT id_a, id_b FROM brute UNION SELECT id_a, id_b FROM starpairs),
          | edges AS (SELECT id_a AS src, id_b AS dst FROM p0 UNION SELECT id_b, id_a FROM p0),
          | reach AS (SELECT src AS node, src AS lab FROM edges
          |   UNION SELECT e.src, r.lab FROM edges e JOIN reach r ON r.node = e.dst),
          | comp AS (SELECT node, min(lab) AS component FROM reach GROUP BY node),
          | dropn AS (SELECT node FROM comp WHERE component <> node)
          | SELECT doc_id FROM documents WHERE doc_id NOT IN (SELECT node FROM dropn)
          | ORDER BY doc_id""".stripMargin.replace("\n", " "),
      // signed boundary distance: per-edge clamped segment distance
      // (foot-on-arc test via signed triple products, endpoint
      // fallback), min over edges, sign from q15's half-plane inside
      // test; every edge/normal constant inlined at full precision
      "q67_aoi_boundary_dist" -> {
        val both = s"(${boundaryAoiSql("box_a", BoxA)}) UNION ALL (${boundaryAoiSql("box_b", BoxB)})"
        ptsSql("customer", "c_custkey") +
          s"SELECT k AS c_custkey, aoi_id, round(sd * ${fmt(R)} / 1000.0, 6) AS dist_km " +
          s"FROM ($both) ORDER BY c_custkey, aoi_id"
      },
      // buffered AOI join: the oracle computes the signed boundary
      // distance for EVERY (point, aoi) pair and filters at the
      // buffer — any qualifying point the engine's grown cell cover
      // dropped would surface as a missing row
      "q89_corridor_join" -> {
        def routeSql(id: String, vs: Seq[(Double, Double)]): String = {
          val vn = vs.map { case (la, lo) =>
            graft.geo.Gade.latLonToNvec(math.toRadians(la), math.toRadians(lo)) }
          val union = vn.indices.init
            .map(i => s"(${segDistSql(vn(i), vn(i + 1))})")
            .mkString(" UNION ALL ")
          s"SELECT k, '$id' AS route_id, min(d) AS md FROM ($union) GROUP BY k"
        }
        val both = s"(${routeSql("r_a", RouteA)}) UNION ALL (${routeSql("r_b", RouteB)})"
        ptsSql("customer", "c_custkey") +
          s"SELECT k AS c_custkey, route_id, round(md * ${fmt(R)} / 1000.0, 6) AS dist_km " +
          s"FROM ($both) WHERE md * ${fmt(R)} <= 300000.0 ORDER BY c_custkey, route_id"
      },
      "q87_aoi_holes" -> (
        ptsSql("customer", "c_custkey") +
          s"SELECT k AS c_custkey, 'm1' AS aoi_id FROM pts " +
          s"WHERE ${ringsInsideSql(MultiRings)} ORDER BY c_custkey, aoi_id"),
      "q90_polygon_table" -> {
        val parts = PolyTable.map { case (id, r) =>
          s"SELECT k, '$id' AS poly_id FROM pts WHERE ${ringsInsideSql(r)}" }
          .mkString(" UNION ALL ")
        ptsSql("customer", "c_custkey") +
          s"SELECT k AS c_custkey, poly_id FROM ($parts) " +
          s"ORDER BY c_custkey, poly_id"
      },
      "q92_polygon_intersect" -> q92MirrorSql,
      "q94_polygon_dissolve" -> q94MirrorSql,
      "q95_nearest_polygon" -> q95MirrorSql,
      "q96_nearest_route" -> q96MirrorSql,
      "q93_zonal_stats" -> {
        val parts = PolyTable.map { case (id, r) =>
          s"SELECT k, '$id' AS poly_id FROM pts WHERE ${ringsInsideSql(r)}" }
          .mkString(" UNION ALL ")
        ptsSql("customer", "c_custkey") +
          s"SELECT poly_id, count(*) AS n_points, " +
          s"CAST(sum(CAST(round(c.c_acctbal * 100) AS BIGINT)) AS BIGINT) AS sum_cents, " +
          s"min(c.c_acctbal) AS min_bal, max(c.c_acctbal) AS max_bal, " +
          s"round(CAST(sum(CAST(round(c.c_acctbal * 100) AS BIGINT)) AS BIGINT) / 100.0 / count(*), 6) AS avg_bal " +
          s"FROM ($parts) p JOIN customer c ON c.c_custkey = p.k " +
          s"GROUP BY poly_id ORDER BY poly_id"
      },
      "q91_polygon_buffer" -> {
        val parts = PolyTable.map { case (id, r) =>
          s"(${boundaryRingsSql(id, r)})" }.mkString(" UNION ALL ")
        ptsSql("customer", "c_custkey") +
          s"SELECT k AS c_custkey, aoi_id AS poly_id, " +
          s"round(sd * ${fmt(R)} / 1000.0, 6) AS dist_km " +
          s"FROM ($parts) WHERE sd * ${fmt(R)} <= 400000.0 " +
          s"ORDER BY c_custkey, poly_id"
      },
      "q88_rings_buffer" -> (
        ptsSql("customer", "c_custkey") +
          s"SELECT k AS c_custkey, aoi_id, round(sd * ${fmt(R)} / 1000.0, 6) AS dist_km " +
          s"FROM (${boundaryRingsSql("m1", MultiRings)}) " +
          s"WHERE sd * ${fmt(R)} <= 500000.0 ORDER BY c_custkey, aoi_id"),
      "q70_aoi_buffer_join" -> {
        val both = s"(${boundaryAoiSql("box_a", BoxA)}) UNION ALL (${boundaryAoiSql("box_b", BoxB)})"
        ptsSql("customer", "c_custkey") +
          s"SELECT k AS c_custkey, aoi_id, round(sd * ${fmt(R)} / 1000.0, 6) AS dist_km " +
          s"FROM ($both) WHERE sd * ${fmt(R)} <= 800000.0 ORDER BY c_custkey, aoi_id"
      },
      // DBSCAN: all-pairs eps graph, degree-based cores, recursive
      // reachability over core-core edges (min label = the engine's
      // min-label-propagation component), border = min neighboring
      // core label — deterministic min-id tie rules on both sides
      "q72_dbscan" -> {
        val gc = "atan2(sqrt((a.ny*b.nz - a.nz*b.ny)*(a.ny*b.nz - a.nz*b.ny) + " +
          "(a.nz*b.nx - a.nx*b.nz)*(a.nz*b.nx - a.nx*b.nz) + " +
          "(a.nx*b.ny - a.ny*b.nx)*(a.nx*b.ny - a.ny*b.nx)), " +
          "a.nx*b.nx + a.ny*b.ny + a.nz*b.nz)"
        s"""WITH RECURSIVE keyed AS (SELECT c_custkey AS k, ${latSql("c_custkey")} AS lat, ${lonSql("c_custkey")} AS lon FROM customer),
           | pts AS (SELECT k, cos(lat)*cos(lon) AS nx, cos(lat)*sin(lon) AS ny, sin(lat) AS nz FROM keyed),
           | pairs AS (SELECT a.k AS ka, b.k AS kb FROM pts a JOIN pts b
           |   ON a.k <> b.k AND $gc * ${fmt(R)} <= 600000.0),
           | cores AS (SELECT ka AS k FROM pairs GROUP BY ka HAVING count(*) + 1 >= 4),
           | ce AS (SELECT p.ka, p.kb FROM pairs p JOIN cores x ON p.ka = x.k JOIN cores y ON p.kb = y.k),
           | reach AS (SELECT k AS node, k AS lab FROM cores
           |   UNION SELECT e.ka, r.lab FROM ce e JOIN reach r ON r.node = e.kb),
           | corelbl AS (SELECT node AS k, min(lab) AS cluster FROM reach GROUP BY node),
           | nbr AS (SELECT p.ka AS k, min(cl.cluster) AS cluster FROM pairs p JOIN corelbl cl ON p.kb = cl.k GROUP BY p.ka)
           | SELECT c.k AS c_custkey, coalesce(cl.cluster, nbr.cluster, -1) AS cluster,
           |   CASE WHEN cl.k IS NOT NULL THEN 'core' WHEN nbr.k IS NOT NULL THEN 'border' ELSE 'noise' END AS kind
           | FROM pts c LEFT JOIN corelbl cl ON cl.k = c.k LEFT JOIN nbr ON nbr.k = c.k
           | ORDER BY c_custkey""".stripMargin.replace("\n", " ")
      },
      // IDW: brute-force all-pairs mirror of the disc-cover join +
      // weighted quotient, identical distance formula and clamp
      "q73_idw" -> {
        val gc = "atan2(sqrt((s.ny*q.sz - s.nz*q.sy)*(s.ny*q.sz - s.nz*q.sy) + " +
          "(s.nz*q.sx - s.nx*q.sz)*(s.nz*q.sx - s.nx*q.sz) + " +
          "(s.nx*q.sy - s.ny*q.sx)*(s.nx*q.sy - s.ny*q.sx)), " +
          "s.nx*q.sx + s.ny*q.sy + s.nz*q.sz)"
        s"""WITH ck AS (SELECT c_custkey AS k, c_acctbal AS v, ${latSql("c_custkey")} AS lat, ${lonSql("c_custkey")} AS lon FROM customer),
           | c AS (SELECT k, v, cos(lat)*cos(lon) AS nx, cos(lat)*sin(lon) AS ny, sin(lat) AS nz FROM ck),
           | sk AS (SELECT s_suppkey AS sk2, ${latSql(suppKeySql)} AS lat, ${lonSql(suppKeySql)} AS lon FROM supplier),
           | sp AS (SELECT sk2, cos(lat)*cos(lon) AS sx, cos(lat)*sin(lon) AS sy, sin(lat) AS sz FROM sk),
           | pairs AS (SELECT sk2, v, d FROM (SELECT q.sk2, s.v, $gc * ${fmt(R)} AS d FROM sp q CROSS JOIN c s) WHERE d <= 2000000.0),
           | agg AS (SELECT sk2, sum(v / pow(greatest(d, 1.0), 2)) / sum(1.0 / pow(greatest(d, 1.0), 2)) AS est,
           |   count(*) AS n FROM pairs GROUP BY sk2)
           | SELECT q.sk2 AS s_suppkey, coalesce(round(agg.est, 2), -999.0) AS est,
           |   coalesce(agg.n, 0) AS n_samples
           | FROM sp q LEFT JOIN agg ON agg.sk2 = q.sk2 ORDER BY s_suppkey""".stripMargin.replace("\n", " ")
      },
      // joint multimodal dedup: q45's fingerprint brute-force mirror
      // (star + representative pairs) filtered by q52's word-trigram
      // Jaccard convention — both predicates replayed relationally
      "q74_joint_neardups" ->
        """WITH sh AS (SELECT doc_id, substr(lower(text), t.i + 1, 5) AS s
          |   FROM documents CROSS JOIN generate_series(0, 2047) t(i)
          |   WHERE t.i <= greatest(length(text) - 5, 0)),
          | hs AS (SELECT doc_id, CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) AS h FROM sh),
          | votes AS (SELECT doc_id, gb.b AS b,
          |   sum(CASE WHEN (h >> gb.b) & 1 = 1 THEN 1 ELSE -1 END) AS v
          |   FROM hs CROSS JOIN generate_series(0, 59) gb(b) GROUP BY doc_id, gb.b),
          | sg AS (SELECT doc_id, CAST(sum(CASE WHEN v >= 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS fp
          |   FROM votes GROUP BY doc_id),
          | star AS (SELECT min(doc_id) OVER (PARTITION BY fp) AS rep, doc_id, fp FROM sg),
          | starpairs AS (SELECT rep AS id_a, doc_id AS id_b, 0 AS hamming
          |   FROM star WHERE doc_id <> rep),
          | reps AS (SELECT doc_id, fp FROM star WHERE doc_id = rep),
          | brute AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          |     CAST(bit_count(xor(a.fp, b.fp)) AS INT) AS hamming
          |   FROM reps a JOIN reps b ON a.doc_id < b.doc_id
          |   WHERE bit_count(xor(a.fp, b.fp)) <= 3),
          | pairs0 AS (SELECT id_a, id_b, hamming FROM brute
          |   UNION ALL SELECT id_a, id_b, hamming FROM starpairs),
          | words AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
          | grams AS (SELECT DISTINCT doc_id, array_to_string(w[i+1:i+3], ' ') AS g
          |   FROM (SELECT doc_id, w,
          |     unnest(generate_series(0, greatest(len(w) - 3, 0))) AS i FROM words)),
          | gn AS (SELECT doc_id, count(*) AS c FROM grams GROUP BY doc_id),
          | it AS (SELECT p.id_a, p.id_b, count(*) AS c FROM pairs0 p
          |   JOIN grams ga ON ga.doc_id = p.id_a
          |   JOIN grams gb ON gb.doc_id = p.id_b AND gb.g = ga.g
          |   GROUP BY p.id_a, p.id_b),
          | jac AS (SELECT p.id_a, p.id_b, p.hamming,
          |   CAST(coalesce(it.c, 0) AS DOUBLE) / greatest(ga.c + gb.c - coalesce(it.c, 0), 1) AS j
          |   FROM pairs0 p JOIN gn ga ON ga.doc_id = p.id_a JOIN gn gb ON gb.doc_id = p.id_b
          |   LEFT JOIN it ON it.id_a = p.id_a AND it.id_b = p.id_b)
          | SELECT id_a, id_b, hamming, round(j, 6) AS jaccard FROM jac
          | WHERE j >= 0.975 ORDER BY id_a, id_b""".stripMargin.replace("\n", " "),
      // snap-to-route: every (route, segment) distance + foot
      // replayed relationally, argmin by (d, route, seg) = the
      // engine's least-struct order
      "q75_snap_route" -> {
        val all = s"(${snapRouteSql("alpha", RouteA)}) UNION ALL (${snapRouteSql("beta", RouteB)})"
        ptsSql("customer", "c_custkey") +
          s""", best AS (SELECT *, row_number() OVER (PARTITION BY k ORDER BY d, route_id, seg) AS rn
             |   FROM ($all))
             | SELECT k AS c_custkey, route_id, seg, round(d * ${fmt(R)} / 1000.0, 6) AS dist_km,
             |   round(degrees(atan2(fz, sqrt(fx*fx + fy*fy))), 6) AS snap_lat,
             |   round(degrees(atan2(fy, fx)), 6) AS snap_lon
             | FROM best WHERE rn = 1 ORDER BY c_custkey""".stripMargin.replace("\n", " ")
      },
      // convex hull: i is a hull vertex iff SOME great circle through
      // i and another point j has every OTHER point on one closed
      // side (k = i/j excluded — their dets are mathematically zero
      // but float to ~1e-17 either sign); groups of <= 2 points are
      // their own hull
      "q77_convex_hull" -> {
        val det = "(i.ny*j.nz - i.nz*j.ny)*k.nx + (i.nz*j.nx - i.nx*j.nz)*k.ny + " +
          "(i.nx*j.ny - i.ny*j.nx)*k.nz"
        s"""WITH keyed AS (SELECT c_custkey AS ck, ${latSql("c_custkey")} AS lat, ${lonSql("c_custkey")} AS lon FROM customer),
           | p0 AS (SELECT ck, lat, lon, cos(lat)*cos(lon) AS nx, cos(lat)*sin(lon) AS ny, sin(lat) AS nz FROM keyed),
           | f AS (SELECT ck, CAST(ck % 5 AS INT) AS grp, nx, ny, nz FROM p0
           |   WHERE lat > radians(10.0) AND lat < radians(70.0)
           |     AND lon > radians(-40.0) AND lon < radians(40.0)),
           | cnt AS (SELECT grp, count(*) AS c FROM f GROUP BY grp),
           | trips AS (SELECT i.grp, i.ck AS ki, j.ck AS kj, min($det) AS mn, max($det) AS mx
           |   FROM f i JOIN f j ON j.grp = i.grp AND j.ck <> i.ck
           |   JOIN f k ON k.grp = i.grp AND k.ck <> i.ck AND k.ck <> j.ck
           |   GROUP BY i.grp, i.ck, j.ck),
           | hull AS (SELECT DISTINCT grp, ki FROM trips WHERE mn >= 0 OR mx <= 0),
           | small AS (SELECT f.grp, f.ck AS ki FROM f JOIN cnt USING (grp) WHERE cnt.c <= 2)
           | SELECT grp, ki AS c_custkey FROM (SELECT * FROM hull UNION SELECT * FROM small)
           | ORDER BY grp, c_custkey""".stripMargin.replace("\n", " ")
      },
      // web-mercator tiles: the oracle projects EVERY zoom directly
      // (floor(f * 2^z) with the OSM formula) and rebuilds each
      // zoom's quadkey digit-by-digit — the engine only projects the
      // finest zoom and shifts/substrings, so equality machine-checks
      // the floor(f*2^finest) >> d == floor(f*2^z) derivation and the
      // quadkey prefix property at once. c_custkey = 0 sits EXACTLY on
      // the south pole (lat = -pi/2 -> half-angle tan arg = 0), where
      // Spark's log yields NULL (coalesced to +inf -> bottom row) but
      // DuckDB's ln(0) ERRORS — the CASE mirrors the clamp with a
      // finite sentinel (1e15 * 2^8 stays far inside BIGINT)
      "q78_tile_assign" -> {
        def zSql(z: Int): String = {
          val n = 1L << z
          val qk = (1 to z).map { i =>
            val s = z - i
            s"CAST(((tx >> $s) & 1) + ((ty >> $s) & 1) * 2 AS VARCHAR)"
          }.mkString(" || ")
          s"""SELECT k, $z AS zoom, tx, ty, $qk AS qk FROM
             | (SELECT k,
             |   least(${n - 1}, greatest(0, CAST(floor(fx * $n) AS BIGINT))) AS tx,
             |   least(${n - 1}, greatest(0, CAST(floor(fy * $n) AS BIGINT))) AS ty
             |  FROM m)""".stripMargin.replace("\n", " ")
        }
        s"""WITH keyed AS (SELECT c_custkey AS k, ${latSql("c_custkey")} AS lat, ${lonSql("c_custkey")} AS lon FROM customer),
           | m AS (SELECT k, lon / (2 * pi()) + 0.5 AS fx,
           |   CASE WHEN tan(pi() / 4 + lat / 2) > 0
           |     THEN 0.5 - ln(tan(pi() / 4 + lat / 2)) / (2 * pi())
           |     ELSE 1e15 END AS fy FROM keyed)
           | ${(2 to 8).map(zSql).mkString(" UNION ALL ")}
           | ORDER BY zoom, k""".stripMargin.replace("\n", " ")
      },
      // URL normalization: identical planted text and pattern chain
      // (WebText.normalizeUrlSql keeps the two engines' patterns from
      // drifting); RE2 replacement syntax (\1) differs from Java's
      // ($1) but the semantics are shared
      "q68_url_normalize" -> {
        val u = "regexp_extract(text, '" + WebText.UrlRe + "')"
        s"""WITH planted AS (SELECT doc_id, text ||
           |   CASE WHEN doc_id % 2 = 0
           |     THEN ' see https://EX' || (doc_id % 7) || '.COM:443/a' || doc_id || '?utm_source=x&id=' || doc_id || '#f'
           |     ELSE ' via http://site' || (doc_id % 5) || '.org:80/p' || doc_id || '/' END ||
           |   CASE WHEN doc_id % 3 = 0 THEN ' plus http://x.io/q?utm_campaign=z' ELSE '' END AS text
           |  FROM documents)
           | SELECT doc_id,
           |   len(regexp_extract_all(text, '${WebText.UrlRe}')) AS n_urls,
           |   lower(regexp_extract($u, '^https?://([^/:?#]+)', 1)) AS host,
           |   lower(${WebText.normalizeUrlSql(u)}) AS url_key
           | FROM planted ORDER BY doc_id""".stripMargin.replace("\n", " ")
      },
      // greedy packing: per-shard linear recursion replaying the
      // kernel's close-bin-on-overflow walk in id order
      "q69_seq_packing" ->
        """WITH RECURSIVE d AS (SELECT doc_id,
          |   CAST(len(string_split(text, ' ')) AS BIGINT) AS len,
          |   CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 8 AS INT) AS shard
          |  FROM documents WHERE text IS NOT NULL),
          | o AS (SELECT *, row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS rn FROM d),
          | pack AS (
          |   SELECT shard, rn, doc_id, len, 0 AS bin, len AS fill FROM o WHERE rn = 1
          |   UNION ALL
          |   SELECT o.shard, o.rn, o.doc_id, o.len,
          |     CASE WHEN p.fill + o.len <= 200 THEN p.bin ELSE p.bin + 1 END,
          |     CASE WHEN p.fill + o.len <= 200 THEN p.fill + o.len ELSE o.len END
          |   FROM pack p JOIN o ON o.shard = p.shard AND o.rn = p.rn + 1)
          | SELECT doc_id, shard, bin, fill FROM pack ORDER BY doc_id""".stripMargin.replace("\n", " "),
      // contamination: q62's gram CTE joined against the eval slice's
      // distinct grams; LEFT JOIN + count of hits = left-semi count
      "q66_contamination" ->
        """WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS ws
          |   FROM documents WHERE text IS NOT NULL),
          | g AS (SELECT DISTINCT doc_id,
          |   CAST(('0x' || substr(md5(gram), 1, 15)) AS BIGINT) AS gh
          |   FROM (SELECT doc_id, unnest(list_transform(generate_series(0, len(ws) - 3),
          |     i -> array_to_string(ws[i+1:i+3], ' '))) AS gram
          |    FROM w WHERE len(ws) >= 3)),
          | ev AS (SELECT DISTINCT gh FROM g WHERE doc_id % 7 = 3),
          | ov AS (SELECT doc_id, count(*) AS ovr FROM g JOIN ev USING (gh) GROUP BY doc_id),
          | tot AS (SELECT doc_id, count(*) AS total FROM g GROUP BY doc_id)
          | SELECT d.doc_id, coalesce(tot.total, 0) AS total_grams,
          |   coalesce(ov.ovr, 0) AS overlap_grams,
          |   coalesce(ov.ovr, 0) >= 2 AS contaminated
          | FROM documents d LEFT JOIN tot USING (doc_id) LEFT JOIN ov USING (doc_id)
          | WHERE d.text IS NOT NULL ORDER BY doc_id""".stripMargin.replace("\n", " "),
      "q50_asof_join" ->
        """WITH l AS (SELECT event_id, user_id FROM events WHERE event_type = 'click'),
          | r AS (SELECT event_id AS p_event, user_id, value FROM events WHERE event_type = 'purchase'),
          | j AS (SELECT l.event_id, l.user_id, r.p_event, r.value,
          |   row_number() OVER (PARTITION BY l.event_id ORDER BY r.p_event DESC NULLS LAST) AS rn
          |   FROM l LEFT JOIN r ON l.user_id = r.user_id AND r.p_event <= l.event_id
          |     AND l.event_id - r.p_event <= 3000)
          | SELECT event_id, user_id, p_event AS r_p_event, round(value, 6) AS r_value
          | FROM j WHERE rn = 1 ORDER BY event_id""".stripMargin.replace("\n", " "),
      "q51_polygon_area" -> {
        // pentagon vertex offsets at the EXACT doubles the engine
        // embeds; triangle terms reproduce geo.triangleExcess's
        // floating-op order (left-assoc sums, same cross/dot layout)
        val offs = (0 until 5).map { j =>
          val ang = 2.0 * math.Pi * j / 5.0
          (fmt(0.02 * math.cos(ang)), fmt(0.02 * math.sin(ang)))
        }
        val vcols = offs.zipWithIndex.map { case ((dla, dlo), j) =>
          s"""cos(lat*0.9 + $dla)*cos(lon*0.98 + $dlo) AS x$j,
             | cos(lat*0.9 + $dla)*sin(lon*0.98 + $dlo) AS y$j,
             | sin(lat*0.9 + $dla) AS z$j""".stripMargin.replace("\n", " ")
        }.mkString(", ")
        def tri(a: Int, b: Int, c: Int): String =
          s"""2.0*atan2(x$a*(y$b*z$c - z$b*y$c) + y$a*(z$b*x$c - x$b*z$c) + z$a*(x$b*y$c - y$b*x$c),
             | 1.0 + (x$a*x$b + y$a*y$b + z$a*z$b) + (x$b*x$c + y$b*y$c + z$b*z$c)
             | + (x$c*x$a + y$c*y$a + z$c*z$a))""".stripMargin.replace("\n", " ")
        val r2 = fmt(6371009.0 * 6371009.0)
        s"""WITH keyed AS (SELECT c_custkey AS k, ${latSql("c_custkey")} AS lat,
           | ${lonSql("c_custkey")} AS lon FROM customer),
           | v AS (SELECT k, $vcols FROM keyed),
           | tri AS (SELECT k, ${tri(0, 1, 2)} + ${tri(0, 2, 3)} + ${tri(0, 3, 4)} AS exc FROM v)
           | SELECT k AS c_custkey, round(exc, 9) AS excess_sr,
           |   round(abs(exc) * $r2 / 1000000.0, 3) AS area_km2
           | FROM tri ORDER BY c_custkey""".stripMargin.replace("\n", " ")
      },
      "q52_ngram_jaccard" ->
        """WITH words AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
          | grams AS (SELECT DISTINCT doc_id, array_to_string(w[i+1:i+3], ' ') AS g
          |   FROM (SELECT doc_id, w,
          |     unnest(generate_series(0, greatest(len(w) - 3, 0))) AS i FROM words)),
          | twords AS (SELECT doc_id,
          |   string_split(lower(substr(text, 1, CAST(floor(n_chars * 3 / 5) AS INT))), ' ') AS w
          |   FROM documents),
          | tgrams AS (SELECT DISTINCT doc_id, array_to_string(w[i+1:i+3], ' ') AS g
          |   FROM (SELECT doc_id, w,
          |     unnest(generate_series(0, greatest(len(w) - 3, 0))) AS i FROM twords)),
          | gn AS (SELECT doc_id, count(*) AS c FROM grams GROUP BY doc_id),
          | tn AS (SELECT doc_id, count(*) AS c FROM tgrams GROUP BY doc_id),
          | it AS (SELECT a.doc_id, count(*) AS c FROM grams a
          |   JOIN tgrams b ON b.doc_id = a.doc_id AND b.g = a.g GROUP BY a.doc_id),
          | inx AS (SELECT a.doc_id, count(*) AS c FROM grams a
          |   JOIN grams b ON b.doc_id = a.doc_id + 1 AND b.g = a.g GROUP BY a.doc_id),
          | nn AS (SELECT doc_id - 1 AS doc_id, c FROM gn)
          | SELECT d.doc_id,
          |   round(CAST(coalesce(it.c, 0) AS DOUBLE) / greatest(gn.c + tn.c - coalesce(it.c, 0), 1), 6) AS j_trunc,
          |   CASE WHEN nn.c IS NULL THEN NULL ELSE
          |     round(CAST(coalesce(inx.c, 0) AS DOUBLE) / greatest(gn.c + nn.c - coalesce(inx.c, 0), 1), 6)
          |   END AS j_next
          | FROM documents d JOIN gn USING (doc_id) JOIN tn USING (doc_id)
          | LEFT JOIN it ON it.doc_id = d.doc_id
          | LEFT JOIN inx ON inx.doc_id = d.doc_id
          | LEFT JOIN nn ON nn.doc_id = d.doc_id
          | ORDER BY d.doc_id""".stripMargin.replace("\n", " "),
      "q97_route_cross" -> q97MirrorSql,
      // dwell: the q81 p/v track CTEs + ONE per-track lead window for
      // the inter-fix gap, then the per-fence CASE sums — DOUBLE sums
      // of exact integers, order-independent
      "q98_track_dwell" -> {
        def inzSql(a: graft.operators.SpatialJoins.Aoi): String = {
          val vs = a.vertsN
          vs.indices.map { i =>
            val p = vs(i); val q = vs((i + 1) % vs.length)
            val c = p cross q
            s"(${fmt(c.x)}*nx + ${fmt(c.y)}*ny + ${fmt(c.z)}*nz > 0)"
          }.mkString("(", " AND ", ")")
        }
        val flags = geofenceAois.map { a =>
          s"SELECT user_id, '${a.id}' AS aoi_id, " +
            s"CASE WHEN ${inzSql(a)} AND dt IS NOT NULL THEN dt ELSE 0.0 END AS indt, " +
            s"CASE WHEN ${inzSql(a)} THEN 1 END AS infix FROM d"
        }.mkString(" UNION ALL ")
        s"""WITH p AS (SELECT user_id, event_id,
           |   ${latSql("(user_id * 13 + 1)")} * 0.95
           |     + (((event_id * 2654435761) % 4001) / 2000.0 - 1.0) * 0.01 AS lat,
           |   ${lonSql("(user_id * 13 + 1)")} * 0.97
           |     + (((event_id * 40503) % 4001) / 2000.0 - 1.0) * 0.01 AS lon FROM events),
           | v AS (SELECT user_id, event_id, cos(lat)*cos(lon) AS nx,
           |   cos(lat)*sin(lon) AS ny, sin(lat) AS nz FROM p),
           | d AS (SELECT user_id, nx, ny, nz,
           |   CAST(lead(event_id) OVER (PARTITION BY user_id ORDER BY event_id)
           |     - event_id AS DOUBLE) AS dt FROM v),
           | f AS ($flags)
           | SELECT user_id, aoi_id, sum(indt) AS dwell_t,
           |   count(infix) AS fixes_inside
           | FROM f GROUP BY user_id, aoi_id
           | ORDER BY user_id, aoi_id""".stripMargin.replace("\n", " ")
      },
      // perimeter/compactness: the q51 pentagon columns + eq-16 edge
      // terms at the engine's exact op order (left-assoc sum, shared
      // radius constants, identical division tree)
      "q99_polygon_shape" -> {
        val offs = (0 until 5).map { j =>
          val ang = 2.0 * math.Pi * j / 5.0
          (fmt(0.02 * math.cos(ang)), fmt(0.02 * math.sin(ang)))
        }
        val vcols = offs.zipWithIndex.map { case ((dla, dlo), j) =>
          s"""cos(lat*0.9 + $dla)*cos(lon*0.98 + $dlo) AS x$j,
             | cos(lat*0.9 + $dla)*sin(lon*0.98 + $dlo) AS y$j,
             | sin(lat*0.9 + $dla) AS z$j""".stripMargin.replace("\n", " ")
        }.mkString(", ")
        def tri(a: Int, b: Int, c: Int): String =
          s"""2.0*atan2(x$a*(y$b*z$c - z$b*y$c) + y$a*(z$b*x$c - x$b*z$c) + z$a*(x$b*y$c - y$b*x$c),
             | 1.0 + (x$a*x$b + y$a*y$b + z$a*z$b) + (x$b*x$c + y$b*y$c + z$b*z$c)
             | + (x$c*x$a + y$c*y$a + z$c*z$a))""".stripMargin.replace("\n", " ")
        def edge(i: Int, j: Int): String =
          s"""atan2(sqrt((y$i*z$j - z$i*y$j)*(y$i*z$j - z$i*y$j)
             | + (z$i*x$j - x$i*z$j)*(z$i*x$j - x$i*z$j)
             | + (x$i*y$j - y$i*x$j)*(x$i*y$j - y$i*x$j)),
             | x$i*x$j + y$i*y$j + z$i*z$j)""".stripMargin.replace("\n", " ")
        val psum = (0 until 5).map(i => s"(${edge(i, (i + 1) % 5)})").mkString(" + ")
        val r = fmt(graft.geo.Ellipsoids.MeanEarthRadius)
        val r2 = fmt(graft.geo.Ellipsoids.MeanEarthRadius *
          graft.geo.Ellipsoids.MeanEarthRadius)
        val fourPi = fmt(4.0 * math.Pi)
        s"""WITH keyed AS (SELECT c_custkey AS k, ${latSql("c_custkey")} AS lat,
           | ${lonSql("c_custkey")} AS lon FROM customer),
           | v AS (SELECT k, $vcols FROM keyed),
           | m AS (SELECT k, ${tri(0, 1, 2)} + ${tri(0, 2, 3)} + ${tri(0, 3, 4)} AS exc,
           |   ($psum) * $r AS per FROM v)
           | SELECT k AS c_custkey, round(per / 1000.0, 6) AS perim_km,
           |   round($fourPi * (abs(exc) * $r2) / (per * per), 9) AS compactness
           | FROM m ORDER BY c_custkey""".stripMargin.replace("\n", " ")
      }
    )
  }
}
