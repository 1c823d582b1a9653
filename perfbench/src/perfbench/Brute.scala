package perfbench

import graft.geo.Vec3

/** Brute-force reference predicates written independently of the engine's
  * kernels, for the output checks: great-circle distance and containment
  * in convex spherical polygons (every polygon the benchmark generates is
  * convex; holes are handled by even-odd over rings).
  */
object Brute {
  def cross(a: Vec3, b: Vec3): Vec3 =
    Vec3(a.y * b.z - a.z * b.y, a.z * b.x - a.x * b.z, a.x * b.y - a.y * b.x)
  def dot(a: Vec3, b: Vec3): Double = a.x * b.x + a.y * b.y + a.z * b.z
  def norm(a: Vec3): Double = math.sqrt(dot(a, a))

  /** Great-circle angle between unit vectors [rad]. */
  def angle(a: Vec3, b: Vec3): Double = math.atan2(norm(cross(a, b)), dot(a, b))

  def nvec(latDeg: Double, lonDeg: Double): Vec3 = {
    val (la, lo) = (math.toRadians(latDeg), math.toRadians(lonDeg))
    Vec3(math.cos(la) * math.cos(lo), math.cos(la) * math.sin(lo), math.sin(la))
  }

  /** `p` strictly inside the convex spherical polygon `ring`: on the same
    * side of every edge's great circle as the vertex centroid.
    */
  def inConvex(ring: Seq[Vec3], p: Vec3): Boolean = {
    val c = ring.reduce((a, b) => Vec3(a.x + b.x, a.y + b.y, a.z + b.z))
    ring.indices.forall { i =>
      val e = cross(ring(i), ring((i + 1) % ring.size))
      dot(e, p) * dot(e, c) > 0
    }
  }

  /** Even-odd containment over convex rings given as (latDeg, lonDeg). */
  def inRings(rings: Seq[Seq[(Double, Double)]], p: Vec3): Boolean =
    rings.count(r => inConvex(r.map { case (la, lo) => nvec(la, lo) }, p)) % 2 == 1
}
