package perfbench

import java.nio.file.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.geo
import graft.operators.SpatialJoins

/** Point joins without payload: a probe table with half its rows in one
  * ~20 km metro disc (a hot cell) and half uniform, a uniform build table,
  * and a polygon table with holes, antimeridian and polar rings. A round is
  * distanceJoin at 50 km (default arguments) and polygonJoin, each
  * materialized in full: cached, then digested over every output column.
  * knnJoin is not in the round: its first calls in a fresh JVM take 7-19 s
  * on the skewed probe, which leaves no steady sample within the run
  * budget; the tile_pipeline nearest stage measures knnJoin instead.
  */
final class GeoJoin extends Workload {
  val ProbeRows = 5000L
  val BuildRows = 5000L
  val Polygons = 200
  val RadiusM = 50000.0
  val inputRows: Long = ProbeRows + BuildRows + Polygons
  val nominalRoundS = 5.0
  val overheadKind = "round"

  private var dir: Path = _
  /** Warm-up outputs, kept persisted for the checks. */
  private var kept = Map.empty[String, DataFrame]
  private def probe(ctx: Ctx): DataFrame = ctx.spark.read.parquet(dir.resolve("probe").toString)
  private def build(ctx: Ctx): DataFrame = ctx.spark.read.parquet(dir.resolve("build").toString)
  private def polys(ctx: Ctx): DataFrame = ctx.spark.read.parquet(dir.resolve("polys").toString)

  def setup(ctx: Ctx): Unit = {
    val spark = ctx.spark
    dir = ctx.work.resolve("geo-inputs")
    Gen.probe(spark, ctx.seed, ProbeRows, ctx.cores).write.mode("overwrite")
      .parquet(dir.resolve("probe").toString)
    Gen.build(spark, ctx.seed, BuildRows, ctx.cores).write.mode("overwrite")
      .parquet(dir.resolve("build").toString)
    Gen.polygons(spark, Gen.polygonSpecs(ctx.seed, Polygons)).repartition(1).write.mode("overwrite")
      .parquet(dir.resolve("polys").toString)
    ctx.info("input_bytes_on_disk") = Main.dirBytes(dir)
  }

  def dist(ctx: Ctx): DataFrame = SpatialJoins.distanceJoin(probe(ctx), build(ctx), "p_n", "b_n", RadiusM)
  def pip(ctx: Ctx): DataFrame = SpatialJoins.polygonJoin(probe(ctx), "p_n", "p_id", polys(ctx),
    "poly_id", "rings")

  def round(ctx: Ctx, keep: Boolean): Unit = {
    val before = ctx.ops.size
    Seq(("join.dist", "operators.dist", "dist", () => dist(ctx)),
      ("join.pip", "operators.pip", "pip", () => pip(ctx))).foreach { case (kind, layer, d, df) =>
      // every round caches its output and digests the cache, so the warm-up
      // round runs the measured plans and leaves its outputs for the checks
      val (out, (n, h)) = ctx.op(kind, ProbeRows)(ctx.span(layer) {
        val out = df().persist()
        (out, Main.digestOf(out))
      })
      if (keep) kept += d -> out else out.unpersist()
      ctx.digest(d, h)
      if (ctx.tracer.enabled) {
        ctx.count(s"$d.output_rows", n)
        ctx.count(s"$d.probe_rows", ProbeRows)
      }
    }
    val joins = ctx.ops.drop(before)
    ctx.ops += ctx.Op("round", joins.map(_.ms).sum, ProbeRows, ctx.tracer.enabled, ctx.round, joins.map(_.cpuMs).sum)
  }

  /** Checks on the warm-up round's outputs against brute force over all
    * build rows (or polygons) for a seeded sample of probe ids, on the driver.
    */
  def checks(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    def pts(df: DataFrame, id: String, n: String) =
      df.select(col(id), geo.vx(col(n)), geo.vy(col(n)), geo.vz(col(n))).as[(Long, Double, Double, Double)]
        .collect().map { case (i, x, y, z) => i -> graft.geo.Vec3(x, y, z) }
    val probes = pts(probe(ctx), "p_id", "p_n")
    val builds = pts(build(ctx), "b_id", "b_n")
    def sample(mod: Int) = probes.filter { case (i, _) => Gen.mix(i ^ ctx.seed) % mod == 0 }
    def outFor(d: String, ids: Set[Long], cols: String*) =
      kept(d).select(cols.map(col): _*).collect().filter(r => ids(r.getLong(0)))
        .map(_.toSeq.map { case i: Int => i.toLong; case x => x }).toSet
    val r = graft.geo.Ellipsoids.MeanEarthRadius
    // distance pairs: great-circle distance to every build point
    val pS = sample(16)
    val bruteD = pS.flatMap { case (p, pn) =>
      builds.collect { case (b, bn) if Brute.angle(pn, bn) * r <= RadiusM => Seq[Any](p, b) } }.toSet
    val gotD = outFor("dist", pS.map(_._1).toSet, "p_id", "b_id")
    ctx.check("dist pairs vs brute force", bruteD.nonEmpty && bruteD == gotD,
      s"${(bruteD diff gotD).size} missing, ${(gotD diff bruteD).size} extra of ${bruteD.size}")
    // polygon membership: even-odd over every polygon's rings
    val specs = Gen.polygonSpecs(ctx.seed, Polygons)
    val bruteP = pS.flatMap { case (p, pn) =>
      specs.collect { case a if Brute.inRings(a.ringsLatLonDeg, pn) => Seq[Any](p, a.id) } }.toSet
    val gotP = outFor("pip", pS.map(_._1).toSet, "p_id", "poly_id")
    ctx.check("pip vs brute force", bruteP.nonEmpty && bruteP == gotP,
      s"${(bruteP diff gotP).size} missing, ${(gotP diff bruteP).size} extra of ${bruteP.size}")
    kept.values.foreach(_.unpersist())
    kept = Map.empty
  }

  def endToEnd(ctx: Ctx): Map[String, Double] =
    Map("rows_per_cpu_s" -> ProbeRows / (Main.median(ctx.cpuSamples("round")) / 1000.0),
      "op_cpu_ms" -> Main.median(ctx.cpuSamples("join.dist")))

  def named(ctx: Ctx): Seq[(String, Double, String)] =
    Seq(("probe_rows_per_s", ProbeRows / (Main.median(ctx.samples("round")) / 1000.0), "rows/s"),
      ("dist_join_s", Main.median(ctx.samples("join.dist")) / 1000.0, "s"),
      ("dist_join_cpu_s", Main.median(ctx.cpuSamples("join.dist")) / 1000.0, "s"),
      ("pip_join_s", Main.median(ctx.samples("join.pip")) / 1000.0, "s"),
      ("pip_join_cpu_s", Main.median(ctx.cpuSamples("join.pip")) / 1000.0, "s"),
      ("rounds", ctx.samples("round").size.toDouble, "count"))

  def samplePoints(ctx: Ctx): Array[graft.geo.Vec3] = {
    val spark = ctx.spark
    import spark.implicits._
    probe(ctx).select(geo.vx(col("p_n")), geo.vy(col("p_n")), geo.vz(col("p_n")))
      .limit(4096).as[(Double, Double, Double)].collect().map { case (x, y, z) => graft.geo.Vec3(x, y, z) }
  }
}
