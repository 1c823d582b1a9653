package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.geo
import graft.index.cells
import graft.operators.SpatialJoins.{Aoi, AoiM}
import graft.sources.ImageTable

/** Seeded input generators. Everything derives from (seed, ordinal) through
  * the benchmark's own splitmix64 lanes, so the same seed gives the same
  * inputs and the engine only ever receives the generated rows.
  */
object Gen {
  def mix(x: Long): Long = {
    var z = x + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Uniform [0, 1) for (seed, stream, i). */
  def u(seed: Long, stream: Int, i: Long): Double =
    (mix(mix(seed * 0x100000001b3L + stream) + i) >>> 11).toDouble / (1L << 53).toDouble

  /** The same draw as a Column over a long column `i` (xxhash64 lanes). */
  def uCol(seed: Long, stream: Int, i: Column): Column =
    shiftrightunsigned(xxhash64(lit(seed), lit(stream), i), 11).cast("double") / math.pow(2, 53)

  /** Uniform point on the sphere as (lat, lon) radians columns. */
  def uniformLatLon(seed: Long, stream: Int, i: Column): (Column, Column) =
    (asin(uCol(seed, stream, i) * 2.0 - 1.0), (uCol(seed, stream + 1, i) * 2.0 - 1.0) * math.Pi)

  /** Destination (lat, lon) radians from (lat0, lon0) at angular distance
    * `d` along bearing `b` on the sphere — columns.
    */
  def destination(lat0: Double, lon0: Double, d: Column, b: Column): (Column, Column) = {
    val lat = asin(lit(math.sin(lat0)) * cos(d) + lit(math.cos(lat0)) * sin(d) * cos(b))
    val lon = lit(lon0) + atan2(sin(b) * sin(d) * math.cos(lat0),
      cos(d) - lit(math.sin(lat0)) * sin(lat))
    (lat, lon)
  }

  /** Destination in degrees, scalar twin of [[destination]]. */
  def destinationDeg(latDeg: Double, lonDeg: Double, d: Double, b: Double): (Double, Double) = {
    val (lat0, lon0) = (math.toRadians(latDeg), math.toRadians(lonDeg))
    val lat = math.asin(math.sin(lat0) * math.cos(d) + math.cos(lat0) * math.sin(d) * math.cos(b))
    val lon = lon0 + math.atan2(math.sin(b) * math.sin(d) * math.cos(lat0),
      math.cos(d) - math.sin(lat0) * math.sin(lat))
    val lonN = math.toDegrees(lon)
    (math.toDegrees(lat), ((lonN + 540.0) % 360.0) - 180.0)
  }

  /** Regular `k`-gon inscribed in the disc of angular radius `r` around
    * (latDeg, lonDeg), counter-clockwise, rotated by `phase`.
    */
  def ring(latDeg: Double, lonDeg: Double, r: Double, k: Int, phase: Double): Seq[(Double, Double)] =
    (0 until k).map(j => destinationDeg(latDeg, lonDeg, r, phase - 2 * math.Pi * j / k))

  // ---- tile_pipeline: image + caption rows --------------------------

  /** First image ordinal of a seed: disjoint 10^6-row ranges per seed, so
    * PSNR references regenerate from the id alone.
    */
  def imageBase(seed: Long): Long = (math.floorMod(seed, 100000L)) * 1000000L

  /** `rows` image rows from ImageTable.rowOf over the seed's ordinal range. */
  def images(spark: SparkSession, seed: Long, rows: Long, partitions: Int): DataFrame = {
    import spark.implicits._
    val base = imageBase(seed)
    spark.range(base, base + rows, 1, partitions)
      .mapPartitions(_.map(l => ImageTable.rowOf(l.longValue))).toDF()
  }

  /** Seeded position (lat, lon radians) of the image with ordinal `ord`. */
  def imageLatLon(seed: Long, ord: Column): (Column, Column) = uniformLatLon(seed, 10, ord)

  /** The pipeline's four AOIs: equatorial box, antimeridian box, a
    * north-polar cap ring and a southern box.
    */
  val pipelineAois: Seq[Aoi] = Seq(
    Aoi("eq", Seq((-25.0, -30.0), (-25.0, 30.0), (25.0, 30.0), (25.0, -30.0))),
    Aoi("am", Seq((-30.0, 150.0), (-30.0, -150.0), (30.0, -150.0), (30.0, 150.0))),
    Aoi("nc", (0 until 8).map(i => (55.0, -180.0 + 45.0 * i))),
    Aoi("sb", Seq((-65.0, -120.0), (-65.0, 0.0), (-35.0, 0.0), (-35.0, -120.0))))

  /** 512 seeded landmarks (lm_id, lm_n). */
  def landmarks(spark: SparkSession, seed: Long): DataFrame = {
    val (lat, lon) = uniformLatLon(seed, 20, col("id"))
    spark.range(512).select(col("id").as("lm_id"), geo.nvec(lat, lon).as("lm_n"))
  }

  // ---- geo_join: points and polygons --------------------------------

  /** Centre of the probe side's hot metro disc (degrees). */
  def metro(seed: Long): (Double, Double) =
    (math.toDegrees(math.asin(u(seed, 30, 0) * 1.6 - 0.8)), u(seed, 30, 1) * 360.0 - 180.0)

  val MetroRadiusRad: Double = 20000.0 / graft.geo.Ellipsoids.MeanEarthRadius

  /** Probe points (p_id, p_n): even ids uniform in the ~20 km metro disc,
    * odd ids uniform on the sphere.
    */
  def probe(spark: SparkSession, seed: Long, rows: Long, partitions: Int): DataFrame = {
    val (mLat, mLon) = metro(seed)
    val id = col("id")
    val d = sqrt(uCol(seed, 31, id)) * MetroRadiusRad
    val b = uCol(seed, 32, id) * (2 * math.Pi)
    val (hLat, hLon) = destination(math.toRadians(mLat), math.toRadians(mLon), d, b)
    val (sLat, sLon) = uniformLatLon(seed, 33, id)
    val hot = id % 2 === 0
    spark.range(0, rows, 1, partitions).select(id.as("p_id"),
      geo.nvec(when(hot, hLat).otherwise(sLat), when(hot, hLon).otherwise(sLon)).as("p_n"))
  }

  /** Build points (b_id, b_n), uniform on the sphere. */
  def build(spark: SparkSession, seed: Long, rows: Long, partitions: Int): DataFrame = {
    val (lat, lon) = uniformLatLon(seed, 40, col("id"))
    spark.range(0, rows, 1, partitions).select(col("id").as("b_id"), geo.nvec(lat, lon).as("b_n"))
  }

  /** Polygon table (poly_id, rings): seeded discs of 100-800 km as 6- to
    * 24-gons; every 4th has a hole, every 7th straddles the antimeridian
    * and two rings enclose the poles.
    */
  def polygonSpecs(seed: Long, count: Int): Seq[AoiM] = (0 until count).map { i =>
    val r = (100000.0 + 700000.0 * u(seed, 50, i)) / graft.geo.Ellipsoids.MeanEarthRadius
    val k = 6 + (u(seed, 51, i) * 19).toInt
    val phase = u(seed, 52, i) * 2 * math.Pi
    val (la, lo) =
      if (i == 0) (89.5, 0.0)
      else if (i == 1) (-89.0, 10.0)
      else if (i % 7 == 0) (u(seed, 53, i) * 120.0 - 60.0, 180.0 - r * 0.3 * 57.29577951308232)
      else (math.toDegrees(math.asin(u(seed, 53, i) * 2 - 1)), u(seed, 54, i) * 360.0 - 180.0)
    val outer = ring(la, lo, r, k, phase)
    val rings = if (i % 4 == 3) Seq(outer, ring(la, lo, r * 0.4, 8, phase).reverse) else Seq(outer)
    AoiM(s"poly_$i", rings).validated
  }

  def polygons(spark: SparkSession, specs: Seq[AoiM]): DataFrame = {
    import spark.implicits._
    specs.map(p => (p.id, p.flatRings)).toDF("poly_id", "rings")
  }

  // ---- ingest_query: batches and AOI queries ------------------------

  val CoarseLevel = 4

  /** Rows of batch `b` that upsert an existing id. */
  def reusedRows(b: Int, rows: Int, overlap: Double): Int =
    if (b == 0) 0 else (rows * overlap).toInt

  /** Distinct ids after batches 0 until `batches`. */
  def distinctIds(batches: Int, rows: Int, overlap: Double): Long =
    (0 until batches).map(b => (rows - reusedRows(b, rows, overlap)).toLong).sum

  /** Batch `b` of `rows` rows (id, n, tile_coarse, batch, v). Row i of
    * batch c owns id c * rows + i. In batches after the first, rows
    * i < reusedRows instead upsert id c * rows + reusedRows + i of a seeded
    * earlier batch c — a fresh row there, so the id exists, and distinct
    * per i. An upsert moves the point.
    */
  def batch(spark: SparkSession, seed: Long, b: Int, rows: Int, overlap: Double): DataFrame = {
    val i = col("id")
    val nReuse = reusedRows(b, rows, overlap)
    val earlier = (uCol(seed, 60, i + b * 1000003L) * b).cast("long")
    val key = when(i < nReuse, earlier * rows + nReuse + i).otherwise(lit(b.toLong * rows) + i)
    val (lat, lon) = uniformLatLon(seed, 62, i + b * 1000003L)
    spark.range(0, rows, 1, 1)
      .select(key.as("id"), geo.nvec(lat, lon).as("n"), lit(b).as("batch"),
        uCol(seed, 64, i + b * 1000003L).as("v"))
      .withColumn("tile_coarse", cells.cellAt(col("n"), CoarseLevel))
      .select("id", "n", "tile_coarse", "batch", "v")
  }

  /** AOI query `q`: a 12-gon inscribed in a seeded disc whose radius is
    * log-uniform in [50 km, 2000 km]; returns (aoi, disc centre, radius).
    */
  def query(seed: Long, q: Int): (Aoi, graft.geo.Vec3, Double) = {
    val la = math.toDegrees(math.asin(u(seed, 80, q) * 2 - 1))
    val lo = u(seed, 81, q) * 360.0 - 180.0
    val rM = 50000.0 * math.pow(40.0, u(seed, 82, q))
    val r = rM / graft.geo.Ellipsoids.MeanEarthRadius
    val aoi = Aoi(s"q$q", ring(la, lo, r, 12, u(seed, 83, q) * 2 * math.Pi))
    (aoi, graft.geo.Gade.latLonToNvec(math.toRadians(la), math.toRadians(lo)), r)
  }
}
