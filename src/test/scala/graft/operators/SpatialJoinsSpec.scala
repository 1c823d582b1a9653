package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.{SparkTestSession, TempDirs}
import graft.functions.geo
import graft.geo.Gade
import graft.operators.SpatialJoins.Aoi
import graft.SparkTestSession.rnd

/** Join operators must agree with brute force on deterministic random
  * point sets (including near face-edge and polar points).
  */
class SpatialJoinsSpec extends AnyFunSuite with TempDirs {
  lazy val spark = SparkTestSession.spark

  /** Deterministic points: splitmix64 lanes of the ordinal. */
  def pointsDf(n: Int, name: String, seed: Int) = {
    import spark.implicits._
    (0 until n).map { i =>
      val la = math.toDegrees(math.asin(2 * rnd(seed * 1000003L + i * 2) - 1))
      val lo = 360 * rnd(seed * 1000003L + i * 2 + 1) - 180
      (i.toLong, la, lo)
    }.toDF(s"${name}_id", s"${name}_lat", s"${name}_lon")
      .withColumn(s"${name}_n", geo.nvecDeg(col(s"${name}_lat"), col(s"${name}_lon")))
  }

  test("distance join matches brute force") {
    val a = pointsDf(400, "a", 1)
    val b = pointsDf(300, "b", 2)
    def pairs(df: DataFrame) =
      df.select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def check(b: DataFrame, radius: Double): Set[(Long, Long)] = {
      val got = pairs(SpatialJoins.distanceJoin(a, b, "a_n", "b_n", radius))
      val brute = pairs(a.crossJoin(b)
        .withColumn("d", geo.gcDistance(col("a_n"), col("b_n")))
        .filter(col("d") <= radius))
      assert(got == brute,
        s"radius=$radius missing=${(brute -- got).take(5)} extra=${(got -- brute).take(5)}")
      brute
    }
    assert(check(b, 800e3).nonEmpty) // 800 km so there are plenty of pairs
    // the sub-meter band (finest cover level): the build side adds two
    // exact copies of 50 probe points plus copies shifted ~5 cm and
    // ~20 cm north
    val near = a.filter(col("a_id") < 50)
    def shifted(idOffset: Long, dLatDeg: Double) = near
      .select((col("a_id") + idOffset).as("b_id"),
        (col("a_lat") + dLatDeg).as("b_lat"), col("a_lon").as("b_lon"))
      .withColumn("b_n", geo.nvecDeg(col("b_lat"), col("b_lon")))
    val bNear = b.unionByName(shifted(1000L, 0.0)).unionByName(shifted(2000L, 0.0))
      .unionByName(shifted(3000L, 4.5e-7)).unionByName(shifted(4000L, 1.8e-6))
    val at0 = check(bNear, 0.0)
    assert(at0.count(_._2 >= 1000L) == 100 && at0.forall(_._2 < 3000L), at0)
    val atDm = check(bNear, 0.1)
    assert(at0.subsetOf(atDm) && atDm.count(_._2 >= 3000L) == 50, atDm)
  }

  test("knn join matches brute force") {
    val q = pointsDf(120, "q", 3)
    val d = pointsDf(500, "d", 4)
    val k = 5
    // bruteForceThreshold=0 forces the iterative ring path under test
    val got = SpatialJoins.knnJoin(q, d, "q_n", "d_n", "q_id", "d_id", k,
        bruteForceThreshold = 0)
      .select("q_id", "d_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // brute force via window
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("q_id").orderBy(col("dist_m"), col("d_id"))
    val brute = q.crossJoin(d)
      .withColumn("dist_m", geo.gcDistance(col("q_n"), col("d_n")))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select("q_id", "d_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got.size == 120 * k)
    assert(got == brute,
      s"missing=${(brute -- got).take(5)} extra=${(got -- brute).take(5)}")
  }

  test("knn join with sparse data hits fallback and stays correct") {
    val q = pointsDf(20, "q", 5)
    val d = pointsDf(8, "d", 6) // fewer points than make cells dense
    val k = 3
    val got = SpatialJoins.knnJoin(q, d, "q_n", "d_n", "q_id", "d_id", k, level = 8,
        bruteForceThreshold = 0)
      .select("q_id", "d_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("q_id").orderBy(col("dist_m"), col("d_id"))
    val brute = q.crossJoin(d)
      .withColumn("dist_m", geo.gcDistance(col("q_n"), col("d_n")))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select("q_id", "d_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == brute)
  }

  test("aoi join matches brute-force winding test") {
    val p = pointsDf(3000, "p", 7)
    val aois = Seq(
      Aoi("box", Seq((-10.0, -10.0), (-10.0, 10.0), (10.0, 10.0), (10.0, -10.0))),
      Aoi("antimeridian", Seq((-20.0, 160.0), (-20.0, -160.0), (25.0, -160.0), (25.0, 160.0))),
      Aoi("polar", (0 until 8).map(i => (75.0, -180.0 + 45.0 * i))),
      Aoi("concave", Seq((30.0, 60.0), (30.0, 80.0), (50.0, 80.0), (40.0, 70.0), (50.0, 60.0))))
    val got = SpatialJoins.aoiJoin(p, "p_n", aois)
      .select("p_id", "aoi_id").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val brute = p.collect().flatMap { r =>
      val s = r.getStruct(r.fieldIndex("p_n"))
      val (x, y, z) = (s.getDouble(0), s.getDouble(1), s.getDouble(2))
      aois.filter(a => graft.index.CellKernels.pointInPolygon(x, y, z,
        new org.apache.spark.sql.catalyst.util.GenericArrayData(a.flatVerts)))
        .map(a => (r.getLong(0), a.id))
    }.toSet
    assert(brute.nonEmpty, "expected some points in AOIs")
    assert(got == brute,
      s"missing=${(brute -- got).take(5)} extra=${(got -- brute).take(5)}")
  }

  test("knn geodesic re-rank matches ellipsoidal brute force") {
    val q = pointsDf(50, "q", 31)
    val d = pointsDf(400, "d", 32)
    val got = SpatialJoins.knnJoin(q, d, "q_n", "d_n", "q_id", "d_id", 3,
        geodesicReRank = true)
      .select("q_id", "d_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("q_id").orderBy(col("g"), col("d_id"))
    val brute = q.crossJoin(d)
      .withColumn("g", geo.geodesicDistance(
        geo.lat(col("q_n")), geo.lon(col("q_n")),
        geo.lat(col("d_n")), geo.lon(col("d_n"))))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= 3)
      .select("q_id", "d_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == brute,
      s"missing=${(brute -- got).take(5)} extra=${(got -- brute).take(5)}")
  }

  test("knn geodesic re-rank provable cut: near-tie outside the 3k pool") {
    // adversarial construction: the true GEODESIC nearest neighbor is
    // only 6th by spherical distance (outside the 3k = 3 pool at
    // k = 1). Five candidates due EAST of an equatorial query at ~1
    // deg (geodesic = a * angle, the longest meters-per-normal-angle
    // direction) and one due NORTH at 1.0005 deg (meridional arc
    // ~ a(1-f)^2-ish * angle, ~0.6% shorter) — the spherical order
    // puts every east point first, the geodesic order puts north
    // first. The provable pool cut (gc * a(1-f)^2/R <= pool k-th
    // geodesic) must pull the north candidate in; the old fixed 3k
    // pool returned an east point here.
    import spark.implicits._
    val q = Seq((0L, 0.0, 0.0)).toDF("q_id", "q_lat", "q_lon")
      .withColumn("q_n", geo.nvecDeg(col("q_lat"), col("q_lon")))
    val east = (0 until 5).map(i => (10L + i, 0.0, 1.0 + i * 0.00001))
    val north = Seq((5L, 1.0005, 0.0))
    val d = (east ++ north).toDF("d_id", "d_lat", "d_lon")
      .withColumn("d_n", geo.nvecDeg(col("d_lat"), col("d_lon")))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("q_id").orderBy(col("g"), col("d_id"))
    val brute = q.crossJoin(d)
      .withColumn("g", geo.geodesicDistance(
        geo.lat(col("q_n")), geo.lon(col("q_n")),
        geo.lat(col("d_n")), geo.lon(col("d_n"))))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= 1)
      .select("q_id", "d_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(brute == Set((0L, 5L, 1)), s"test construction broken: $brute")
    for (thresh <- Seq(2000000L, 0L)) { // broadcast shortcut AND ring path
      val got = SpatialJoins.knnJoin(q, d, "q_n", "d_n", "q_id", "d_id", 1,
          bruteForceThreshold = thresh, geodesicReRank = true)
        .select("q_id", "d_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(got == brute, s"threshold=$thresh: got $got, want $brute")
    }
  }

  test("salted join with production-scale threshold samples, stays exact") {
    // hotCellThreshold at the 1M production default: the 0.1% sample
    // of a small input finds no hot cells, so nothing salts — the
    // result must still be exact (detection is cost-only)
    val a = pointsDf(300, "a", 13)
    val b = pointsDf(200, "b", 14)
    val radius = 600e3
    val salted = SpatialJoins.distanceJoin(a, b, "a_n", "b_n", radius,
      skewSalt = 4, hotCellThreshold = 1000000L)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = a.crossJoin(b)
      .withColumn("d", geo.gcDistance(col("a_n"), col("b_n")))
      .filter(col("d") <= radius)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.nonEmpty && salted == brute)
  }

  test("knn small-build shortcut equals ring path") {
    val q = pointsDf(60, "q", 21)
    val d = pointsDf(300, "d", 22)
    // same columns in the same order, and distances compared exactly:
    // the shortcut's kernel computes them with the Column forms'
    // double operations
    for (reRank <- Seq(false, true)) {
      def run(thresh: Long) = {
        val out = SpatialJoins.knnJoin(q, d, "q_n", "d_n", "q_id", "d_id", 4,
          bruteForceThreshold = thresh, geodesicReRank = reRank)
        val rows = out.select("q_id", "d_id", "rank", "dist_m",
            if (reRank) "geodesic_m" else "dist_m").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3), r.getDouble(4)))
        (out.schema.map(f => (f.name, f.dataType)), rows.toSet)
      }
      val (shortcutCols, viaShortcut) = run(2000000L)
      val (ringCols, viaRings) = run(0L)
      assert(shortcutCols == ringCols, s"reRank=$reRank")
      assert(viaShortcut.size == 60 * 4, s"reRank=$reRank")
      assert(viaShortcut == viaRings, s"reRank=$reRank: " +
        s"${(viaShortcut -- viaRings).take(3)} vs ${(viaRings -- viaShortcut).take(3)}")
    }
  }

  test("knn null positions: a null query yields no rows, a null data row never ranks") {
    import spark.implicits._
    // the null data row carries the smallest id, so a path that sorted
    // null distances first would rank it 1
    val nullPos = when(lit(false), geo.nvecDeg(lit(0.0), lit(0.0)))
    val q = pointsDf(12, "q", 25).select("q_id", "q_n")
      .unionByName(Seq(99L).toDF("q_id").withColumn("q_n", nullPos))
    val d = pointsDf(30, "d", 26).select((col("d_id") + 1).as("d_id"), col("d_n"))
      .unionByName(Seq(0L).toDF("d_id").withColumn("d_n", nullPos))
    for (thresh <- Seq(2000000L, 0L); reRank <- Seq(false, true)) {
      val got = SpatialJoins.knnJoin(q, d, "q_n", "d_n", "q_id", "d_id", 3,
          bruteForceThreshold = thresh, geodesicReRank = reRank)
        .select("q_id", "d_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      val tag = s"threshold=$thresh reRank=$reRank"
      assert(!got.exists(_._1 == 99L), s"$tag: null query ranked ${got.filter(_._1 == 99L).toSeq}")
      assert(!got.exists(_._2 == 0L), s"$tag: null data row ranked ${got.filter(_._2 == 0L).toSeq}")
      assert(got.length == 12 * 3 && got.map(_._3).toSet == Set(1, 2, 3), s"$tag: ${got.length} rows")
    }
  }

  test("knn ties on duplicate positions rank by data id on both paths (Long and String ids)") {
    import spark.implicits._
    // 20 distinct positions, each held by three data rows under ids
    // whose order differs between the numeric and the string form
    // ("10" < "9"), so the two id types tie-break differently
    val base = pointsDf(20, "d", 27).select("d_lat", "d_lon").collect()
      .map(r => (r.getDouble(0), r.getDouble(1)))
    val dup = base.indices.flatMap { i =>
      Seq(7L, 40L, 100L).map(m => ((i * 131L + m) % 997L, base(i)._1, base(i)._2))
    }
    assert(dup.map(_._1).distinct.size == dup.size)
    val dLong = dup.toDF("d_id", "d_lat", "d_lon")
      .withColumn("d_n", geo.nvecDeg(col("d_lat"), col("d_lon")))
    val dStr = dLong.withColumn("d_id", col("d_id").cast("string"))
    val q = pointsDf(25, "q", 28)
    for (d <- Seq(dLong, dStr); reRank <- Seq(false, true)) {
      def run(thresh: Long) = SpatialJoins.knnJoin(q, d, "q_n", "d_n", "q_id", "d_id", 5,
          bruteForceThreshold = thresh, geodesicReRank = reRank)
        .select(col("q_id"), col("d_id").cast("string"), col("rank")).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
      val viaShortcut = run(2000000L)
      val tag = s"id=${d.schema("d_id").dataType} reRank=$reRank"
      assert(viaShortcut.size == 25 * 5, tag)
      assert(viaShortcut == run(0L), tag)
      // every query's first three hits share a position: ranks 1..3
      // hold that position's ids in the id type's own order
      val byQ = viaShortcut.groupBy(_._1)
      val ordered = byQ.values.map(_.toSeq.sortBy(_._3).map(_._2).take(3))
      ordered.foreach { ids =>
        val want = if (d eq dLong) ids.sortBy(_.toLong) else ids.sorted
        assert(ids == want, s"$tag: $ids")
      }
    }
  }

  test("salted distance join handles hot cells and stays exact") {
    // heavy skew: 60% of left points packed into a ~20 km disc
    import spark.implicits._
    val base = pointsDf(300, "a", 11)
    val hotSpot = (1000 until 1450).map { i =>
      val la = 12.0 + rnd(i * 17L) * 0.2
      val lo = 44.0 + rnd(i * 19L) * 0.2
      (i.toLong, la, lo)
    }.toDF("a_id", "a_lat", "a_lon")
      .withColumn("a_n", geo.nvecDeg(col("a_lat"), col("a_lon")))
    val a = base.unionByName(hotSpot)
    val b = pointsDf(250, "b", 12)
    val radius = 500e3
    val salted = SpatialJoins.distanceJoin(a, b, "a_n", "b_n", radius,
      skewSalt = 8, hotCellThreshold = 100)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = a.crossJoin(b)
      .withColumn("d", geo.gcDistance(col("a_n"), col("b_n")))
      .filter(col("d") <= radius)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.nonEmpty)
    assert(salted == brute,
      s"missing=${(brute -- salted).take(5)} extra=${(salted -- brute).take(5)}")
  }

  test("wide-radius distance join uses pruning disc covers, stays exact") {
    val a = pointsDf(200, "a", 41)
    val b = pointsDf(150, "b", 42)
    def bruteAt(radius: Double) = a.crossJoin(b)
      .withColumn("d", geo.gcDistance(col("a_n"), col("b_n")))
      .filter(col("d") <= radius)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // 5000 km (~0.78 rad): beyond any provable ring block, inside the
    // cap-cover regime — must still prune (no CartesianProduct) and
    // match brute force exactly
    val wide = SpatialJoins.distanceJoin(a, b, "a_n", "b_n", 5000e3)
    val planStr = wide.queryExecution.executedPlan.toString
    assert(!planStr.contains("CartesianProduct"),
      "wide-radius join should take the disc-cover path, not a cross join")
    val got = wide.select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = bruteAt(5000e3)
    assert(brute.nonEmpty && got == brute,
      s"missing=${(brute -- got).take(5)} extra=${(got -- brute).take(5)}")
    // 13000 km (~2.0 rad, cap covers ~73% of the sphere): output is
    // itself quadratic, the exact-filtered cross join is the honest
    // plan and must stay correct
    val hemi = SpatialJoins.distanceJoin(a, b, "a_n", "b_n", 13000e3)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(hemi == bruteAt(13000e3))
  }

  test("knn ring path never executes a cross join against the data side") {
    // one dedicated session per knnJoin call => its
    // QueryExecutionListener sees only that call's actions; sparse data
    // at a fine level forces the full escalation chain (base rings ->
    // coarser levels -> wrap block), which in round 1 ended in
    // remaining.crossJoin(data). The default threshold takes the
    // small-data kernel scan, which must run no cross join and no rank
    // window either.
    def executedPlans(run: (DataFrame, DataFrame) => DataFrame): Array[String] = {
      val s2 = spark.newSession()
      val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val listener = new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(funcName: String,
                               qe: org.apache.spark.sql.execution.QueryExecution,
                               durationNs: Long): Unit =
          plans.add(qe.executedPlan.toString)
        override def onFailure(funcName: String,
                               qe: org.apache.spark.sql.execution.QueryExecution,
                               exception: Exception): Unit = ()
      }
      s2.listenerManager.register(listener)
      try {
        import s2.implicits._
        val q = (0 until 40).map { i =>
          val la = math.toDegrees(math.asin(2 * rnd(900001L + i * 2) - 1))
          val lo = 360 * rnd(900001L + i * 2 + 1) - 180
          (i.toLong, la, lo)
        }.toDF("q_id", "q_lat", "q_lon")
          .withColumn("q_n", geo.nvecDeg(col("q_lat"), col("q_lon")))
        val d = (0 until 12).map { i =>
          val la = math.toDegrees(math.asin(2 * rnd(910001L + i * 2) - 1))
          val lo = 360 * rnd(910001L + i * 2 + 1) - 180
          (i.toLong, la, lo)
        }.toDF("d_id", "d_lat", "d_lon")
          .withColumn("d_n", geo.nvecDeg(col("d_lat"), col("d_lon")))
        assert(run(q, d).count() == 40 * 3)
        // drain the async listener bus: wait until no new plans arrive
        var last = -1
        var stable = 0
        var waited = 0
        while (stable < 4 && waited < 100) {
          Thread.sleep(100)
          if (plans.size == last) stable += 1 else { stable = 0; last = plans.size }
          waited += 1
        }
        assert(plans.size > 0, "listener captured no plans")
        plans.toArray(Array.empty[String])
      } finally s2.listenerManager.unregister(listener)
    }
    val offending = executedPlans(SpatialJoins.knnJoin(_, _, "q_n", "d_n", "q_id", "d_id", 3,
      level = 10, bruteForceThreshold = 0)).filter(p =>
      p.contains("CartesianProduct") || p.contains("BroadcastNestedLoopJoin"))
    if (offending.nonEmpty)
      fail(s"knnJoin executed a cross-join plan:\n${offending.head.take(2000)}")
    for (reRank <- Seq(false, true)) {
      val shortcut = executedPlans(SpatialJoins.knnJoin(_, _, "q_n", "d_n", "q_id", "d_id", 3,
        geodesicReRank = reRank))
      assert(shortcut.exists(_.contains("Generate")), shortcut.mkString("\n"))
      val bad = shortcut.filter(p => p.contains("CartesianProduct") ||
        p.contains("BroadcastNestedLoopJoin") || p.contains("Window"))
      if (bad.nonEmpty)
        fail(s"knnJoin shortcut (reRank=$reRank) ran a cross join or window:\n" +
          bad.head.take(2000))
    }
  }

  test("distance join broadcasts the build side when asked") {
    val a = pointsDf(300, "a", 51)
    val b = pointsDf(100, "b", 52)
    val joined = SpatialJoins.distanceJoin(a, b, "a_n", "b_n", 500e3,
      broadcastRight = true)
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join:\n$plan")
    assert(joined.count() >= 0)
  }

  test("distance join broadcasts the build side, never the exploded cover side") {
    import org.apache.spark.sql.execution.GenerateExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    import spark.implicits._
    // the benchmark's shape: half the probe rows in one ~20 km disc, and
    // the probe smaller on disk than the build side
    val hot = (0 until 300).map { i =>
      (5000L + i, 48.85 + 0.18 * (rnd(i * 7L) - 0.5), 2.35 + 0.27 * (rnd(i * 11L) - 0.5))
    }.toDF("a_id", "a_lat", "a_lon").withColumn("a_n", geo.nvecDeg(col("a_lat"), col("a_lon")))
    val dir = tempDir("distjoin-side")
    pointsDf(300, "a", 61).unionByName(hot).coalesce(1).write.parquet(s"$dir/probe")
    pointsDf(2000, "b", 62).coalesce(1).write.parquet(s"$dir/build")
    val a = spark.read.parquet(s"$dir/probe")
    val b = spark.read.parquet(s"$dir/build")
    val radius = 300e3
    def pairs(df: DataFrame) =
      df.select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = pairs(a.crossJoin(b)
      .withColumn("d", geo.gcDistance(col("a_n"), col("b_n")))
      .filter(col("d") <= radius))
    val helper = new AdaptiveSparkPlanHelper {}
    /** The subtrees the join's executed plan broadcasts, after its
      * pairs are checked against the brute-force cross join.
      */
    def run(probe: DataFrame, tag: String): Seq[BroadcastExchangeExec] = {
      val ids = probe.select("a_id").collect().map(_.getLong(0)).toSet
      val want = brute.filter(p => ids(p._1))
      val joined = SpatialJoins.distanceJoin(probe, b, "a_n", "b_n", radius)
      val got = joined.collect().map(r =>
        (r.getLong(r.fieldIndex("a_id")), r.getLong(r.fieldIndex("b_id")))).toSet
      assert(want.nonEmpty && got == want,
        s"$tag: missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
      helper.collect(joined.queryExecution.executedPlan) { case x: BroadcastExchangeExec => x }
    }
    def coverBroadcast(bx: Seq[BroadcastExchangeExec]): Boolean =
      bx.exists(_.find(_.isInstanceOf[GenerateExec]).nonEmpty)
    // default threshold: the build side's projection is broadcast
    val bx = run(a, "default threshold")
    assert(!coverBroadcast(bx), s"the exploded cover side is broadcast:\n${bx.mkString("\n")}")
    assert(bx.exists { x =>
      val cols = x.child.output.map(_.name)
      cols.contains("b_n") && cols.contains("__cell") && !cols.contains("a_n")
    }, s"no broadcast of the build side:\n${bx.mkString("\n")}")
    // a threshold below the build side and below probe x cover, but
    // above the probe table: only a shuffle join is left
    def est(df: DataFrame) = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val threshold = est(a) * 2
    assert(threshold < est(b), s"probe ${est(a)} B, build ${est(b)} B")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold.toString)
    try {
      assert(!coverBroadcast(run(a, "threshold below the build side")))
      // a probe side whose estimate times a whole cover still fits may
      // be broadcast
      val few = a.filter(col("a_id").isin(brute.map(_._1).toSeq.sorted.take(3): _*)).collect()
      val tiny = spark.createDataFrame(java.util.Arrays.asList(few: _*), a.schema)
      assert(coverBroadcast(run(tiny, "a probe side that fits with its covers")))
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("corridor join over a route TABLE matches the per-segment brute force") {
    import spark.implicits._
    // routes: a long multi-leg route (many pieces), a short hop, and a
    // route crossing a cube-face edge (lon 45) near the equator
    val routeDefs = Seq(
      ("long", Seq((0.0, 0.0), (10.0, 10.0), (10.0, 25.0), (20.0, 40.0), (35.0, 55.0))),
      ("hop", Seq((-30.0, -60.0), (-29.0, -59.0))),
      ("face", Seq((2.0, 40.0), (-2.0, 50.0))))
    def flat(vs: Seq[(Double, Double)]): Seq[Double] = vs.flatMap { case (la, lo) =>
      val v = Gade.latLonToNvec(math.toRadians(la), math.toRadians(lo))
      Seq(v.x, v.y, v.z)
    }
    val routes = routeDefs.map { case (id, vs) => (id, flat(vs)) }
      .toDF("route_id", "verts")
    val pts = pointsDf(2500, "p", 31)
    val buf = 400e3
    val R = graft.geo.Ellipsoids.MeanEarthRadius
    val got = SpatialJoins.corridorJoin(pts, "p_n", "p_id",
        routes, "route_id", "verts", buf, R)
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getDouble(2)).toMap
    // brute: exact min over ORIGINAL segments via the shared kernel
    val ptVecs = pts.select("p_id", "p_lat", "p_lon").collect().map(r =>
      r.getLong(0) -> Gade.latLonToNvec(
        math.toRadians(r.getDouble(1)), math.toRadians(r.getDouble(2))))
    val want = (for {
      (pid, p) <- ptVecs
      (rid, vs) <- routeDefs
    } yield {
      val vn = vs.map { case (la, lo) =>
        Gade.latLonToNvec(math.toRadians(la), math.toRadians(lo)) }
      val d = vn.init.zip(vn.tail).map { case (a, b) =>
        graft.index.CellKernels.segDistRad(p.x, p.y, p.z,
          a.x, a.y, a.z, b.x, b.y, b.z)
      }.min * R
      ((pid, rid), d)
    }).filter(_._2 <= buf).toMap
    assert(got.keySet == want.keySet,
      s"corridor membership diff: +${(got.keySet -- want.keySet).take(5)} " +
        s"-${(want.keySet -- got.keySet).take(5)}")
    want.foreach { case (k, d) =>
      assert(math.abs(got(k) - d) < 1e-6, s"distance mismatch at $k")
    }
    assert(want.nonEmpty, "degenerate test: no point in any corridor")
  }

  test("cells DSL round trips against scalar kernels") {
    import graft.index.{cells, CellIndex}
    val p = pointsDf(200, "c", 8)
      .withColumn("cell", cells.cellAt(col("c_n"), 12))
      .withColumn("parent", cells.parentCell(col("cell"), 2))
      .withColumn("ring", cells.ringCells(col("cell"), 1))
      .withColumn("center", cells.cellCenter(col("cell")))
    p.collect().foreach { r =>
      val s = r.getStruct(r.fieldIndex("c_n"))
      val expected = CellIndex.cellAt(s.getDouble(0), s.getDouble(1), s.getDouble(2), 12)
      assert(r.getLong(r.fieldIndex("cell")) == expected)
      assert(r.getLong(r.fieldIndex("parent")) == CellIndex.parent(expected, 2))
      assert(r.getSeq[Long](r.fieldIndex("ring")) == CellIndex.ring(expected, 1).toSeq)
    }
  }
}
