package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import java.sql.Timestamp
import graft.{SparkTestSession, TempDirs}
import graft.functions.geo
import graft.SparkTestSession.rnd

class GeoStreamsSpec extends AnyFunSuite with TempDirs {
  lazy val spark = SparkTestSession.spark

  test("streaming dedup by image id within watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Timestamp, Double, Double)]
    val df = input.toDF().toDF("image_id", "ts", "latd", "lond")
    val deduped = GeoStreams.dedupeByIdStream(df, "image_id", "ts", "10 minutes")
    val q = deduped.writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    val t0 = Timestamp.valueOf("2026-01-01 00:00:00")
    def ts(m: Int) = new Timestamp(t0.getTime + m * 60000L)
    input.addData(("img_a", ts(0), 1.0, 2.0), ("img_b", ts(1), 3.0, 4.0),
      ("img_a", ts(2), 1.0, 2.0))
    q.processAllAvailable()
    input.addData(("img_b", ts(3), 3.0, 4.0), ("img_c", ts(4), 5.0, 6.0))
    q.processAllAvailable()
    val ids = spark.table("dedup_out").select("image_id")
      .collect().map(_.getString(0)).sorted.toSeq
    q.stop()
    assert(ids == Seq("img_a", "img_b", "img_c"))
  }

  test("stream-static polygon-table join replays the batch join with no duplicates") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.{SpatialJoins => SJ}
    // a multipolygon whose hole/island rings cover at FINER levels
    // inside the outer ring's coarse cover — exactly the multi-level
    // overlap that makes the batch operator need dropDuplicates —
    // plus a small distant box
    val multi = Seq(
      Seq((30.0, 60.0), (30.0, 90.0), (55.0, 90.0), (55.0, 60.0)),
      Seq((38.0, 68.0), (38.0, 82.0), (48.0, 82.0), (48.0, 68.0)),
      Seq((41.0, 72.0), (41.0, 78.0), (45.0, 78.0), (45.0, 72.0)))
    val small = Seq(Seq((40.0, 100.0), (40.0, 101.5), (41.5, 101.5), (41.5, 100.0)))
    val polys = Seq(
      ("multi", SJ.AoiM("multi", multi).flatRings.toSeq),
      ("small", SJ.AoiM("small", small).flatRings.toSeq),
      ("nul", null.asInstanceOf[Seq[Double]]))
      .toDF("poly_id", "rings")
    // scatter biased into every parity region (outer / hole / island)
    // and the small box, plus global noise and a null position
    val pts: Seq[(Long, java.lang.Double, java.lang.Double)] =
      (0L until 300L).map { i =>
        val band = i % 4
        val la = band match {
          case 0 => 30.0 + (i % 26).toDouble   // outer..island sweep
          case 1 => 39.0 + (i % 10) * 0.7      // hole/island region
          case 2 => 39.5 + (i % 4) * 0.6       // small box region
          case _ => -60.0 + (i % 120).toDouble // global noise
        }
        val lo = band match {
          case 0 => 61.0 + (i % 29).toDouble
          case 1 => 69.0 + (i % 14).toDouble
          case 2 => 99.8 + (i % 5) * 0.5
          case _ => -150.0 + ((i * 7) % 300).toDouble
        }
        (i, Double.box(la), Double.box(lo))
      } :+ ((300L, null: java.lang.Double, null: java.lang.Double))
    val input = MemoryStream[(Long, java.lang.Double, java.lang.Double)]
    val sdf = input.toDF().toDF("id", "latd", "lond")
      .withColumn("n", when(col("latd").isNotNull,
        geo.nvecDeg(col("latd"), col("lond"))))
    val out = GeoStreams.polygonJoinStream(sdf, "n", polys, "poly_id", "rings")
    val q = out.writeStream.format("memory").queryName("pip_stream")
      .outputMode("append").start()
    val (batch1, batch2) = pts.splitAt(150)
    input.addData(batch1: _*)
    q.processAllAvailable()
    input.addData(batch2: _*)
    q.processAllAvailable()
    val got = spark.table("pip_stream").select("id", "poly_id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    q.stop()
    // exactly-once per (point, polygon): no duplicates at all
    assert(got.distinct.size == got.size,
      s"duplicate emissions: ${got.groupBy(identity).filter(_._2.size > 1).keys}")
    val bdf = pts.toDF("id", "latd", "lond")
      .withColumn("n", when(col("latd").isNotNull,
        geo.nvecDeg(col("latd"), col("lond"))))
    val want = SJ.polygonJoin(bdf.select(col("id"), col("n")), "n", "id",
        polys, "poly_id", "rings")
      .select("id", "poly_id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(want.nonEmpty && want.exists(_._2 == "multi") &&
      want.exists(_._2 == "small"), s"degenerate fixture: ${want.size}")
    assert(got.toSet == want,
      s"missing=${(want -- got.toSet).take(5)} extra=${(got.toSet -- want).take(5)}")
  }

  test("streaming as-of join: backward matches, watermark-gated emission, tail flush") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val t0 = Timestamp.valueOf("2026-01-01 00:00:00")
    def ts(m: Int) = new Timestamp(t0.getTime + m * 60000L)
    val lIn = MemoryStream[(Long, Timestamp, Long)]
    val rIn = MemoryStream[(Long, Timestamp, Double)]
    val out = GeoStreams.asOfJoinStream(
      lIn.toDF().toDF("k", "ts", "id"), rIn.toDF().toDF("k", "ts", "v"),
      "k", "ts", "id", "ts", "v", watermark = "5 minutes")
    val q = out.writeStream.format("memory").queryName("asof_out")
      .outputMode("append").start()
    // batch 1: left @5 arrives BEFORE its best right @4 (next batch) —
    // emission must wait for the watermark, not match greedily
    lIn.addData((1L, ts(5), 100L))
    rIn.addData((1L, ts(0), 10.0))
    q.processAllAvailable()
    assert(spark.table("asof_out").count() === 0)
    // batch 2: the out-of-order better right @4, plus a left @25 and
    // watermark pushers on another key, BOTH streams (the union
    // watermark is the min across inputs) -> wm = 55
    rIn.addData((1L, ts(4), 14.0), (1L, ts(20), 20.0), (9L, ts(60), 0.0))
    lIn.addData((1L, ts(25), 101L), (9L, ts(60), 999L))
    q.processAllAvailable()
    // batch 3: no new key-1 data — the EventTimeTimeout must flush
    // the pending lefts now that wm=55 has passed them
    rIn.addData((9L, ts(61), 0.0))
    q.processAllAvailable()
    val got = spark.table("asof_out").filter(col("k") === 1)
      .select("id", "rTsMs", "rV").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1), r.getDouble(2)))
      .toSet
    q.stop()
    assert(got === Set(
      (100L, ts(4).getTime, 14.0),   // left@5 -> right@4 (not the stale @0)
      (101L, ts(20).getTime, 20.0))) // left@25 -> right@20
  }

  test("streaming as-of join agrees with the batch operator on replayed data") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val t0 = Timestamp.valueOf("2026-01-01 00:00:00")
    def ts(m: Int) = new Timestamp(t0.getTime + m * 60000L)
    val lefts = (0 until 80).map(i =>
      ((rnd(i * 2L) * 5).toLong, ts((rnd(i * 3L) * 90).toInt), i.toLong))
    val rights = (0 until 60).map(i =>
      ((rnd(i * 5L + 1) * 5).toLong, ts((rnd(i * 7L + 1) * 90).toInt), i * 1.0))
    val lIn = MemoryStream[(Long, Timestamp, Long)]
    val rIn = MemoryStream[(Long, Timestamp, Double)]
    val out = GeoStreams.asOfJoinStream(
      lIn.toDF().toDF("k", "ts", "id"), rIn.toDF().toDF("k", "ts", "v"),
      "k", "ts", "id", "ts", "v", watermark = "1 minute",
      toleranceMs = Some(15L * 60000L))
    val q = out.writeStream.format("memory").queryName("asof_replay")
      .outputMode("append").start()
    // batches honor the watermark contract: arbitrary disorder WITHIN
    // a batch, but a later batch never carries event times below the
    // watermark the earlier batch established (feeding genuinely late
    // rights would be data the watermark already disclaimed — the
    // stream is then allowed to miss them where batch would not)
    val cut = ts(45).getTime
    lIn.addData(lefts.filter(_._2.getTime < cut))
    rIn.addData(rights.filter(_._2.getTime < cut))
    q.processAllAvailable()
    lIn.addData(lefts.filter(_._2.getTime >= cut))
    rIn.addData(rights.filter(_._2.getTime >= cut))
    q.processAllAvailable()
    // pushers on BOTH streams: the union watermark is the min
    rIn.addData((99L, ts(200), 0.0)); lIn.addData((99L, ts(200), 9999L))
    q.processAllAvailable()
    val got = spark.table("asof_replay")
      .filter(col("k") =!= 99)
      .select("id", "rTsMs", "rV").collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some((r.getLong(1), r.getDouble(2)))))
      .toMap
    q.stop()
    val want = graft.operators.AsOfJoin.asOfJoin(
      lefts.toDF("k", "ts", "id"), rights.toDF("k", "ts2", "v"),
      Seq("k"), "ts", "ts2", "backward", tolerance = None)
      .withColumn("gapOk",
        col("ts").cast("long") - col("r_ts2").cast("long") <= 15L * 60)
      .select("id", "r_ts2", "r_v", "gapOk").collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1) || !r.getBoolean(3)) None
        else Some((r.getTimestamp(1).getTime, r.getDouble(2)))))
      .toMap
    assert(got === want)
  }

  test("streaming as-of join: forward direction needs and honors tolerance") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val t0 = Timestamp.valueOf("2026-01-01 00:00:00")
    def ts(m: Int) = new Timestamp(t0.getTime + m * 60000L)
    intercept[IllegalArgumentException] {
      GeoStreams.asOfJoinStream(
        spark.range(1).select(col("id").as("k"), lit(t0).as("ts"), col("id")),
        spark.range(1).select(col("id").as("k"), lit(t0).as("ts"), lit(0.0).as("v")),
        "k", "ts", "id", "ts", "v", "5 minutes", direction = "forward")
    }
    val lIn = MemoryStream[(Long, Timestamp, Long)]
    val rIn = MemoryStream[(Long, Timestamp, Double)]
    val out = GeoStreams.asOfJoinStream(
      lIn.toDF().toDF("k", "ts", "id"), rIn.toDF().toDF("k", "ts", "v"),
      "k", "ts", "id", "ts", "v", watermark = "2 minutes",
      direction = "forward", toleranceMs = Some(10L * 60000L))
    val q = out.writeStream.format("memory").queryName("asof_fwd")
      .outputMode("append").start()
    // left@10: next right within 10 min is @14; left@30 has none
    // (right@45 is beyond tolerance)
    lIn.addData((1L, ts(10), 1L), (1L, ts(30), 2L))
    rIn.addData((1L, ts(5), 5.0), (1L, ts(14), 14.0), (1L, ts(45), 45.0))
    q.processAllAvailable()
    rIn.addData((9L, ts(60), 0.0)); lIn.addData((9L, ts(60), 999L))
    q.processAllAvailable()
    val got = spark.table("asof_fwd").filter(col("k") === 1)
      .select("id", "rTsMs", "rV").collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some((r.getLong(1), r.getDouble(2))))).toMap
    q.stop()
    assert(got === Map(1L -> Some((ts(14).getTime, 14.0)), 2L -> None))
  }

  test("stream-stream distance join pairs within radius and time bound") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val t0 = Timestamp.valueOf("2026-01-01 00:00:00")
    def ts(m: Int) = new Timestamp(t0.getTime + m * 60000L)
    val lIn = MemoryStream[(Long, Double, Double, Timestamp)]
    val rIn = MemoryStream[(Long, Double, Double, Timestamp)]
    val l = lIn.toDF().toDF("l_id", "l_latd", "l_lond", "l_ts")
      .withColumn("l_n", geo.nvecDeg(col("l_latd"), col("l_lond")))
    val r = rIn.toDF().toDF("r_id", "r_latd", "r_lond", "r_ts")
      .withColumn("r_n", geo.nvecDeg(col("r_latd"), col("r_lond")))
    val joined = GeoStreams.distanceJoinStream(l, r, "l_n", "r_n",
        "l_ts", "r_ts", radiusMeters = 50000.0,
        watermark = "10 minutes", maxTimeDiff = "5 minutes")
      .select("l_id", "r_id", "dist_m")
    val q = joined.writeStream.format("memory").queryName("sdj_out")
      .outputMode("append").start()
    // r101 is ~22 km from l1 (in radius), r102 ~220 km (out of radius),
    // r103 in radius but 30 min away (out of time bound); l2 on the
    // other side of the planet pairs with nothing
    lIn.addData((1L, 10.0, 20.0, ts(0)), (2L, -40.0, -160.0, ts(1)))
    rIn.addData((101L, 10.2, 20.0, ts(2)), (102L, 12.0, 20.0, ts(3)),
      (103L, 10.1, 20.0, ts(30)))
    q.processAllAvailable()
    val got = spark.table("sdj_out").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getDouble(2))).toSeq
    q.stop()
    assert(got.map(p => (p._1, p._2)) == Seq((1L, 101L)), got.mkString(","))
    val expect = graft.geo.Gade.greatCircleDistanceRad(
      graft.geo.Gade.latLonToNvec(math.toRadians(10.0), math.toRadians(20.0)),
      graft.geo.Gade.latLonToNvec(math.toRadians(10.2), math.toRadians(20.0))) *
      graft.geo.Ellipsoids.MeanEarthRadius
    assert(math.abs(got.head._3 - expect) < 1e-6)
  }

  test("streaming kNN against literal landmarks matches batch brute force") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.SpatialJoins
    import graft.geo.{Gade, Vec3}
    val landmarks: Seq[(Long, Vec3)] = (0 until 24).map { i =>
      (i.toLong, Gade.latLonToNvec(
        math.toRadians(-60.0 + 24.0 * (i % 6)), math.toRadians(-150.0 + 72.0 * (i / 6))))
    }
    val input = MemoryStream[(Long, Double, Double)]
    val pts = input.toDF().toDF("pid", "latd", "lond")
      .withColumn("n", geo.nvecDeg(col("latd"), col("lond")))
    val knn = SpatialJoins.knnLandmarks(pts, "n", landmarks, k = 3)
      .select("pid", "rank", "lm_id", "dist_m")
    val q = knn.writeStream.format("memory").queryName("knn_out")
      .outputMode("append").start()
    input.addData((1L, 10.0, 20.0), (2L, -45.0, -100.0))
    q.processAllAvailable()
    input.addData((3L, 88.0, 0.0))
    q.processAllAvailable()
    val got = spark.table("knn_out").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._2)).toSeq
    q.stop()
    // batch brute force over the same rows: every (point, landmark)
    // great-circle distance, rank by (dist, id)
    val ptRows = Seq((1L, 10.0, 20.0), (2L, -45.0, -100.0), (3L, 88.0, 0.0))
    val expect = ptRows.flatMap { case (pid, la, lo) =>
      val p = Gade.latLonToNvec(math.toRadians(la), math.toRadians(lo))
      landmarks.map { case (id, lm) =>
        (pid, id, Gade.greatCircleDistanceRad(p, lm) * graft.geo.Ellipsoids.MeanEarthRadius)
      }.sortBy { case (_, id, d) => (d, id) }.take(3).zipWithIndex
        .map { case ((pd, id, d), i) => (pd, i + 1, id, d) }
    }.sortBy(t => (t._1, t._2))
    assert(got.size == expect.size)
    got.zip(expect).foreach { case ((gp, gr, gi, gd), (ep, er, ei, ed)) =>
      assert(gp == ep && gr == er && gi == ei, s"got=($gp,$gr,$gi) expect=($ep,$er,$ei)")
      assert(math.abs(gd - ed) < 1e-6)
    }
    // stateless: the streaming plan must carry no stateful operator
    val p = knn.queryExecution.analyzed.toString
    assert(!p.contains("Aggregate") && !p.contains("Window"), p)
  }

  test("streaming AOI assignment (stream-static broadcast PIP)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.SpatialJoins
    import graft.operators.SpatialJoins.Aoi
    // aoiJoin is stateless (broadcast cover map + PIP filter), so it
    // composes directly onto a streaming source — the flagship tiling
    // stage in streaming form
    val input = MemoryStream[(Long, Double, Double)]
    val pts = input.toDF().toDF("pid", "latd", "lond")
      .withColumn("n", geo.nvecDeg(col("latd"), col("lond")))
    val aois = Seq(
      Aoi("eq_box", Seq((-10.0, -10.0), (-10.0, 10.0), (10.0, 10.0), (10.0, -10.0))),
      Aoi("north", Seq((50.0, -60.0), (50.0, 60.0), (80.0, 60.0), (80.0, -60.0))))
    val assigned = SpatialJoins.aoiJoin(pts, "n", aois).select("pid", "aoi_id")
    val q = assigned.writeStream.format("memory").queryName("aoi_out")
      .outputMode("append").start()
    // note great-circle edges: the (50,-60)->(50,60) edge bulges to
    // ~67.3N at lon 0, so "inside" at lon 0 means lat in (67.3, 85)
    input.addData((1L, 0.0, 0.0), (2L, 75.0, 0.0), (3L, -40.0, 100.0))
    q.processAllAvailable()
    input.addData((4L, 5.0, -5.0), (5L, 75.0, 30.0))
    q.processAllAvailable()
    val got = spark.table("aoi_out").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    q.stop()
    assert(got == Set((1L, "eq_box"), (2L, "north"), (4L, "eq_box"), (5L, "north")))
  }

  test("streaming ingest commits deduplicated snapshots and resumes") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = tempDir("stream_snap")
    val ckpt = tempDir("stream_ckpt")
    val store = new graft.sources.SnapshotStore(spark, root)
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    def ts(m: Int) = new java.sql.Timestamp(t0.getTime + m * 60000L)
    val input = MemoryStream[(String, java.sql.Timestamp, Double)]
    val df = input.toDF().toDF("image_id", "ts", "v")
    input.addData(("a", ts(0), 1.0), ("b", ts(1), 2.0), ("a", ts(2), 1.0))
    val q = GeoStreams.ingestToSnapshots(df, "image_id", "ts", "10 minutes",
      store, "imgs", ckpt)
    q.awaitTermination()
    val committed = store.snapshots.map(_._2)
    assert(committed.exists(_.startsWith("imgs_batch_")))
    val total = committed.filter(_.startsWith("imgs_batch_"))
      .map(store.read(_).count()).sum
    assert(total == 2, s"dedup failed: $total rows committed") // a deduped
    // resume: new data, same checkpoint — only the new rows commit
    input.addData(("b", ts(3), 2.0), ("c", ts(4), 3.0))
    val q2 = GeoStreams.ingestToSnapshots(df, "image_id", "ts", "10 minutes",
      store, "imgs", ckpt)
    q2.awaitTermination()
    val total2 = store.snapshots.map(_._2).filter(_.startsWith("imgs_batch_"))
      .map(store.read(_).count()).sum
    assert(total2 == 3, s"expected one new unique row, got $total2")
  }

  test("streaming course over ground keeps per-track state across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Double, Double, Double)]
    val df = input.toDF().toDF("track", "t", "latd", "lond")
      .withColumn("n", geo.nvecDeg(col("latd"), col("lond")))
    val cogs = GeoStreams.courseOverGroundStream(df, "track", "t", "n")
    val q = cogs.writeStream.format("memory").queryName("cog_out")
      .outputMode("append").start()
    // batch 1: two fixes of track 1 (one bearing), one fix of track 2
    input.addData((1L, 0.0, 10.0, 10.0), (1L, 1.0, 11.0, 10.0), (2L, 0.0, -5.0, 50.0))
    q.processAllAvailable()
    // batch 2: track 1 turns east; track 2 emits its first bearing —
    // both rely on state carried from batch 1. The t=0.5 fix is a
    // cross-batch STRAGGLER (older than track 1's carried t=1 state):
    // it must be dropped, not emit a reversed-leg bearing or regress
    // the state the t=2 fix builds on
    input.addData((1L, 2.0, 11.0, 11.0), (1L, 0.5, 10.5, 10.0), (2L, 1.0, -5.0, 51.0))
    q.processAllAvailable()
    val rows = spark.table("cog_out").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).sortBy(x => (x._1, x._2))
    q.stop()
    assert(rows.length == 3)
    // track 1 first leg: due north (~0 rad)
    assert(math.abs(rows(0)._3) < 0.01, s"north leg: ${rows(0)._3}")
    // track 1 second leg: due east at lat 11 (~pi/2), using state from batch 1
    assert(math.abs(rows(1)._3 - math.Pi / 2) < 0.05, s"east leg: ${rows(1)._3}")
    // track 2: due east near the equator
    assert(math.abs(rows(2)._3 - math.Pi / 2) < 0.05, s"track2: ${rows(2)._3}")
    // batch equivalence: the same fixes through the batch operator give
    // the same bearings for interior legs computed from the same pairs
    val batchAz = graft.geo.Gade.azimuth(
      graft.geo.Gade.latLonToNvec(math.toRadians(10), math.toRadians(10)),
      graft.geo.Gade.latLonToNvec(math.toRadians(11), math.toRadians(10)))
    assert(math.abs(rows(0)._3 - batchAz) < 1e-12)
  }

  test("streaming geofence keeps per-(track,fence) state across batches and replays like batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val fence = graft.operators.SpatialJoins.Aoi("box",
      Seq((-1.0, -1.0), (-1.0, 1.0), (1.0, 1.0), (1.0, -1.0)))
    val input = MemoryStream[(Long, Double, Double, Double)]
    val df = input.toDF().toDF("track", "t", "latd", "lond")
      .withColumn("n", geo.nvecDeg(col("latd"), col("lond")))
    val evs = GeoStreams.geofenceStream(df, "track", "t", "n", Seq(fence))
    val q = evs.writeStream.format("memory").queryName("gf_out")
      .outputMode("append").start()
    // batch 1: track 1 out->in (enter@1); track 2 starts INSIDE (enter@0)
    input.addData((1L, 0.0, 5.0, 0.0), (1L, 1.0, 0.2, 0.0), (2L, 0.0, 0.0, 0.0))
    q.processAllAvailable()
    // batch 2: track 1 exits, relying on the carried inside state;
    // track 2 stays in (no event); a t=0.5 STRAGGLER for track 1
    // (inside) must be dropped, not emit a bogus exit/enter pair
    input.addData((1L, 2.0, 3.0, 0.0), (1L, 0.5, 0.1, 0.0), (2L, 1.0, 0.3, 0.3))
    q.processAllAvailable()
    // batch 3: TIED timestamps in one batch — track 3's (t=5 out,
    // t=5 in) pair must process outside-first like the batch window's
    // tie-break and deterministically emit enter@5 (ends inside)
    input.addData((3L, 5.0, 4.0, 0.0), (3L, 5.0, 0.2, 0.0))
    q.processAllAvailable()
    val got = spark.table("gf_out").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(3)))
      .sortBy(x => (x._1, x._2)).toSeq
    q.stop()
    assert(got == Seq((1L, 1.0, "enter"), (1L, 2.0, "exit"), (2L, 0.0, "enter"),
      (3L, 5.0, "enter")))
    // batch replay equality on the ordered (non-straggler) feed,
    // tied pair included
    val replay = Seq((1L, 0.0, 5.0, 0.0), (1L, 1.0, 0.2, 0.0), (1L, 2.0, 3.0, 0.0),
        (2L, 0.0, 0.0, 0.0), (2L, 1.0, 0.3, 0.3),
        (3L, 5.0, 4.0, 0.0), (3L, 5.0, 0.2, 0.0))
      .toDF("track", "t", "latd", "lond")
      .withColumn("n", geo.nvecDeg(col("latd"), col("lond")))
    val batch = graft.operators.SpatialJoins
      .geofenceTransitions(replay, "track", "t", "n", Seq(fence))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(3)))
      .sortBy(x => (x._1, x._2)).toSeq
    assert(batch == got)
  }

  test("streaming windowed cell counts with mean position") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, Double, Double)]
    val df = input.toDF().toDF("id", "ts", "latd", "lond")
      .withColumn("n", geo.nvecDeg(col("latd"), col("lond")))
    val counts = GeoStreams.cellCountsStream(df, "n", "ts", 4, "10 minutes", "5 minutes")
    val q = counts.writeStream.format("memory").queryName("cell_out")
      .outputMode("complete").start()
    val t0 = Timestamp.valueOf("2026-01-01 00:00:00")
    def ts(m: Int) = new Timestamp(t0.getTime + m * 60000L)
    // three points in one cell neighborhood + one far away
    input.addData((1L, ts(0), 10.0, 10.0), (2L, ts(1), 10.01, 10.01),
      (3L, ts(2), 10.02, 9.99), (4L, ts(3), -45.0, -120.0))
    q.processAllAvailable()
    val rows = spark.table("cell_out").collect()
    q.stop()
    assert(rows.map(_.getAs[Long]("n")).sum == 4)
    val big = rows.maxBy(_.getAs[Long]("n"))
    assert(big.getAs[Long]("n") == 3)
    assert(math.abs(big.getAs[Double]("mean_lat") - 10.01) < 0.02)
    assert(math.abs(big.getAs[Double]("mean_lon") - 10.0) < 0.02)
  }

  test("streaming as-of join drops null event times instead of dying") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val t0 = Timestamp.valueOf("2026-01-01 00:00:00")
    def ts(m: Int) = new Timestamp(t0.getTime + m * 60000L)
    val lIn = MemoryStream[(Long, Timestamp, Long)]
    val rIn = MemoryStream[(Long, Timestamp, Double)]
    val out = GeoStreams.asOfJoinStream(
      lIn.toDF().toDF("k", "ts", "id"), rIn.toDF().toDF("k", "ts", "v"),
      "k", "ts", "id", "ts", "v", watermark = "1 minute")
    val q = out.writeStream.format("memory").queryName("asof_nullts")
      .outputMode("append").start()
    // one dirty record per side: the null-time left can never emit, the
    // null-time right can never match — both must be filtered, not NPE
    lIn.addData((1L, ts(10), 1L), (1L, null, 2L))
    rIn.addData((1L, ts(5), 7.0), (1L, null, 99.0))
    q.processAllAvailable()
    lIn.addData((9L, ts(500), 900L)); rIn.addData((9L, ts(500), 0.0))
    q.processAllAvailable()
    lIn.addData((9L, ts(501), 901L)); rIn.addData((9L, ts(501), 0.0))
    q.processAllAvailable()
    val got = spark.table("asof_nullts").filter(col("k") === 1)
      .select("id", "rV").collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    q.stop()
    assert(got === Set((1L, 7.0))) // id=2 dropped; v=99 never matched
  }

  test("watermark boundary: rows at event time == watermark are late-dropped, so emit-at-horizon is safe") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val t0 = Timestamp.valueOf("2026-01-01 00:00:00")
    def ts(m: Int) = new Timestamp(t0.getTime + m * 60000L)
    val lIn = MemoryStream[(Long, Timestamp, Long)]
    val rIn = MemoryStream[(Long, Timestamp, Double)]
    val out = GeoStreams.asOfJoinStream(
      lIn.toDF().toDF("k", "ts", "id"), rIn.toDF().toDF("k", "ts", "v"),
      "k", "ts", "id", "ts", "v", watermark = "1 minute")
    val q = out.writeStream.format("memory").queryName("asof_wmedge")
      .outputMode("append").start()
    // b1: left@100 plus pushers taking the union watermark to exactly 100
    lIn.addData((1L, ts(100), 1L), (9L, ts(101), 900L))
    rIn.addData((1L, ts(0), 1.0), (9L, ts(101), 0.0))
    q.processAllAvailable()
    // b2, with wm == 100: a right and a second left at EXACTLY ts(100)
    // are dropped by Spark's late filter (only ts > wm is admitted) —
    // which is precisely why emitting pending lefts at tl <= wm cannot
    // race a future right; the ts(150) right invokes the k=1 group
    lIn.addData((1L, ts(100), 2L))
    rIn.addData((1L, ts(100), 2.0), (1L, ts(150), 9.0))
    q.processAllAvailable()
    // flush whatever is still pending
    lIn.addData((9L, ts(300), 901L)); rIn.addData((9L, ts(300), 0.0))
    q.processAllAvailable()
    lIn.addData((9L, ts(301), 902L)); rIn.addData((9L, ts(301), 0.0))
    q.processAllAvailable()
    val got = spark.table("asof_wmedge").filter(col("k") === 1)
      .select("id", "rTsMs", "rV").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    q.stop()
    // id=1 emitted at the b2 trigger (tl == wm) with the best on-time
    // right (@0); the ==wm right never matched and the ==wm left id=2
    // never appeared — both late-dropped by the engine itself
    assert(got === Set((1L, ts(0).getTime, 1.0)))
  }

  test("streaming sessionization: gap close, cross-batch carry, idle timeout flush") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val t0 = Timestamp.valueOf("2026-01-01 00:00:00")
    def ts(m: Int) = new Timestamp(t0.getTime + m * 60000L)
    val in = MemoryStream[(Long, Timestamp)]
    val out = GeoStreams.sessionizeStream(in.toDF().toDF("k", "ts"),
      "k", "ts", maxGapMs = 10L * 60000L, watermark = "5 minutes")
    val q = out.writeStream.format("memory").queryName("sess_out")
      .outputMode("append").start()
    // batch 1: key 1 events at 0,4,8 (one session) — nothing closes
    // yet (watermark trails 5 min behind max event time 8 -> wm 3)
    in.addData((1L, ts(0)), (1L, ts(8)), (1L, ts(4)))
    q.processAllAvailable()
    assert(spark.table("sess_out").count() === 0)
    // batch 2: key 1 continues at 12 (gap 4 <= 10: SAME session across
    // batches) and a watermark pusher on key 9 at 60 -> wm 55; the
    // key-1 session [0..12] closes (12 + 10 < 55)
    in.addData((1L, ts(12)), (9L, ts(60)))
    q.processAllAvailable()
    val s1 = spark.table("sess_out").filter(col("key") === 1L).collect()
    assert(s1.length == 1)
    val r = s1(0)
    assert(r.getAs[Long]("session_idx") == 1L && r.getAs[Long]("n_events") == 4L &&
      r.getAs[Long]("start_ms") == ts(0).getTime &&
      r.getAs[Long]("end_ms") == ts(12).getTime &&
      r.getAs[Long]("duration_ms") == 12L * 60000L)
    // batch 3: nothing new for key 9 — push the watermark with key 8;
    // key 9's lone event must flush via the EVENT-TIME TIMEOUT (no
    // further key-9 data ever arrives)
    in.addData((8L, ts(100)))
    q.processAllAvailable()
    in.addData((8L, ts(140)))
    q.processAllAvailable()
    val s9 = spark.table("sess_out").filter(col("key") === 9L).collect()
    assert(s9.length == 1 && s9(0).getAs[Long]("n_events") == 1L &&
      s9(0).getAs[Long]("session_idx") == 1L)
    q.stop()
  }

  test("streaming sessionization agrees with batch sessionStats on replayed data") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val t0 = Timestamp.valueOf("2026-01-01 00:00:00")
    def ts(m: Int) = new Timestamp(t0.getTime + m * 60000L)
    // 200 events over 5 keys and 0..240 min, jittered; gap 12 min
    val evts = (0 until 200).map { i =>
      ((rnd(i * 3L) * 5).toLong, ts((rnd(i * 7L + 1) * 240).toInt))
    }
    val in = MemoryStream[(Long, Timestamp)]
    val out = GeoStreams.sessionizeStream(in.toDF().toDF("k", "ts"),
      "k", "ts", maxGapMs = 12L * 60000L, watermark = "1 minute")
    val q = out.writeStream.format("memory").queryName("sess_replay")
      .outputMode("append").start()
    // watermark-contract batching: disorder within a batch, but later
    // batches never dip below the established watermark
    val cuts = Seq(80, 160, 1000).map(m => ts(m).getTime)
    var lo = Long.MinValue
    cuts.foreach { hi =>
      val b = evts.filter(e => e._2.getTime >= lo && e._2.getTime < hi)
      if (b.nonEmpty) { in.addData(b); q.processAllAvailable() }
      lo = hi
    }
    // final pusher far in the future closes every session (key 7 only)
    in.addData((7L, ts(2000)))
    q.processAllAvailable()
    val got = spark.table("sess_replay").filter(col("key") =!= 7L)
      .select("key", "session_idx", "n_events", "start_ms", "end_ms", "duration_ms")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    q.stop()
    val batch = graft.operators.Sessions.sessionStats(
        evts.toDF("k", "ts"), "k", "ts", 12L * 60000L)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(got == batch, {
      val keys = (got.keySet ++ batch.keySet).filter(k => got.get(k) != batch.get(k))
      s"session mismatch at ${keys.take(5)}: stream=${keys.take(2).map(got.get)} batch=${keys.take(2).map(batch.get)}"
    })
  }
}
