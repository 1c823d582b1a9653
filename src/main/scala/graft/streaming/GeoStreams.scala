package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
import graft.functions.geo
import graft.index.cells
import graft.sources.SnapshotStore

/** Structured-Streaming forms of the pipeline stages. The geodesy
  * kernels are stateless expressions, so the same Column DSL runs
  * unchanged under `readStream`; these helpers add the stateful
  * pieces: watermarked dedup and windowed per-cell aggregation
  * (SURVEY.md §2.10 streaming row).
  */
object GeoStreams {

  /** Drop duplicate image ids within the watermark horizon (the
    * streaming ingest guard for the image+caption table).
    */
  def dedupeByIdStream(stream: DataFrame, idCol: String, tsCol: String,
                       watermark: String): DataFrame =
    stream.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(idCol)

  /** Event-time windowed counts + mean position per cell: the
    * streaming tile-statistics operator.
    */
  def cellCountsStream(stream: DataFrame, nvecCol: String, tsCol: String,
                       level: Int, windowDuration: String,
                       watermark: String): DataFrame =
    stream.withWatermark(tsCol, watermark)
      .withColumn("cell", cells.cellAt(col(nvecCol), level))
      .groupBy(window(col(tsCol), windowDuration), col("cell"))
      .agg(count(lit(1)).as("n"),
        geo.meanPosition(col(nvecCol)).as("mean_n"))
      .select(col("window.start").as("window_start"), col("cell"), col("n"),
        round(geo.latDeg(col("mean_n")), 6).as("mean_lat"),
        round(geo.lonDeg(col("mean_n")), 6).as("mean_lon"))

  final case class Fix(track: Long, t: Double, x: Double, y: Double, z: Double)
  final case class Cog(track: Long, t: Double, cog_rad: Double)

  /** Streaming course over ground via custom state
    * (flatMapGroupsWithState): per track, keep the last fix and emit
    * the ellipsoid-exact bearing from it to each newly arrived fix.
    * The streaming form of [[graft.operators.Tracks.courseOverGround]]
    * for the common monotone-feed case (fixes per track arrive in
    * time order; the batch operator remains the replay/backfill path
    * where midpoint smoothing needs both neighbors).
    *
    * State is ONE fix per track. In production pass
    * `idleTimeout = Some("1 hour")` so dead tracks' state expires
    * (an unbounded track universe must not accumulate state forever);
    * note that a processing-time timeout makes the engine schedule
    * continuous no-data micro-batches to fire expirations, so
    * test-style `processAllAvailable()` never settles with it — hence
    * opt-in rather than default.
    *
    * Input columns: (trackCol: long, tCol: double, nvecCol struct).
    */
  def courseOverGroundStream(stream: DataFrame, trackCol: String,
                             tCol: String, nvecCol: String,
                             idleTimeout: Option[String] = None): Dataset[Cog] = {
    val spark = stream.sparkSession
    import spark.implicits._
    val timeoutConf =
      if (idleTimeout.isDefined) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    stream.select(col(trackCol).cast("long").as("track"),
        col(tCol).cast("double").as("t"),
        col(nvecCol).getField("x").as("x"),
        col(nvecCol).getField("y").as("y"),
        col(nvecCol).getField("z").as("z"))
      .as[Fix]
      .groupByKey(_.track)
      .flatMapGroupsWithState[Fix, Cog](OutputMode.Append(), timeoutConf) {
        (track: Long, fixes: Iterator[Fix], state: GroupState[Fix]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val sorted = fixes.toArray.sortBy(_.t)
            var last = state.getOption
            val out = sorted.iterator.flatMap { f =>
              // cross-batch stragglers: a fix at or before the carried
              // state's time is either a reversed leg (older) or an
              // at-least-once redelivery (equal t — emitting it would
              // produce a bogus zero-distance bearing); drop both
              // (sorting only orders within the batch, it cannot see
              // earlier batches)
              if (last.exists(_.t >= f.t)) Iterator.empty
              else {
                val bearing = last.map { p =>
                  Cog(track, f.t, graft.geo.Gade.azimuth(
                    graft.geo.Vec3(p.x, p.y, p.z), graft.geo.Vec3(f.x, f.y, f.z)))
                }
                last = Some(f)
                bearing
              }
            }.toVector
            last.foreach(state.update)
            idleTimeout.foreach(state.setTimeoutDuration)
            out.iterator
          }
      }
  }

  final case class FenceFix(track: Long, aoi: String, t: Double, inz: Boolean)
  final case class FenceState(t: Double, in: Boolean)
  final case class FenceEvent(track: Long, t: Double, aoi_id: String, event: String)

  /** Streaming geofence enter/exit events — the streaming form of
    * [[graft.operators.SpatialJoins.geofenceTransitions]] for the
    * monotone-feed case (fixes per track arrive in time order; the
    * batch operator remains the replay/backfill path). The winding
    * inside-test runs map-only against the broadcast literal fence
    * set BEFORE keying, so state is ONE (t, inside) pair per
    * (track, fence): enter on first-seen-inside or outside->inside,
    * exit on inside->outside. Within a batch, time ties process in
    * (t, inside) order — outside first, matching the batch window's
    * tie-break, so a tied in/out pair deterministically reads as
    * ending inside and replay equality with the batch operator holds
    * for ties that land in the SAME micro-batch (a tie SPLIT across
    * batches is indistinguishable from an at-least-once redelivery of
    * the carried fix and is dropped by the straggler cut — the
    * monotone-feed contract, same as [[courseOverGroundStream]]).
    * Cross-batch stragglers (t at or before the state carried INTO
    * the batch) are dropped, and the same opt-in `idleTimeout`
    * expires dead tracks' state.
    */
  def geofenceStream(stream: DataFrame, trackCol: String, tCol: String,
                     nvecCol: String,
                     aois: Seq[graft.operators.SpatialJoins.Aoi],
                     idleTimeout: Option[String] = None): Dataset[FenceEvent] = {
    val spark = stream.sparkSession
    import spark.implicits._
    val ringsDf = graft.operators.SpatialJoins.aoiRingsFrame(spark, aois.map(_.asRings))
    val timeoutConf =
      if (idleTimeout.isDefined) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    stream.select(col(trackCol).cast("long").as("track"),
        col(tCol).cast("double").as("t"), col(nvecCol).as("__n"))
      .filter(col("t").isNotNull && col("__n").isNotNull)
      .crossJoin(broadcast(ringsDf))
      .select(col("track"), col("aoi_id").as("aoi"), col("t"),
        graft.index.cells.pointInPolygonRings(col("__n"), col("__rings")).as("inz"))
      .as[FenceFix]
      .groupByKey(f => (f.track, f.aoi))
      .flatMapGroupsWithState[FenceState, FenceEvent](
        OutputMode.Append(), timeoutConf) {
        (key: (Long, String), fixes: Iterator[FenceFix],
         state: GroupState[FenceState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val sorted = fixes.toArray.sortBy(f => (f.t, f.inz))
            // the straggler cut compares against the state carried
            // INTO the batch (not the running `last`) so equal-t ties
            // WITHIN the batch both process, in (t, inside) order —
            // identical to the batch window's tie-break
            val carriedT = state.getOption.map(_.t)
            var last = state.getOption
            val out = sorted.iterator.flatMap { f =>
              if (carriedT.exists(_ >= f.t)) Iterator.empty
              else {
                val ev =
                  if (last.forall(!_.in) && f.inz)
                    Iterator(FenceEvent(key._1, f.t, key._2, "enter"))
                  else if (last.exists(_.in) && !f.inz)
                    Iterator(FenceEvent(key._1, f.t, key._2, "exit"))
                  else Iterator.empty
                last = Some(FenceState(f.t, f.inz))
                ev
              }
            }.toVector
            last.foreach(state.update)
            idleTimeout.foreach(state.setTimeoutDuration)
            out.iterator
          }
      }
  }

  /** STREAM-STREAM distance join: all (left, right) pairs within
    * `radiusMeters` great-circle distance AND `maxTimeDiff` event
    * time of each other. The batch candidate->verify pattern
    * ([[graft.operators.SpatialJoins.distanceJoin]]) carries over
    * with a smaller probe fan-out: the left stream probes the 3x3
    * ring of its cell at a level whose 1-ring provably covers the
    * radius (CellIndex.levelForRadiusSafe) instead of the batch
    * join's per-row disc cover (up to ~48 cells), because the join
    * state holds every exploded left row; the right stream keeps
    * exactly ONE cell (so no pair dedup is needed), and the equi-join
    * key plus the two-sided event-time bound is exactly the shape
    * Spark's stream-stream join needs to bound state: each side's
    * rows are dropped once the other side's watermark passes
    * `maxTimeDiff`. Output: left + right columns + `distCol`,
    * append-mode capable.
    */
  def distanceJoinStream(left: DataFrame, right: DataFrame,
                         leftNvec: String, rightNvec: String,
                         leftTs: String, rightTs: String,
                         radiusMeters: Double, watermark: String,
                         maxTimeDiff: String,
                         sphereRadius: Double = graft.geo.Ellipsoids.MeanEarthRadius,
                         distCol: String = "dist_m"): DataFrame = {
    require(radiusMeters >= 0, s"radius must be >= 0 m (got $radiusMeters)")
    // shared names would resolve ambiguously through the join and the
    // distance projection — fail fast with the remedy (self-proximity:
    // rename one side, e.g. s.toDF(s.columns.map("r_" + _): _*))
    val overlap = left.columns.toSet intersect right.columns.toSet
    require(overlap.isEmpty,
      s"left/right streams share column names ${overlap.mkString(", ")}; " +
        "rename one side before calling")
    val level = graft.index.CellIndex.levelForRadiusSafe(
      radiusMeters / sphereRadius, k = 1)
    // beyond what a 1-ring block can cover, refuse loudly instead of
    // building garbage level -1 cells
    require(level > 0,
      f"radius ${radiusMeters}%.0f m exceeds what a 1-ring block can provably " +
        "cover (~1660 km); stream-stream distance joins need the ring regime")
    val l = left.withWatermark(leftTs, watermark)
      .withColumn("__cell",
        explode(cells.ringCells(cells.cellAt(col(leftNvec), level), 1)))
    val r = right.withWatermark(rightTs, watermark)
      .withColumn("__cell_r", cells.cellAt(col(rightNvec), level))
    l.join(r, col("__cell") === col("__cell_r") &&
        col(leftTs).between(
          col(rightTs) - expr(s"INTERVAL $maxTimeDiff"),
          col(rightTs) + expr(s"INTERVAL $maxTimeDiff")))
      .withColumn(distCol, geo.gcDistance(col(leftNvec), col(rightNvec), sphereRadius))
      .filter(col(distCol) <= radiusMeters)
      .drop("__cell", "__cell_r")
  }

  /** Stream-static point-in-polygon join against a polygon TABLE —
    * the table lift of [[geofenceStream]]'s literal AOI list (which
    * admin areas does each streamed fix fall in, at scan rate). One
    * output row per (stream row, containing polygon): the stream's
    * columns + `polyIdCol`, even-odd ring semantics. STATELESS: no
    * watermark, no streaming aggregation, append-mode safe.
    *
    * Candidates come from the cover path of the batch polygon joins
    * ([[graft.operators.SpatialJoins.polygonJoin]]) at every table
    * size: the cover is ANCESTOR-FREE per polygon, so a point hits at
    * most ONE cover cell per polygon and the stream-static equi-join
    * emits each (point, polygon) candidate exactly once with NO dedup
    * state. The batch join's kernel path for small tables does not
    * apply here: it would collect the polygon table on the driver
    * when the query is defined, while the static side of a
    * stream-static join stays a plan that every micro-batch
    * re-executes. The cover is cells-only (~96 cells per
    * ring) and persisted so the per-micro-batch re-execution of the
    * static side reads the cached frame; it lives until the
    * SparkSession drops it. Null positions and an empty table /
    * all-null rings emit nothing. `polyIdCol` must be unique.
    */
  def polygonJoinStream(stream: DataFrame, pointNvec: String,
                        polys: DataFrame, polyIdCol: String,
                        ringsCol: String): DataFrame =
    graft.operators.SpatialJoins.containsCover(stream, pointNvec,
      polys, polyIdCol, ringsCol, persistCover = true)

  final case class AsOfEvt(k: Long, ts: java.sql.Timestamp, id: Long,
                           v: Double, isL: Boolean)
  final case class AsOfBuf(rights: Vector[(Long, Double)],
                           pendingLefts: Vector[(Long, Long)])
  final case class AsOfMatch(id: Long, k: Long, tsMs: Long,
                             rTsMs: Option[Long], rV: Option[Double])

  /** STREAM-STREAM as-of join, the streaming form of
    * [[graft.operators.AsOfJoin]]: each left row (keyCol, leftTs,
    * idCol) is matched to the right row (keyCol, rightTs, valueCol)
    * nearest at-or-before it (`backward`, optional tolerance) or
    * nearest at-or-after it (`forward`, tolerance REQUIRED — without
    * a bound the first later right can arrive arbitrarily far in the
    * future and nothing could ever be emitted).
    *
    * Event-time-correct under out-of-order arrival: left rows are
    * buffered until the union watermark passes their match horizon
    * (their own time for backward, time + tolerance for forward), at
    * which point every right row that could win has provably arrived;
    * only then is the match emitted. State per key is bounded by the
    * watermark delay (+ tolerance): rights older than the horizon are
    * evicted down to a single floor row (the newest right at-or-below
    * it, which future backward lefts may still need), and emitted
    * lefts leave the buffer. A quiet key keeps just its floor row —
    * one row per key ever seen, the same residency class as any
    * keyed streaming state. Ties at equal right time resolve to the
    * max value — the same rule as the batch operator's struct-max.
    * Data later than the watermark is handled best-effort (emitted
    * immediately against the rights on hand) rather than dropped.
    *
    * Emits `AsOfMatch(id, k, tsMs, rTsMs, rV)` in append mode; times
    * are epoch millis of the timestamp columns.
    */
  def asOfJoinStream(left: DataFrame, right: DataFrame, keyCol: String,
                     leftTs: String, idCol: String,
                     rightTs: String, valueCol: String,
                     watermark: String,
                     direction: String = "backward",
                     toleranceMs: Option[Long] = None): Dataset[AsOfMatch] = {
    require(direction == "backward" || direction == "forward",
      s"direction must be backward|forward (got $direction)")
    require(direction != "forward" || toleranceMs.isDefined,
      "forward as-of needs a tolerance to bound the emit horizon")
    require(toleranceMs.forall(_ >= 0), "tolerance must be >= 0 ms")
    val spark = left.sparkSession
    import spark.implicits._
    val fwd = direction == "forward"
    val tol = toleranceMs.getOrElse(0L)
    // null event times cannot participate in watermark accounting:
    // rights with a null time never match (same as the batch
    // operator); lefts with a null time are dropped here — the batch
    // form's "null match" output has no well-defined emit point in a
    // watermark-driven stream (documented divergence; without the
    // filter one dirty record would NPE the executor and kill the
    // whole streaming query)
    val l = left.filter(col(leftTs).isNotNull)
      .select(col(keyCol).cast("long").as("k"),
        col(leftTs).as("ts"), col(idCol).cast("long").as("id"),
        lit(0.0).as("v"), lit(true).as("isL"))
      .withWatermark("ts", watermark)
    val r = right.filter(col(rightTs).isNotNull)
      .select(col(keyCol).cast("long").as("k"),
        col(rightTs).as("ts"), lit(0L).as("id"),
        col(valueCol).cast("double").as("v"), lit(false).as("isL"))
      .withWatermark("ts", watermark)
    // first index with right-time strictly greater than t
    def upper(rights: Vector[(Long, Double)], t: Long): Int = {
      var lo = 0; var hi = rights.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (rights(mid)._1 <= t) lo = mid + 1 else hi = mid
      }
      lo
    }
    l.unionByName(r).as[AsOfEvt]
      .groupByKey(_.k)
      // EventTimeTimeout: a key with pending lefts must flush when the
      // WATERMARK passes their horizon even if no further data ever
      // arrives for that key — without a timeout the group function
      // only runs on keys present in the batch and tail lefts would
      // hang unmatched forever
      .flatMapGroupsWithState[AsOfBuf, AsOfMatch](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (k: Long, it: Iterator[AsOfEvt], state: GroupState[AsOfBuf]) =>
          val wm = state.getCurrentWatermarkMs()
          val st = state.getOption.getOrElse(AsOfBuf(Vector.empty, Vector.empty))
          val evts = it.toArray
          val rights = (st.rights ++ evts.iterator.filterNot(_.isL)
            .map(e => (e.ts.getTime, e.v))).sorted
          val lefts = st.pendingLefts ++ evts.iterator.filter(_.isL)
            .map(e => (e.ts.getTime, e.id))
          // a left is emittable once no future right can change its
          // match: its horizon is at-or-below the watermark. AT-or-
          // below is sound because Spark's flatMapGroupsWithState
          // late filter admits only rows with event time STRICTLY
          // above the watermark (a row at ts == wm is dropped as late
          // — pinned by the watermark-boundary spec), so once
          // tl <= wm no right with rt <= tl can ever arrive. Late
          // lefts (already <= wm on arrival) emit right away too.
          val horizon = if (fwd) wm - tol else wm
          val (emit, pend) = lefts.partition(_._1 <= horizon)
          val out = emit.sorted.map { case (tl, id) =>
            val m =
              if (fwd) {
                val i = upper(rights, tl - 1) // first right with rt >= tl
                // among equal rt the LAST (max v) should win, like
                // the batch struct-max rule
                if (i == rights.length || rights(i)._1 > tl + tol) None
                else Some(rights(upper(rights, rights(i)._1) - 1))
              } else {
                val i = upper(rights, tl)
                if (i == 0) None
                else Some(rights(i - 1))
                  .filter(rr => toleranceMs.forall(t0 => tl - rr._1 <= t0))
              }
            AsOfMatch(id, k, tl, m.map(_._1), m.map(_._2))
          }
          // evict rights below the horizon down to one floor row
          val f = upper(rights, horizon)
          val kept = if (f == 0) rights else rights.drop(f - 1)
          if (kept.isEmpty && pend.isEmpty) state.remove()
          else {
            state.update(AsOfBuf(kept, pend))
            if (pend.nonEmpty) {
              // fire again once the watermark passes the earliest
              // pending left's horizon (> wm by the partition above)
              val wake = pend.iterator.map(_._1).min + (if (fwd) tol else 0L)
              state.setTimeoutTimestamp(wake)
            }
          }
          out.iterator
      }
  }

  final case class SessEvt(key: Long, ts: java.sql.Timestamp)
  final case class SessBuf(pendingMs: Vector[Long], nextIdx: Long)
  final case class SessionRow(key: Long, session_idx: Long, n_events: Long,
                              start_ms: Long, end_ms: Long, duration_ms: Long)

  /** STREAMING gap-close sessionization — the streaming companion of
    * [[graft.operators.Sessions.sessionStats]]: one appended row per
    * CLOSED session (key, 1-based dense session_idx, event count,
    * start/end epoch millis, duration), where a session closes once
    * the watermark passes its last event + `maxGapMs` (no
    * still-admissible event can extend it: rows below the watermark
    * are dropped by the stateful operator, and any event at or above
    * it starts a new session by the gap rule — the same boundary
    * predicate as the batch window's `gap > maxGapMs`).
    *
    * Out-of-order events WITHIN the watermark are buffered per key
    * and sorted at close, so replaying the same rows through batch
    * [[graft.operators.Sessions.sessionStats]] yields the identical
    * (key, session_idx) -> stats map for every closed session
    * (spec-pinned). EventTimeTimeout wakes idle keys exactly at
    * first-unclosed-end + gap so a key whose stream simply stops
    * still flushes; a key with nothing
    * pending keeps only its two-word session counter (dropping it
    * would renumber later sessions from 1), so state is bounded by
    * the key universe plus in-flight (unclosed) events — never by
    * event history.
    */
  def sessionizeStream(stream: DataFrame, keyCol: String, tsCol: String,
                       maxGapMs: Long, watermark: String): Dataset[SessionRow] = {
    require(maxGapMs >= 0, s"maxGapMs must be >= 0 (got $maxGapMs)")
    // the state key is a Long: a non-integral key column (e.g. string
    // device ids) would cast to null row by row and the null filter
    // below would silently drop EVERY event — fail loudly instead
    // (hash string ids to long upstream, or dictionary-encode them)
    stream.schema(keyCol).dataType match {
      case ByteType | ShortType | IntegerType | LongType => ()
      case other => throw new IllegalArgumentException(
        s"sessionizeStream needs an integral key column; '$keyCol' is " +
          s"$other — unlike batch sessionize (generic grouping), the " +
          "stream state key is Long. Hash or encode the key upstream.")
    }
    val spark = stream.sparkSession
    import spark.implicits._
    stream
      .select(col(keyCol).cast("long").as("key"),
        col(tsCol).cast("timestamp").as("ts"))
      .withWatermark("ts", watermark) // after the cast: a projection
      // over the watermarked column would drop the event-time tag
      .filter(col("key").isNotNull && col("ts").isNotNull)
      .as[SessEvt]
      .groupByKey(_.key)
      .flatMapGroupsWithState[SessBuf, SessionRow](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (key: Long, evts: Iterator[SessEvt], state: GroupState[SessBuf]) =>
          val prior = state.getOption.getOrElse(SessBuf(Vector.empty, 1L))
          val merged = (prior.pendingMs ++ evts.map(_.ts.getTime)).sorted
          val wm = state.getCurrentWatermarkMs()
          // split the sorted buffer into gap sessions; emit every
          // session whose end + gap < watermark, carry the rest
          val out = Vector.newBuilder[SessionRow]
          var nextIdx = prior.nextIdx
          var i = 0
          var keepFrom = -1 // first index that stays buffered
          while (i < merged.length && keepFrom < 0) {
            var j = i
            while (j + 1 < merged.length && merged(j + 1) - merged(j) <= maxGapMs)
              j += 1
            if (merged(j) + maxGapMs < wm) {
              out += SessionRow(key, nextIdx, j - i + 1,
                merged(i), merged(j), merged(j) - merged(i))
              nextIdx += 1
              i = j + 1
            } else keepFrom = i
          }
          val pending = if (keepFrom < 0) Vector.empty[Long]
            else merged.drop(keepFrom)
          // the state ALWAYS keeps the session counter — dropping it
          // when the buffer drains would renumber the key's next
          // session from 1 and break batch agreement; the residual
          // per-key state is two machine words, bounded by the KEY
          // universe, while the event buffer stays bounded by
          // in-flight (unclosed) events
          state.update(SessBuf(pending, nextIdx))
          if (pending.nonEmpty) {
            // wake when the FIRST unclosed session becomes closable;
            // its end + gap >= wm (else it closed above), so the
            // timeout is legal (> current watermark)
            var e = pending.head
            var k2 = 1
            while (k2 < pending.length && pending(k2) - e <= maxGapMs) {
              e = pending(k2); k2 += 1
            }
            state.setTimeoutTimestamp(e + maxGapMs + 1L)
          }
          out.result().iterator
      }
  }

  /** Ingest a deduplicated image stream into the snapshot store:
    * each micro-batch commits a named snapshot (per-file row counts +
    * lineage recorded), so the table history is the stream's commit
    * log and a crashed job resumes from its streaming checkpoint +
    * last committed snapshot. IDEMPOTENT under micro-batch replay:
    * foreachBatch can re-deliver a batch whose commit already
    * succeeded (crash between the data commit and Spark's own offset
    * commit), so a batch whose batchId-keyed snapshot name already
    * exists is skipped — without that check a replay would create a
    * duplicate version and double-count the batch in lineage sums.
    *
    * `trigger` defaults to AvailableNow (drain-and-stop — the batch
    * backfill/test shape); pass `Trigger.ProcessingTime(...)` for a
    * continuously running ingest.
    */
  def ingestToSnapshots(stream: DataFrame, idCol: String, tsCol: String,
                        watermark: String, store: SnapshotStore,
                        name: String, checkpointDir: String,
                        trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    dedupeByIdStream(stream, idCol, tsCol, watermark)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val snapName = f"$name%s_batch_$batchId%05d"
        if (!batch.isEmpty && store.versionOf(snapName).isEmpty) {
          store.commit(snapName, batch)
          ()
        }
      }
      .trigger(trigger)
      .start()
}
