package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.{JobCount, SparkTestSession, TempDirs}

class SourcesSpec extends AnyFunSuite with TempDirs {
  lazy val spark = SparkTestSession.spark

  test("jpeg fast-raster decode equals the per-pixel getRGB reference") {
    // ordinals 7 mod 8 are JPG rows; compare ImageTable.decode (bulk
    // BGR raster copy + identity memo) against an inline per-pixel
    // getRGB decode of the same payload
    for (ord <- Seq(7L, 15L, 1023L, 4095L)) {
      val r = ImageTable.rowOf(ord)
      assert(r.fmt == "JPG")
      val got = ImageTable.decode(r.bytes, r.w, r.h, r.fmt)
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(r.bytes))
      val want = new Array[Byte](r.w * r.h * 3)
      for (y <- 0 until r.h; x <- 0 until r.w) {
        val rgb = img.getRGB(x, y)
        val p = (y * r.w + x) * 3
        want(p) = ((rgb >> 16) & 0xff).toByte
        want(p + 1) = ((rgb >> 8) & 0xff).toByte
        want(p + 2) = (rgb & 0xff).toByte
      }
      assert(java.util.Arrays.equals(got, want), s"decode mismatch at ordinal $ord")
      // the identity memo must return the same pixels again
      assert(java.util.Arrays.equals(ImageTable.decode(r.bytes, r.w, r.h, r.fmt), want))
    }
  }

  test("image table is deterministic and verifiable per-row") {
    val df = ImageTable.generate(spark, 200, 4).cache()
    assert(df.count() == 200)
    // schema matches input_hint
    assert(df.schema.fieldNames.toSeq ==
      Seq("image_id", "bytes", "w", "h", "fmt", "caption", "phash"))
    // regeneration is bit-identical (determinism across runs/executors)
    val again = ImageTable.generate(spark, 200, 7) // different partitioning
    val a = df.select("image_id", "phash", "caption").collect().map(_.toSeq).toSet
    val b = again.select("image_id", "phash", "caption").collect().map(_.toSeq).toSet
    assert(a == b)
    // per-row invariants: decoded PSNR >= 40 dB, phash matches payload
    val rows = df.collect()
    var sawJpg = false
    rows.foreach { r =>
      val ord = r.getString(0).drop(4).toLong
      val bytes = r.getAs[Array[Byte]]("bytes")
      val (w, h, fmt) = (r.getInt(2), r.getInt(3), r.getString(4))
      val p = ImageTable.referencePsnr(ord, bytes, w, h, fmt)
      assert(p >= 40.0, s"psnr $p for $ord fmt=$fmt")
      if (fmt == "JPG") { sawJpg = true; assert(p < 99.0) }
      assert(ImageTable.payloadPhash(bytes, w, h, fmt) == r.getLong(6))
      assert(ImageTable.referenceCaption(ord) == r.getString(5))
    }
    assert(sawJpg)
    df.unpersist()
  }

  test("snapshot store commit/read/diff/resume") {
    val root = tempDir("snap")
    val store = new SnapshotStore(spark, root)
    assert(store.currentVersion.isEmpty)
    val v1 = store.commit("images", ImageTable.generate(spark, 50, 2))
    assert(v1 == 1 && store.currentVersion.contains(1))
    assert(store.read("images").count() == 50)
    // lineage recorded
    val json = java.nio.file.Files.readString(
      java.nio.file.Paths.get(root, "_snapshots", "v1.json"))
    assert(json.contains("\"rowCount\": 50"))
    assert(json.contains("\"files\""))
    // second snapshot of same name supersedes
    val v2 = store.commit("images", ImageTable.generate(spark, 80, 2))
    assert(store.read("images").count() == 80)
    val (added, removed) = store.diff(v1, v2)
    assert(added.nonEmpty && removed.nonEmpty)
    // getOrCompute resumes without recomputation
    var computed = false
    val df = store.getOrCompute("images") { computed = true; ImageTable.generate(spark, 9, 1) }
    assert(!computed && df.count() == 80)
    // new name computes and commits
    val df2 = store.getOrCompute("derived") {
      store.read("images").select("image_id", "phash")
    }
    assert(df2.count() == 80 && store.versionOf("derived").contains(3))
    // a fresh store instance over the same root resumes identically
    val store2 = new SnapshotStore(spark, root)
    assert(store2.versionOf("derived").contains(3))
    assert(store2.read("derived").count() == 80)
    // time travel: version 1 still reads the superseded 50-row table
    assert(store2.readAt("images", 1).count() == 50)
    assert(store2.readAt("images", 2).count() == 80)
    intercept[IllegalArgumentException] { store2.readAt("derived", 2) }
  }

  test("zone-map stats prune files on ranged reads, results stay exact") {
    val root = tempDir("zonemap")
    val store = new SnapshotStore(spark, root)
    // 4 range-partitioned files over a monotone cell column: each
    // file's footer min/max covers a disjoint quarter of [0, 400)
    val df = spark.range(0, 400).toDF("cell")
      .withColumn("payload", col("cell") * 7)
      .repartitionByRange(4, col("cell"))
    val v = store.commit("cells", df, Some("cell"))
    val json = java.nio.file.Files.readString(
      java.nio.file.Paths.get(root, "_snapshots", s"v$v.json"))
    assert(json.contains("\"statsCol\": \"cell\""))
    assert(json.contains("\"min\": "))
    // manifest back-compat: fileMetrics still parses stats-bearing rows
    assert(store.fileMetrics(v).map(_._2).sum == 400)
    // a one-quarter range touches a strict subset of the files...
    val all = store.prunedFiles(v, Long.MinValue, Long.MaxValue)
    val some = store.prunedFiles(v, 120, 180)
    assert(all.size == 4 && some.nonEmpty && some.size < all.size)
    // ...and the pruned read equals the full-scan filter exactly
    val pruned = store.readPruned("cells", 120, 180)
    def norm(p: String) = p.replaceFirst("^file:/+", "/")
    assert(pruned.inputFiles.map(norm).toSet == some.map(norm).toSet)
    val expect = store.read("cells")
      .filter(col("cell").between(120, 180))
      .collect().map(_.toSeq).toSet
    assert(pruned.collect().map(_.toSeq).toSet == expect)
    // empty range: no files, empty result, schema preserved
    val none = store.readPruned("cells", 1000, 2000)
    assert(none.count() == 0 && none.columns.toSeq == Seq("cell", "payload"))
    // snapshots without a statsCol refuse ranged reads loudly
    store.commit("plain", df)
    intercept[IllegalArgumentException] { store.readPruned("plain", 0, 1) }
  }

  test("concurrent-writer version collision is detected, not clobbered") {
    // two store instances on one root, writing different names: each
    // commit creates the next absent v<N>.json, so none replaces
    // another's manifest (a lost race throws; SnapshotStoreSpec)
    val root = tempDir("conflict")
    val store = new SnapshotStore(spark, root)
    val other = new SnapshotStore(spark, root)
    assert(store.commit("a", spark.range(3).toDF("x")) == 1)
    assert(other.commit("b", spark.range(4).toDF("x")) == 2)
    assert(store.commit("c", spark.range(5).toDF("x")) == 3)
    assert(store.snapshots == Seq((1, "a", 3L), (2, "b", 4L), (3, "c", 5L)))
    assert(other.snapshots == store.snapshots)
    assert(other.read("c").count() == 5 && store.read("b").count() == 4)
    // a manifest names no writer instance
    val m3 = java.nio.file.Files.readString(
      java.nio.file.Paths.get(root, "_snapshots", "v3.json"))
    assert(!m3.contains("\"writerId\""))
  }

  test("manifest format drift fails loudly, never a partial file list") {
    val root = tempDir("drift")
    val store = new SnapshotStore(spark, root)
    val v = store.commit("t", spark.range(10).toDF("x"), Some("x"))
    val files = store.fileMetrics(v)
    assert(files.nonEmpty)
    val mPath = java.nio.file.Paths.get(root, "_snapshots", s"v$v.json")
    val good = java.nio.file.Files.readString(mPath)
    // extra spacing after a key is still valid JSON: the same files
    java.nio.file.Files.writeString(mPath, good.replaceFirst("\"path\": ", "\"path\":  "))
    assert(store.fileMetrics(v) == files)
    assert(store.prunedFiles(v, 0L, 9L).toSet == files.map(_._3).toSet)
    // real corruptions: the metrics and both pruning paths must throw
    // (silently dropping a file would make readPrunedIn return
    // partial data)
    val corrupt = Seq(
      "truncated" -> good.take(good.indexOf("\"files\"") + 30),
      "entry without rows" -> good.replaceFirst(",\\s*\"rows\":\\s*\\d+", ""),
      "non-integer rows" -> good.replaceFirst("(\"rows\":\\s*)\\d+", "$1\"ten\""))
    for ((what, text) <- corrupt) {
      assert(text != good, what)
      java.nio.file.Files.writeString(mPath, text)
      val e = intercept[IllegalStateException](store.fileMetrics(v))
      assert(e.getMessage.contains(mPath.toString), s"$what: ${e.getMessage}")
      intercept[IllegalStateException](store.prunedFiles(v, 0L, 5L))
      intercept[IllegalStateException](store.readPrunedIn("t", Seq(1L)))
    }
  }

  test("copy-on-write merge updates matched keys, inserts new, keeps history") {
    import spark.implicits._
    val root = tempDir("merge")
    val store = new SnapshotStore(spark, root)
    val v1 = store.commit("t",
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "val"))
    val v2 = store.merge("t",
      Seq((2L, "B2"), (4L, "d")).toDF("k", "val"), keyCols = Seq("k"))
    assert(v2 > v1)
    val now = store.read("t").collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(now == Map(1L -> "a", 2L -> "B2", 3L -> "c", 4L -> "d"))
    // pre-merge state still time-travels
    val before = store.readAt("t", v1).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(before == Map(1L -> "a", 2L -> "b", 3L -> "c"))
    // several source rows per key refuse loudly (order-dependent result)
    intercept[IllegalArgumentException] {
      store.merge("t", Seq((7L, "a"), (7L, "b")).toDF("k", "val"), Seq("k"))
    }

    // ---- schema evolution (add-column) -----------------------------
    // updates may ADD columns: pre-existing rows read typed nulls in
    // the evolved current version
    val v3 = store.merge("t",
      Seq((2L, "B3", Some(42)), (5L, "e", None: Option[Int]))
        .toDF("k", "val", "extra"), keyCols = Seq("k"))
    val evolved = store.read("t").collect()
      .map(r => r.getLong(0) ->
        ((r.getString(1), if (r.isNullAt(2)) None else Some(r.getInt(2))))).toMap
    assert(evolved == Map(
      1L -> (("a", None)), 2L -> (("B3", Some(42))), 3L -> (("c", None)),
      4L -> (("d", None)), 5L -> (("e", None))))
    // time travel ACROSS the schema change: old versions keep the old
    // 2-column schema, both pre- and post-evolution reads coexist
    assert(store.readAt("t", v1).columns.toSeq == Seq("k", "val"))
    assert(store.readAt("t", v2).columns.toSeq == Seq("k", "val"))
    assert(store.readAt("t", v3).columns.length == 3)
    val v2rows = store.readAt("t", v2).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(v2rows == Map(1L -> "a", 2L -> "B2", 3L -> "c", 4L -> "d"))
    // a further merge on the EVOLVED schema carries the column forward
    store.merge("t", Seq((1L, "A4", Some(7))).toDF("k", "val", "extra"), Seq("k"))
    val after = store.read("t").collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(2)) None else Some(r.getInt(2)))).toMap
    assert(after(1L) == Some(7) && after(2L) == Some(42) && after(3L).isEmpty)
    // omitting an existing column is NOT evolution (silent data loss)
    intercept[IllegalArgumentException] {
      store.merge("t", Seq((9L, "x")).toDF("k", "val"), Seq("k"))
    }
    // neither is changing a column's type in place
    intercept[IllegalArgumentException] {
      store.merge("t", Seq((9L, "x", "not-an-int")).toDF("k", "val", "extra"), Seq("k"))
    }
  }

  test("set-membership pruning reads only files whose range holds a cover cell") {
    val root = tempDir("zonemap_in")
    val store = new SnapshotStore(spark, root)
    val df = spark.range(0, 400).toDF("cell")
      .withColumn("payload", col("cell") * 3)
      .repartitionByRange(4, col("cell"))
    val v = store.commit("cells", df, Some("cell"))
    // a scattered cover set living entirely in the first + last quarter
    val cover = Seq(5L, 17L, 42L, 361L, 399L)
    val pruned = store.readPrunedIn("cells", cover)
    assert(pruned.inputFiles.length < store.fileMetrics(v).size)
    val expect = store.read("cells").filter(col("cell").isin(cover: _*))
      .collect().map(_.toSeq).toSet
    assert(pruned.collect().map(_.toSeq).toSet == expect && expect.size == cover.size)
    // values all outside any file range: zero files, schema kept
    val none = store.readPrunedIn("cells", Seq(5000L))
    assert(none.count() == 0 && none.columns.toSeq == Seq("cell", "payload"))
  }

  test("AOI stage over a pruned snapshot equals the full-scan AOI join") {
    // the PipelineMain stage-4 pattern: tiled table committed
    // range-clustered by coarse tile with zone-map stats, AOI join
    // fed by readPrunedIn over the AOIs' coarse disc covers — must
    // read fewer files AND return exactly the full-scan result
    import graft.functions.geo
    import graft.index.{cells, CellIndex}
    import graft.operators.SpatialJoins
    import graft.operators.SpatialJoins.Aoi
    val root = tempDir("aoi_pruned")
    val store = new SnapshotStore(spark, root)
    val coarseLevel = 4
    val pts = spark.range(0, 20000).toDF("id")
      .withColumn("lat", graft.SparkEntry.latRad(col("id")))
      .withColumn("lon", graft.SparkEntry.lonRad(col("id")))
      .withColumn("n", geo.nvec(col("lat"), col("lon")))
      .withColumn("tile", cells.cellAt(col("n"), 8))
      .withColumn("tile_coarse", cells.cellAt(col("n"), coarseLevel))
      .select("id", "n", "tile", "tile_coarse")
      .repartitionByRange(16, col("tile_coarse"), col("tile"))
    val v = store.commit("tiled", pts, Some("tile_coarse"))
    val aois = Seq(
      Aoi("box", Seq((-12.0, -12.0), (-12.0, 12.0), (12.0, 12.0), (12.0, -12.0))),
      Aoi("north", (0 until 8).map(i => (62.0, -180.0 + 45.0 * i))))
    val cover = aois.flatMap(a => CellIndex.capCells(
      a.centroid.x, a.centroid.y, a.centroid.z, coarseLevel, a.circumAngle)).distinct
    val pruned = store.readPrunedIn("tiled", cover)
    assert(pruned.inputFiles.length < store.fileMetrics(v).size,
      s"expected pruning: ${pruned.inputFiles.length} of ${store.fileMetrics(v).size} files")
    val got = SpatialJoins.aoiJoin(pruned, "n", aois)
      .select("id", "aoi_id").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val full = SpatialJoins.aoiJoin(store.read("tiled"), "n", aois)
      .select("id", "aoi_id").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(full.nonEmpty && got == full,
      s"missing=${(full -- got).take(5)} extra=${(got -- full).take(5)}")
  }

  test("expire-snapshots drops old versions and their files, keeps the rest") {
    val root = tempDir("expire")
    val store = new SnapshotStore(spark, root)
    val v1 = store.commit("t", spark.range(10).toDF("x"))         // will expire
    val v2 = store.commit("t", spark.range(20).toDF("x"))         // retained
    val v3 = store.commit("other", spark.range(5).toDF("y"))      // only version
    val v4 = store.commit("t", spark.range(30).toDF("x"))         // retained (latest)
    val expired = store.expireSnapshots(keepLast = 2)
    assert(expired == Seq(v1))
    // expired version: manifest and data directory both gone
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(root, "_snapshots", s"v$v1.json")))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(store.dataPath(v1, "t"))))
    // retained versions still read, time travel works across them
    assert(store.read("t").count() == 30)
    assert(store.readAt("t", v2).count() == 20)
    assert(store.read("other").count() == 5)
    assert(store.currentVersion.contains(v4))
    // a read that would resolve to the expired version fails loudly
    intercept[IllegalArgumentException] { store.readAt("t", v1) }
    // the sole version of a name is never expired, whatever keepLast
    store.expireSnapshots(keepLast = 1)
    assert(store.read("other").count() == 5)
    assert(store.versionOf("t").contains(v4))
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(root, "_snapshots", s"v$v3.json")))
  }

  test("compaction rewrites small files, keeps data and history") {
    val root = tempDir("compact")
    val store = new SnapshotStore(spark, root)
    // ingest fragmented into 32 small files
    val src = ImageTable.generate(spark, 200, 4).repartition(32)
    val v1 = store.commit("images", src)
    assert(store.fileMetrics(v1).length == 32)
    val rowsBefore = store.read("images")
      .select("image_id").collect().map(_.getString(0)).sorted.toSeq
    // large target => everything folds into one right-sized file
    val v2 = store.compact("images", targetBytes = 1L << 30)
    assert(v2 == v1 + 1)
    val filesAfter = store.fileMetrics(v2)
    assert(filesAfter.length == 1, s"expected 1 compacted file, got ${filesAfter.length}")
    val rowsAfter = store.read("images")
      .select("image_id").collect().map(_.getString(0)).sorted.toSeq
    assert(rowsAfter == rowsBefore)
    // history: the fragmented snapshot stays readable via time travel
    assert(store.readAt("images", v1).inputFiles.length == 32)
    intercept[IllegalArgumentException] { store.compact("nope") }
  }

  test("compaction preserves zone-map stats and range-clustered pruning") {
    val root = tempDir("compact_zm")
    val store = new SnapshotStore(spark, root)
    val df = spark.range(0, 4000).toDF("cell")
      .withColumn("payload", col("cell") * 11)
      .repartitionByRange(16, col("cell"))
    store.commit("cells", df, Some("cell"))
    // tiny target => compaction re-splits into several files; the
    // rewrite must RANGE-partition on the stats column and re-record
    // per-file min/max, or pruning would die after routine compaction
    val v2 = store.compact("cells", targetBytes = 8L << 10)
    assert(store.fileMetrics(v2).length > 1)
    val all = store.prunedFiles(v2, Long.MinValue, Long.MaxValue)
    val some = store.prunedFiles(v2, 100, 300)
    assert(some.nonEmpty && some.size < all.size,
      s"post-compaction pruning inert: ${some.size} of ${all.size} files")
    val got = store.readPruned("cells", 100, 300).collect().map(_.toSeq).toSet
    val expect = store.read("cells").filter(col("cell").between(100, 300))
      .collect().map(_.toSeq).toSet
    assert(got == expect && expect.nonEmpty)
  }

  test("lineage partition metrics and commitWithMetrics") {
    val df = ImageTable.generate(spark, 100, 5)
    val m = Lineage.partitionMetrics(df).collect()
    assert(m.map(_.getAs[Long]("rows")).sum == 100)
    assert(m.length == 5)
    val root = tempDir("lineage")
    val store = new SnapshotStore(spark, root)
    Lineage.commitWithMetrics(store, "imgs", df)
    assert(store.read("imgs").count() == 100)
    val metrics = store.read("imgs__metrics")
    assert(metrics.columns.toSeq == Seq("partition_id", "rows", "file"))
    assert(metrics.agg(org.apache.spark.sql.functions.sum("rows"))
      .collect()(0).getLong(0) == 100)
    // one metrics row per write partition, indices from the committer
    assert(metrics.count() == 5)
    assert(metrics.select("partition_id").collect().map(_.getInt(0)).sorted
      .sameElements(0 until 5))
  }

  test("readAt serves each version's file metrics of a committed base") {
    val store = new SnapshotStore(spark, tempDir("metrics_at"))
    val v1 = store.commit("imgs", ImageTable.generate(spark, 60, 3))
    store.commit("other", ImageTable.generate(spark, 10, 1))
    val v3 = store.commit("imgs", ImageTable.generate(spark, 90, 4))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getInt(0), r.getLong(1), r.getString(2))).toSeq
    for ((asOf, v) <- Seq(v1 -> v1, v1 + 1 -> v1, v3 -> v3)) {
      val m = store.readAt("imgs__metrics", asOf)
      assert(m.schema == new org.apache.spark.sql.types.StructType().add("partition_id", "int")
        .add("rows", "long").add("file", "string"))
      assert(rows(m) == store.fileMetrics(v), s"metrics as of $asOf")
    }
    assert(rows(store.read("imgs__metrics")) == store.fileMetrics(v3))
    val e = intercept[IllegalArgumentException](store.readAt("imgs__metrics", 0))
    assert(e.getMessage.contains("no snapshot named 'imgs__metrics' at or before version 0"))
  }

  test("statsRange is the zone map's min and max, read from the manifest without a job") {
    val store = new SnapshotStore(spark, tempDir("statsrange"))
    val df = spark.range(0, 500, 1, 4).select(col("id"), (col("id") * 7 - 1000).as("cell"))
      .repartitionByRange(4, col("cell"))
    store.commit("zoned", df, Some("cell"))
    store.commit("plain", df)
    val (ranges, jobs) = JobCount(spark) {
      Seq("zoned", "plain", "absent").map(store.statsRange)
    }
    assert(jobs == 0, s"three statsRange calls ran $jobs jobs")
    val mm = df.agg(min("cell"), max("cell")).collect()(0)
    assert(ranges == Seq(Some((mm.getLong(0), mm.getLong(1))), None, None))
    assert(store.fileMetrics(1).length > 1, "the range must span several files")
  }

  test("commit runs exactly one job and the manifest matches the data") {
    val df = ImageTable.generate(spark, 120, 6)
    val root = tempDir("onejob")
    val store = new SnapshotStore(spark, root)
    val (_, commitJobs) = JobCount(spark)(store.commit("imgs", df))
    assert(commitJobs == 1, s"commit must scan the data exactly once, ran $commitJobs jobs")
    // reads are typed by the manifest: planning one runs no job, and
    // the manifest schema is the one Spark would infer from the files
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val meta = new MetadataBuilder().putString("comment", "row key").putLong("since", 3L).build()
    val schema = new StructType()
      .add(StructField("id", LongType, nullable = false, meta))
      .add("pos", new StructType().add("lat", DoubleType, nullable = false).add("lon", DoubleType))
      .add("tags", ArrayType(StringType, containsNull = false))
      .add("attrs", MapType(StringType, IntegerType))
      .add("price", DecimalType(12, 3))
      .add("blob", BinaryType)
      .add("ts", TimestampType)
    val typed = spark.createDataFrame(java.util.Arrays.asList(
      Row(1L, Row(1.5, -2.0), Seq("a", "b"), Map("k" -> 1), new java.math.BigDecimal("12.345"),
        Array[Byte](1, 2), java.sql.Timestamp.valueOf("2020-01-02 03:04:05")),
      Row(2L, null, Seq.empty[String], Map.empty[String, Int], null, null, null)), schema)
    val vTyped = store.commit("typed", typed)
    val (reads, readJobs) = JobCount(spark) {
      Seq(store.read("imgs"), store.readAt("imgs", 1), store.read("typed"),
        store.getOrCompute("imgs")(sys.error("a committed snapshot must not be recomputed")))
    }
    assert(readJobs == 0, s"planning four reads ran $readJobs jobs")
    assert(reads(0).schema == spark.read.parquet(store.dataPath(1, "imgs")).schema)
    assert(reads(2).schema == spark.read.parquet(store.dataPath(vTyped, "typed")).schema)
    assert(reads(2).schema("id").metadata == meta)
    assert(reads(2).orderBy("id").collect().toSeq == typed.orderBy("id").collect().toSeq)
    // manifest content equals a fresh count over the committed files
    val json = java.nio.file.Files.readString(
      java.nio.file.Paths.get(root, "_snapshots", "v1.json"))
    assert(json.contains("\"rowCount\": 120"))
    val fm = store.fileMetrics(1)
    assert(fm.map(_._2).sum == 120)
    assert(fm.map(_._1).sorted.sameElements(0 until fm.length), "committer partition ids")
    // per-file rows in the manifest match an actual read-back count
    val readBack = spark.read.parquet(store.dataPath(1, "imgs"))
      .groupBy(input_file_name().as("f")).count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    fm.foreach { case (_, rows, file) =>
      val key = readBack.keys.find(_.endsWith(new java.io.File(file).getName)).get
      assert(readBack(key) == rows, s"manifest rows mismatch for $file")
    }
  }

  test("bucketed cell tables join without a shuffle") {
    import org.apache.spark.sql.functions._
    import graft.functions.geo
    import graft.index.cells
    val warehouse = tempDir("buckets")
    spark.sql(s"CREATE DATABASE IF NOT EXISTS buckets_db LOCATION '$warehouse'")
    spark.sql("USE buckets_db")
    try {
      def pts(n: Int, name: String) = ImageTable.generate(spark, n, 4)
        .withColumn("ord", substring(col("image_id"), 5, 12).cast("long"))
        .withColumn("lat", asin(((col("ord") * 2654435761L) % 180001L) / 90000.5 - 1.0))
        .withColumn("lon", (((col("ord") * 40503L) % 360001L) / 180000.5 - 1.0) * math.Pi)
        .withColumn("cell", cells.cellAt(geo.nvec(col("lat"), col("lon")), 3))
        .select(col("image_id").as(s"${name}_id"), col("cell"))
      CellBuckets.writeBucketed(pts(300, "a"), "bucket_a", "cell", 8)
      CellBuckets.writeBucketed(pts(200, "b"), "bucket_b", "cell", 8)
      // force the sort-merge path so bucket co-location (not a
      // broadcast) is what avoids the shuffle
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined =
        try CellBuckets.bucketedJoin(spark, "bucket_a", "bucket_b", "cell")
        finally {}
      assert(CellBuckets.isShuffleFree(joined),
        s"plan has a shuffle:\n${joined.queryExecution.executedPlan}")
      // the detector itself must flag genuinely shuffling plans
      // (ShuffleExchangeExec prints as plain "Exchange ...", which a
      // substring check once missed)
      assert(!CellBuckets.isShuffleFree(pts(50, "x").repartition(7)))
      assert(!CellBuckets.isShuffleFree(
        pts(50, "x").groupBy("cell").count()))
      val planStr = joined.queryExecution.executedPlan.toString
      assert(planStr.contains("SortMergeJoin"), s"expected SMJ:\n$planStr")
      assert(joined.count() > 0)
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      // same result as a plain (shuffling) join
      val plain = pts(300, "a").join(pts(200, "b"), "cell")
      assert(joined.count() == plain.count())
    } finally {
      spark.sql("DROP DATABASE IF EXISTS buckets_db CASCADE")
      spark.sql("USE default")
    }
  }
}
