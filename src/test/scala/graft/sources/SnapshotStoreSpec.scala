package graft.sources

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import graft.{SparkTestSession, TempDirs}
import SnapshotStore.{FileEntry, Manifest}

/** The manifest codec, resume from every crash window of the store's
  * multi-step operations, racing writers, earlier store layouts and
  * moved stores.
  */
class SnapshotStoreSpec extends AnyFunSuite with TempDirs {
  lazy val spark = SparkTestSession.spark

  test("manifest codec round-trips quotes, backslashes, control characters and non-ASCII text") {
    val odd = "q\"uote \\back\\slash \t\n\u0001\u001f ctl — Zürich 東京 \uD83D\uDE00"
    val schema = StructType(Seq(StructField(odd, LongType))).json
    val ms = Seq(
      Manifest(7, 6, odd, 42L, Some(odd), schema,
        Seq(FileEntry(s"file:/tmp/$odd/part-00000.parquet", 0, 40L, Some(Long.MinValue), Some(Long.MaxValue)),
          FileEntry(s"/tmp/$odd/part-x.parquet", -1, 2L, None, None)),
        Seq(s"file:/in/$odd", "file:/in/b")),
      Manifest(1, 0, "", 0L, None, "{}", Nil, Nil))
    for (m <- ms) assert(Manifest.decode(Manifest.encode(m), "mem") == m)
    // paths stay unescaped, so relocating a store by plain substring
    // replacement of its root path keeps its manifests valid
    val path = "file:/tmp/store/data/s1/t/part-00000-a.snappy.parquet"
    val text = Manifest.encode(ms(1).copy(files = Seq(FileEntry(path, 0, 1L, None, None))))
    assert(text.contains("\"path\": \"" + path + "\""))
    val moved = Manifest.decode(text.replace("/tmp/store", "/tmp/elsewhere"), "mem")
    assert(moved.files.map(_.path) == Seq(path.replace("/tmp/store", "/tmp/elsewhere")))
  }

  test("manifests written in the earlier hand-built layout still decode") {
    // byte for byte what stores committed before the typed codec hold:
    // one-line file entries, with and without min/max, \\u escapes
    val schema = """{\"type\":\"struct\",\"fields\":[{\"name\":\"cell\",\"type\":\"long\",\"nullable\":false,\"metadata\":{}}]}"""
    val withStats =
      "{\n" +
        "  \"version\": 3,\n" +
        "  \"parent\": 2,\n" +
        "  \"name\": \"tiled \\\"q\\\" \\\\ \\u0001\",\n" +
        "  \"writerId\": \"0b7c1c6e-9f3a-4d2b-8f7e-1a2b3c4d5e6f\",\n" +
        "  \"rowCount\": 30,\n" +
        "  \"statsCol\": \"cell\",\n" +
        "  \"schema\": \"" + schema + "\",\n" +
        "  \"files\": [\n" +
        "    {\"path\": \"file:/tmp/st/data/s3/tiled/part-00000-ab.snappy.parquet\", \"partition\": 0, \"rows\": 10, \"min\": -5, \"max\": 9},\n" +
        "    {\"path\": \"file:/tmp/st/data/s3/tiled/part-00001-ab.snappy.parquet\", \"partition\": 1, \"rows\": 20}\n" +
        "  ],\n" +
        "  \"lineage\": [\"file:/tmp/in/a.parquet\", \"file:/tmp/in/b.parquet\"]\n" +
        "}\n"
    // (the writerId key is no longer read)
    assert(Manifest.decode(withStats, "v3.json") == Manifest(3, 2, "tiled \"q\" \\ \u0001",
      30L, Some("cell"),
      """{"type":"struct","fields":[{"name":"cell","type":"long","nullable":false,"metadata":{}}]}""",
      Seq(FileEntry("file:/tmp/st/data/s3/tiled/part-00000-ab.snappy.parquet", 0, 10L, Some(-5L), Some(9L)),
        FileEntry("file:/tmp/st/data/s3/tiled/part-00001-ab.snappy.parquet", 1, 20L, None, None)),
      Seq("file:/tmp/in/a.parquet", "file:/tmp/in/b.parquet")))
    // no writerId (the oldest stores), no statsCol, no files, no lineage
    val bare = "{\n  \"version\": 1,\n  \"parent\": 0,\n  \"name\": \"t\",\n  \"rowCount\": 0,\n" +
      "  \"schema\": \"" + schema + "\",\n  \"files\": [\n\n  ],\n  \"lineage\": []\n}\n"
    val m = Manifest.decode(bare, "v1.json")
    assert(m.statsCol.isEmpty && m.files.isEmpty && m.lineage.isEmpty)
    assert((m.version, m.parent, m.name, m.rowCount) == ((1, 0, "t", 0L)))
  }

  private def setPointer(root: String, v: Int): Unit =
    Files.writeString(Paths.get(root, "_snapshots", "current"), v.toString)

  private def manifestPath(root: String, v: Int) = Paths.get(root, "_snapshots", s"v$v.json")

  private def tempManifest(root: String, v: Int) =
    Paths.get(root, "_snapshots", s".v$v-${java.util.UUID.randomUUID}.json.tmp")

  private val windows = Seq("data only", "linked")

  /** Turn the store at `root`, whose last operation committed version
    * `v`, into what a writer killed inside that operation leaves:
    * "data only" (before the link: the data directory and a cut-short
    * temporary manifest) or "linked" (after the link, before the
    * temporary file was deleted). A writer of the earlier layout also
    * left its `current` pointer one version below.
    */
  private def crash(root: String, v: Int, window: String): Unit = {
    setPointer(root, v - 1)
    if (window == "data only") {
      Files.delete(manifestPath(root, v))
      Files.writeString(tempManifest(root, v), "{\n  \"version\": ")
    } else Files.createLink(tempManifest(root, v), manifestPath(root, v))
  }

  /** What a reader of the store sees: every snapshot, and the rows of
    * the latest version of every name.
    */
  private def view(store: SnapshotStore): (Seq[(Int, String, Long)], Map[String, Seq[String]]) = {
    val snaps = store.snapshots
    (snaps, snaps.map(_._2).distinct.map(n =>
      n -> store.read(n).collect().map(_.toString).sorted.toSeq).toMap)
  }

  private def base: DataFrame = spark.range(0, 40).toDF("k")
    .withColumn("v", col("k") * 3).repartitionByRange(4, col("k"))

  /** commit, merge, compact and a second name, in that order. */
  private def ops: Seq[SnapshotStore => Int] = {
    import spark.implicits._
    Seq(
      _.commit("t", base, Some("k")),
      _.merge("t", Seq((3L, -1L), (77L, 5L)).toDF("k", "v"), Seq("k")),
      _.compact("t", targetBytes = 1L << 30),
      _.commit("u", spark.range(5).toDF("x")))
  }

  test("commit, merge and compact resume from every crash window to the uncrashed state") {
    val ref = new SnapshotStore(spark, tempDir("crash_ref"))
    val refViews = view(ref) +: ops.map { op => op(ref); view(ref) }

    for (i <- ops.indices; window <- windows) {
      val root = tempDir("crash")
      val crashed = new SnapshotStore(spark, root)
      ops.take(i + 1).foreach(_(crashed))
      val v = i + 1
      crash(root, v, window)
      val resumed = new SnapshotStore(spark, root)
      if (window == "data only") {
        assert(view(resumed) == refViews(i), s"op $i, $window: reader view before resume")
        assert(ops(i)(resumed) == v)
      }
      // after the link the operation is committed: nothing to resume
      assert(view(resumed) == refViews(i + 1), s"op $i, $window: state after resume")
      assert(view(new SnapshotStore(spark, root)) == refViews(i + 1))
    }
  }

  test("a crash in either commit window never blocks a commit under a different name") {
    val other: SnapshotStore => Int = _.commit("other", spark.range(3).toDF("o"))
    for (i <- ops.indices; window <- windows) {
      // the uncrashed run: the crashed operation lands after `other`
      // if it had not committed yet, before it if it had
      val order =
        if (window == "data only") ops.take(i) ++ Seq(other, ops(i))
        else ops.take(i + 1) :+ other
      val ref = new SnapshotStore(spark, tempDir("wedge_ref"))
      order.foreach(_(ref))
      val root = tempDir("wedge")
      val crashed = new SnapshotStore(spark, root)
      ops.take(i + 1).foreach(_(crashed))
      crash(root, i + 1, window)
      val resumed = new SnapshotStore(spark, root)
      assert(other(resumed) == (if (window == "data only") i + 1 else i + 2), s"op $i, $window")
      if (window == "data only") ops(i)(resumed) // re-run the crashed operation
      assert(view(resumed) == view(ref), s"op $i, $window")
      assert(view(new SnapshotStore(spark, root)) == view(ref), s"op $i, $window")
    }
  }

  test("writers racing for one version: one manifest wins, the loser throws and commits next") {
    val root = tempDir("race")
    val store = new SnapshotStore(spark, root)
    store.commit("base", spark.range(2).toDF("x"))
    // the winner: a complete snapshot at v2 whose manifest is held back
    // until the loser's own write job publishes it
    assert(store.commit("winner", spark.range(10).toDF("w")) == 2)
    val winnerView = view(store)
    val held = Paths.get(tempDir("race_held"), "v2.json")
    Files.move(manifestPath(root, 2), held)
    assert(store.currentVersion.contains(1))
    val (heldS, target) = (held.toString, manifestPath(root, 2).toString)
    val publish = udf { (x: Long) => SnapshotStoreSpec.linkOnce(heldS, target); x }
    val e = intercept[IllegalStateException] {
      store.commit("loser", spark.range(0, 8, 1, 1).toDF("x").select(publish(col("x")).as("x")))
    }
    assert(e.getMessage.contains("version 2") && e.getMessage.contains("'winner'"), e.getMessage)
    val listing = Files.list(Paths.get(root, "_snapshots"))
    try assert(listing.iterator.asScala.map(_.getFileName.toString).toSeq.sorted == Seq("v1.json", "v2.json"))
    finally listing.close()
    assert(view(store) == winnerView && view(new SnapshotStore(spark, root)) == winnerView)
    assert(store.commit("loser", spark.range(4).toDF("x")) == 3)
    assert(store.read("loser").count() == 4 && view(store)._2("winner") == winnerView._2("winner"))
    // the lost attempt's data is crash residue that expiry sweeps
    assert(Files.exists(Paths.get(store.dataPath(2, "loser"))))
    assert(store.expireSnapshots() == Nil)
    assert(!Files.exists(Paths.get(store.dataPath(2, "loser"))))
    assert(Files.exists(Paths.get(store.dataPath(2, "winner"))))
  }

  test("a store of the earlier layout opens with the manifest above its pointer committed") {
    val root = tempDir("old_layout")
    val store = new SnapshotStore(spark, root)
    store.commit("t", spark.range(10).toDF("x"), Some("x"))
    store.commit("u", store.read("t").filter(col("x") < 4))
    val metrics = (1 to 2).map(store.fileMetrics)
    // rewrite both manifests as the earlier layout wrote them (absolute
    // paths, a writer id), and leave `current` one version below the
    // last one: killed before its pointer flip
    for (v <- 1 to 2) {
      val m = Manifest.decode(Files.readString(manifestPath(root, v)), "mem")
      assert(m.files.nonEmpty && (m.files.map(_.path) ++ m.lineage).forall(_.startsWith("data/s")))
      def abs(p: String) = s"file:$root/$p"
      val earlier = m.copy(files = m.files.map(f => f.copy(path = abs(f.path))), lineage = m.lineage.map(abs))
      Files.writeString(manifestPath(root, v), Manifest.encode(earlier)
        .replace("  \"rowCount\"", "  \"writerId\": \"0b7c1c6e-9f3a-4d2b-8f7e-1a2b3c4d5e6f\",\n  \"rowCount\""))
    }
    assert(Files.readString(manifestPath(root, 2)).contains("\"writerId\""))
    setPointer(root, 1)
    val old = new SnapshotStore(spark, root)
    assert(old.snapshots == Seq((1, "t", 10L), (2, "u", 4L)) && old.currentVersion.contains(2))
    assert((1 to 2).map(old.fileMetrics) == metrics)
    assert(old.read("u").count() == 4 && old.readPrunedIn("t", Seq(3L, 7L)).count() == 2)
    assert(old.commit("w", spark.range(1).toDF("w")) == 3)
  }

  test("a committed store moves with a plain directory move") {
    import spark.implicits._
    def build(root: String): SnapshotStore = {
      val store = new SnapshotStore(spark, root)
      ops.take(2).foreach(_(store))
      store.commit("u", store.read("t").filter(col("k") < 10)) // lineage under the root
      store
    }
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    def reads(s: SnapshotStore) = Seq(s.read("t"), s.readPrunedIn("t", Seq(3L, 17L, 77L)),
      s.readAt("t", 1), s.read("u")).map(rows)
    val ref = build(tempDir("move_ref"))
    val dir = Paths.get(tempDir("move"))
    val from = dir.resolve("a")
    build(from.toString)
    // no manifest names the root, so nothing needs rewriting
    for (v <- 1 to 3) assert(!Files.readString(manifestPath(from.toString, v)).contains(dir.toString))
    val to = dir.resolve("b")
    Files.move(from, to)
    val moved = new SnapshotStore(spark, to.toString)
    assert(reads(moved) == reads(ref))
    assert(moved.fileMetrics(2).forall(_._3.contains(s"$to/data/s2/t/")))
    val update = Seq((5L, 0L), (90L, 1L)).toDF("k", "v")
    assert(moved.merge("t", update, Seq("k")) == ref.merge("t", update, Seq("k")))
    assert(reads(moved) == reads(ref) && view(moved) == view(ref))
  }

  test("expireSnapshots sweeps a crashed commit's data and temporary manifest") {
    val root = tempDir("sweep")
    val store = new SnapshotStore(spark, root)
    store.commit("t", spark.range(10).toDF("x"))
    store.commit("t", spark.range(20).toDF("x"))
    crash(root, 2, "data only")
    val resumed = new SnapshotStore(spark, root)
    assert(resumed.commit("other", spark.range(3).toDF("o")) == 2)
    // a temporary manifest above the current version may be a commit in flight
    Files.writeString(Paths.get(root, "_snapshots", ".v3-inflight.json.tmp"), "{")
    def temps = {
      val s = Files.list(Paths.get(root, "_snapshots"))
      try s.iterator.asScala.map(_.getFileName.toString).filter(_.endsWith(".tmp")).toSeq.sorted
      finally s.close()
    }
    assert(temps.size == 2 && Files.exists(Paths.get(resumed.dataPath(2, "t"))))
    val before = view(resumed)
    assert(resumed.expireSnapshots(keepLast = 1) == Nil)
    assert(!Files.exists(Paths.get(resumed.dataPath(2, "t"))) && temps == Seq(".v3-inflight.json.tmp"))
    assert(view(resumed) == before && view(new SnapshotStore(spark, root)) == before)
  }

  test("expireSnapshots resumes after a crash between the data and the manifest delete") {
    def run(root: String): SnapshotStore = {
      val store = new SnapshotStore(spark, root)
      store.commit("t", spark.range(10).toDF("x"))
      store.commit("t", spark.range(20).toDF("x"))
      store.commit("u", spark.range(5).toDF("y"))
      store.commit("t", spark.range(30).toDF("x"))
      store
    }
    val ref = run(tempDir("expire_ref"))
    assert(ref.expireSnapshots(keepLast = 1) == Seq(1, 2))
    val root = tempDir("expire_crash")
    val crashed = run(root)
    // killed after deleting v1's data, before deleting its manifest
    // (and before reaching v2)
    val dir = Paths.get(crashed.dataPath(1, "t"))
    Files.walk(dir).sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
    assert(Files.exists(manifestPath(root, 1)))
    val resumed = new SnapshotStore(spark, root)
    // the latest version of every name reads as if nothing happened
    assert(view(resumed)._2 == view(ref)._2)
    assert(resumed.expireSnapshots(keepLast = 1) == Seq(1, 2))
    assert(view(resumed) == view(ref))
    assert(!Files.exists(manifestPath(root, 1)) && !Files.exists(Paths.get(resumed.dataPath(2, "t"))))
  }
}

object SnapshotStoreSpec {
  /** Links `held` to `target` unless `target` exists: a manifest
    * published from inside a running job (local mode, one JVM).
    */
  def linkOnce(held: String, target: String): Unit = synchronized {
    if (!Files.exists(Paths.get(target))) Files.createLink(Paths.get(target), Paths.get(held))
  }
}
