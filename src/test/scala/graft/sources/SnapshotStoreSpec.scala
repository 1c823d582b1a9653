package graft.sources

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import graft.SparkTestSession
import SnapshotStore.{FileEntry, Manifest}

/** The manifest codec, and resume from every crash window of the
  * store's multi-step operations.
  */
class SnapshotStoreSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("manifest codec round-trips quotes, backslashes, control characters and non-ASCII text") {
    val odd = "q\"uote \\back\\slash \t\n\u0001\u001f ctl — Zürich 東京 \uD83D\uDE00"
    val schema = StructType(Seq(StructField(odd, LongType))).json
    val ms = Seq(
      Manifest(7, 6, odd, Some(odd), 42L, Some(odd), schema,
        Seq(FileEntry(s"file:/tmp/$odd/part-00000.parquet", 0, 40L, Some(Long.MinValue), Some(Long.MaxValue)),
          FileEntry(s"/tmp/$odd/part-x.parquet", -1, 2L, None, None)),
        Seq(s"file:/in/$odd", "file:/in/b")),
      Manifest(1, 0, "", None, 0L, None, "{}", Nil, Nil))
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
    assert(Manifest.decode(withStats, "v3.json") == Manifest(3, 2, "tiled \"q\" \\ \u0001",
      Some("0b7c1c6e-9f3a-4d2b-8f7e-1a2b3c4d5e6f"), 30L, Some("cell"),
      """{"type":"struct","fields":[{"name":"cell","type":"long","nullable":false,"metadata":{}}]}""",
      Seq(FileEntry("file:/tmp/st/data/s3/tiled/part-00000-ab.snappy.parquet", 0, 10L, Some(-5L), Some(9L)),
        FileEntry("file:/tmp/st/data/s3/tiled/part-00001-ab.snappy.parquet", 1, 20L, None, None)),
      Seq("file:/tmp/in/a.parquet", "file:/tmp/in/b.parquet")))
    // no writerId (the oldest stores), no statsCol, no files, no lineage
    val bare = "{\n  \"version\": 1,\n  \"parent\": 0,\n  \"name\": \"t\",\n  \"rowCount\": 0,\n" +
      "  \"schema\": \"" + schema + "\",\n  \"files\": [\n\n  ],\n  \"lineage\": []\n}\n"
    val m = Manifest.decode(bare, "v1.json")
    assert(m.writerId.isEmpty && m.statsCol.isEmpty && m.files.isEmpty && m.lineage.isEmpty)
    assert((m.version, m.parent, m.name, m.rowCount) == ((1, 0, "t", 0L)))
  }

  private def setPointer(root: String, v: Int): Unit =
    Files.writeString(Paths.get(root, "_snapshots", "current"), v.toString)

  private def manifestPath(root: String, v: Int) = Paths.get(root, "_snapshots", s"v$v.json")

  /** What a reader of the store sees: every snapshot, and the rows of
    * the latest version of every name.
    */
  private def view(store: SnapshotStore): (Seq[(Int, String, Long)], Map[String, Seq[String]]) = {
    val snaps = store.snapshots
    (snaps, snaps.map(_._2).distinct.map(n =>
      n -> store.read(n).collect().map(_.toString).sorted.toSeq).toMap)
  }

  test("commit, merge and compact resume from every crash window to the uncrashed state") {
    import spark.implicits._
    def base: DataFrame = spark.range(0, 40).toDF("k")
      .withColumn("v", col("k") * 3).repartitionByRange(4, col("k"))
    val ops: Seq[SnapshotStore => Int] = Seq(
      _.commit("t", base, Some("k")),
      _.merge("t", Seq((3L, -1L), (77L, 5L)).toDF("k", "v"), Seq("k")),
      _.compact("t", targetBytes = 1L << 30),
      _.commit("u", spark.range(5).toDF("x")))
    val refRoot = Files.createTempDirectory("crash_ref").toString
    val ref = new SnapshotStore(spark, refRoot)
    val refViews = view(ref) +: ops.map { op => op(ref); view(ref) }

    for (i <- ops.indices; window <- Seq("data only", "manifest unflipped")) {
      val root = Files.createTempDirectory("crash").toString
      val crashed = new SnapshotStore(spark, root)
      ops.take(i + 1).foreach(_(crashed))
      val v = i + 1
      // the on-disk state of a writer killed inside operation i
      setPointer(root, v - 1)
      if (window == "data only") {
        Files.delete(manifestPath(root, v))
        // a manifest write cut short leaves only its temporary file
        Files.writeString(Paths.get(root, "_snapshots", s".v$v.json.tmp"), "{\n  \"version\": ")
      }
      val resumed = new SnapshotStore(spark, root)
      assert(view(resumed) == refViews(i), s"op $i, $window: reader view before resume")
      if (window == "manifest unflipped") {
        // a different name cannot tell the crashed commit from a live
        // foreign writer: it refuses and changes nothing
        intercept[IllegalStateException](resumed.commit("other", spark.range(1).toDF("x")))
        assert(view(resumed) == refViews(i))
      }
      assert(ops(i)(resumed) == v)
      assert(view(resumed) == refViews(i + 1), s"op $i, $window: state after resume")
      assert(view(new SnapshotStore(spark, root)) == refViews(i + 1))
    }
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
    val ref = run(Files.createTempDirectory("expire_ref").toString)
    assert(ref.expireSnapshots(keepLast = 1) == Seq(1, 2))
    val root = Files.createTempDirectory("expire_crash").toString
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
