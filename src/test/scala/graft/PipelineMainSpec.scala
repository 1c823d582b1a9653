package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.SnapshotStore

/** `PipelineMain` killed at every stage boundary resumes to the
  * uncrashed run.
  */
class PipelineMainSpec extends AnyFunSuite with TempDirs {
  lazy val spark = SparkTestSession.spark

  private def run(root: String): String =
    PipelineMain.run(spark, Map("store" -> root, "generate" -> "300"))

  /** Every snapshot, and the rows of every name as sorted JSON lines. */
  private def state(root: String): (Seq[(Int, String, Long)], Seq[Seq[String]]) = {
    val store = new SnapshotStore(spark, root)
    (store.snapshots, store.snapshots.map(s => store.read(s._2).toJSON.collect().sorted.toSeq))
  }

  test("a pipeline killed at any stage boundary resumes to the uncrashed run's snapshots and rows") {
    val refRoot = tempDir("pipeline_ref")
    val summary = run(refRoot)
    val ref = state(refRoot)
    assert(ref._1.map(_._2) == Seq("images", "verified", "tiled", "tile_stats", "nearest"))
    assert(summary.endsWith("\"snapshots\":5}"), summary)
    for (k <- 0 to ref._1.size) {
      val root = tempDir(s"pipeline_k$k")
      run(root)
      // killed after k commits: the later manifests never appeared, their
      // data directories stay as crash residue, and the next commit's
      // temporary manifest was cut short
      for (v <- k + 1 to ref._1.size) Files.delete(Paths.get(root, "_snapshots", s"v$v.json"))
      Files.writeString(Paths.get(root, "_snapshots", s".v${k + 1}-killed.json.tmp"), "{\n  \"version\": ")
      assert(run(root) == summary, s"boundary $k")
      assert(state(root) == ref, s"boundary $k")
    }
  }
}
