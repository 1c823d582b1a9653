package graft.sources

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType, StructType}
import org.json4s._
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods
import com.fasterxml.jackson.core.util.{DefaultPrettyPrinter, Separators}
import java.nio.file.{FileAlreadyExistsException, Files, Paths, Path, StandardOpenOption}
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._
import scala.util.matching.Regex
import SnapshotStore.{FileEntry, Manifest, MetricsSchema, MetricsSuffix}

/** Iceberg-style snapshot/manifest layer over parquet directories
  * (hand-rolled: no Iceberg jar exists in this environment; SURVEY.md
  * §2.10). Layout under `root`:
  *
  * {{{
  *   data/s<N>/<name>/...parquet     immutable data of snapshot N
  *   _snapshots/v<N>.json            snapshot N's Manifest (JSON)
  * }}}
  *
  * A manifest is one [[SnapshotStore.Manifest]] value with one encoder
  * and one decoder; every reader goes through the decoded value, and a
  * manifest that does not decode throws `IllegalStateException` naming
  * the file instead of yielding a partial file list. Reads are typed
  * by the manifest's recorded schema (Iceberg plans a scan from its
  * metadata the same way), so planning a read touches no data and
  * runs no Spark job. Paths under `root` are stored relative to it,
  * so a store moves with a plain directory move.
  *
  * Commit protocol (Iceberg's file-system tables): data is written to
  * the snapshot-versioned directory, the manifest to a temporary file
  * unique to the attempt, and the commit is the one atomic step that
  * creates `v<N>.json` from it if, and only if, that name is absent.
  * The committed versions are the listing of `_snapshots/v*.json`;
  * the current version is the highest. A crashed writer leaves at
  * most data no manifest names and a temporary file, never a torn
  * table, and [[expireSnapshots]] sweeps both. Writers of different
  * names may share a root: the one that loses a version fails loudly
  * and changes no snapshot. Each snapshot NAME has a single writer, as
  * two writers of one name would share `data/s<N>/<name>`.
  * Re-committing a name whose data was written but whose manifest was
  * not overwrites that data, which is what makes [[getOrCompute]] a
  * resumable checkpoint.
  */
final class SnapshotStore(spark: SparkSession, root: String) {
  private val snapDir = Paths.get(root, "_snapshots")
  Files.createDirectories(snapDir)

  private def snapshotJson(v: Int): Path = snapDir.resolve(s"v$v.json")

  /** Entries of `dir` (none if it does not exist). */
  private def list(dir: Path): Seq[java.io.File] = Option(dir.toFile.listFiles).toSeq.flatten

  /** Entries of `dir` whose name `re` matches, with the version it captures. */
  private def numbered(dir: Path, re: Regex): Seq[(Int, java.io.File)] =
    list(dir).flatMap(f => re.unapplySeq(f.getName).map(g => (g.head.toInt, f)))

  /** Versions of the committed manifests, ascending. */
  private def versions: Seq[Int] = numbered(snapDir, SnapshotStore.ManifestFile).map(_._1).sorted

  /** The highest committed version. */
  def currentVersion: Option[Int] = versions.lastOption

  /** The root as the parquet committer reports paths under it. */
  private val rootPrefix = s"file:${Paths.get(root).toAbsolutePath.normalize}/"

  private def isAbsolute(p: String): Boolean = p.startsWith("/") || SnapshotStore.Scheme.findPrefixOf(p).isDefined

  /** `p` relative to the root when it lies under it, in the committer's
    * form or in the URI form `inputFiles` reports (`file:///tmp/store/`);
    * other paths are kept whole.
    */
  private def relative(p: String): String = Seq(rootPrefix, rootPrefix.replace("file:", "file://"))
    .find(p.startsWith).map(pre => p.drop(pre.length)).filterNot(isAbsolute).getOrElse(p)

  private def resolve(p: String): String = if (isAbsolute(p)) p else rootPrefix + p

  /** Version `v`'s manifest with every path resolved against the root. */
  private def manifestAt(v: Int): Manifest = {
    val m = Manifest.decode(Files.readString(snapshotJson(v)), snapshotJson(v).toString)
    m.copy(files = m.files.map(f => f.copy(path = resolve(f.path))), lineage = m.lineage.map(resolve))
  }

  /** The version index: every committed manifest in version order. */
  private def manifests: Seq[Manifest] = versions.map(manifestAt)

  /** Latest manifest of `name` at or before version `asOf`. */
  private def manifestOf(name: String, asOf: Int = Int.MaxValue): Option[Manifest] =
    manifests.filter(m => m.name == name && m.version <= asOf).lastOption

  private def latest(name: String): Manifest = manifestOf(name).getOrElse(
    throw new IllegalArgumentException(s"no snapshot named '$name' in $root"))

  /** All committed snapshots: (version, name, rowCount). */
  def snapshots: Seq[(Int, String, Long)] = manifests.map(m => (m.version, m.name, m.rowCount))

  /** Latest committed snapshot version carrying `name`, if any. */
  def versionOf(name: String): Option[Int] = manifestOf(name).map(_.version)

  def dataPath(v: Int, name: String): String =
    Paths.get(root, "data", s"s$v", name).toString

  /** The latest snapshot of `name`, typed by its manifest: planning
    * the read touches no data and runs no Spark job. `<base>__metrics`
    * of a committed `base` is served from `base`'s manifest:
    * (partition_id, rows, file) per data file, as [[fileMetrics]] (see
    * [[Lineage.commitWithMetrics]]).
    */
  def read(name: String): DataFrame = readAt(name, Int.MaxValue)

  /** Time travel: read `name` as of store version `asOf` — the latest
    * snapshot of that name with version <= asOf (Iceberg
    * snapshot-id-style read; superseded data directories are never
    * deleted, so history stays readable). Names resolve as in [[read]]:
    * `<base>__metrics` is the file metrics of `base`'s latest manifest
    * at or before `asOf`.
    */
  def readAt(name: String, asOf: Int): DataFrame =
    Some(name.stripSuffix(MetricsSuffix)).filter(_ != name).flatMap(manifestOf(_, asOf)) match {
      case Some(b) => spark.createDataFrame(metricsOf(b).map(Row.fromTuple).asJava, MetricsSchema)
      case None => scan(manifestOf(name, asOf).getOrElse {
        val when = if (asOf == Int.MaxValue) "" else s" at or before version $asOf"
        throw new IllegalArgumentException(s"no snapshot named '$name'$when in $root")
      })
    }

  /** Version `m`'s data directory, read with the schema its manifest
    * recorded: Spark infers nothing, so no job runs until an action.
    */
  private def scan(m: Manifest): DataFrame =
    spark.read.schema(m.structType).parquet(dataPath(m.version, m.name))

  /** Write `df` as a new snapshot called `name`: ONE job writes the
    * data files; the manifest (per-file row counts + the write
    * partition each file came from) is then assembled from parquet
    * FOOTERS — a metadata-only read, never a second pass over the
    * data — and published by creating `v<N>.json`. The partition index
    * is the one the parquet committer encodes in the part file name,
    * so per-partition lineage costs nothing extra. Throws
    * `IllegalStateException` when version N was committed first by a
    * writer of a different name; that snapshot is untouched, and the
    * next commit takes N+1.
    */
  def commit(name: String, df: DataFrame): Int = commit(name, df, None)

  /** Commit with a designated ZONE-MAP column: per-file min/max of
    * `statsCol` (an integral column, e.g. a cell id) are lifted from
    * the SAME parquet footers the manifest already reads — still
    * metadata-only — and recorded per file, so [[readPruned]] can
    * skip whole files by range without listing or opening them. At
    * 100 TB with data clustered by cell (the committed layout the
    * pipeline produces), a tile/AOI-ranged read touches only the
    * overlapping files — Iceberg's data-skipping story without the
    * Iceberg jar.
    */
  def commit(name: String, df: DataFrame, statsCol: Option[String]): Int =
    publish(name, df, statsCol)(_ => ())

  /** [[commit]], with `check` run on the new manifest before it is
    * published: when it throws, the written data is deleted and no
    * version is created.
    */
  private def publish(name: String, df: DataFrame, statsCol: Option[String])(
      check: Manifest => Unit): Int = {
    val parent = currentVersion.getOrElse(0)
    val v = parent + 1
    val out = dataPath(v, name)
    df.write.mode("overwrite").parquet(out) // the only pass over the data
    val files = fileEntries(out, statsCol)
    // a parquet write always leaves at least one part file (possibly
    // 0-row); an empty listing means a committer this store does not
    // understand — fall back to a read-back count rather than
    // recording rowCount 0 for data that exists
    val rowCount =
      if (files.nonEmpty) files.map(_.rows).sum
      else spark.read.schema(df.schema).parquet(out).count()
    val m = Manifest(v, parent, name, rowCount, statsCol, df.schema.json, files,
      df.inputFiles.sorted.toSeq.map(relative))
    try check(m) catch { case e: Exception => deleteDir(out); throw e }
    // the commit: a temporary file unique to this attempt, hard-linked
    // to v<N>.json, which fails if that name exists (a rename would
    // replace it)
    val tmp = snapDir.resolve(s".v$v-${java.util.UUID.randomUUID}.json.tmp")
    try {
      Files.writeString(tmp, Manifest.encode(m), StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE)
      Files.createLink(snapshotJson(v), tmp)
    } catch {
      case _: FileAlreadyExistsException => throw new IllegalStateException(
        s"version $v of $root was committed by '${manifestAt(v).name}' while '$name' was being " +
          "written; nothing was published for it")
    } finally Files.deleteIfExists(tmp)
    v
  }

  /** The manifest entry (root-relative path, write partition, rows,
    * min/max of `statsCol`) of every data file of a written directory,
    * from the parquet footers (metadata-only) and the partition index
    * the committer encodes in part file names. Hadoop FS API, so the
    * store works on any cluster filesystem.
    */
  private def fileEntries(dir: String, statsCol: Option[String]): Seq[FileEntry] = {
    val conf = spark.sessionState.newHadoopConf()
    val statuses = parquetFiles(dir)
    def readOne(s: org.apache.hadoop.fs.FileStatus, conf: org.apache.hadoop.conf.Configuration): FileEntry = {
        val fname = s.getPath.getName
        // committer naming is "part-NNNNN-uuid..."; anything else
        // (foreign committers, over-long numeric prefixes) degrades
        // to -1 rather than failing the commit after the data is
        // written — digit count bounded so toInt cannot overflow
        val part = "part-(\\d{1,9})".r.findPrefixMatchOf(fname)
          .map(_.group(1).toInt).getOrElse(-1)
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(s.getPath, conf))
        try {
          // integral min/max of statsCol across the file's row groups,
          // from the column-chunk statistics already in the footer; a
          // missing column / missing stats / non-integral type yields
          // None and the file simply stays unpruneable (always read)
          val perBlock = statsCol.toSeq.flatMap(c => reader.getFooter.getBlocks.asScala.map { b =>
            b.getColumns.asScala.find(_.getPath.toDotString == c).map(_.getStatistics)
              .filter(st => st != null && st.hasNonNullValue)
              .flatMap(st => (st.genericGetMin, st.genericGetMax) match {
                case (lo: Number, hi: Number) if !lo.isInstanceOf[java.lang.Double] &&
                  !lo.isInstanceOf[java.lang.Float] => Some((lo.longValue(), hi.longValue()))
                case _ => None
              })
          })
          val range = Some(perBlock).filter(b => b.nonEmpty && b.forall(_.isDefined)).map(_.flatten)
          FileEntry(relative(s.getPath.toString), part, reader.getRecordCount,
            range.map(_.map(_._1).min), range.map(_.map(_._2).max))
        } finally reader.close()
      }

    // footer reads are independent filesystem round-trips: run them on
    // a bounded pool — serially, a large table's footers would make
    // this "metadata-only" step O(file count) in driver round-trip
    // latency (Future.traverse keeps the listing's order). Each task
    // gets its OWN Configuration copy (Hadoop Configuration is not
    // documented thread-safe — a lazy-init inside one reader could
    // race another's), and Await.result rethrows a failed read's own
    // exception, so commit's failure surface stays the IOException.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(16, statuses.size)))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try Await.result(Future.traverse(statuses)(s =>
      Future(readOne(s, new org.apache.hadoop.conf.Configuration(conf)))), Duration.Inf)
    finally pool.shutdown()
  }

  /** Parquet data files under `dir` in path order. Recursive: a
    * partitionBy() layout nests part files under key=value
    * directories — a top-level-only listing would record an empty
    * manifest for a successfully written table.
    */
  private def parquetFiles(dir: String): Seq[org.apache.hadoop.fs.FileStatus] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val it = p.getFileSystem(spark.sessionState.newHadoopConf()).listFiles(p, true)
    Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .toSeq.sortBy(_.getPath.toString)
  }

  private def deleteDir(dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
  }

  /** Delete version `v`'s data directory, then its manifest: a crash
    * in between leaves a manifest whose data is gone, which re-running
    * the deletion finishes, never unreferenced data no manifest names.
    */
  private def dropVersion(v: Int, name: String): Unit = {
    deleteDir(dataPath(v, name))
    Files.deleteIfExists(snapshotJson(v))
  }

  /** Zone-map column the current version of `name` was committed
    * with, straight from the manifest — None when the snapshot
    * carries no stats. Callers that build pruning predicates against
    * an ASSUMED column (e.g. a pipeline resuming an old store) must
    * check this instead of trusting their own configuration: a
    * mismatch makes the residual filter silently drop every row.
    */
  def statsColOf(name: String): Option[String] = manifestOf(name).flatMap(_.statsCol)

  /** (min, max) of the zone-map column over the files of the latest
    * version of `name` that recorded stats, from its manifest (no data
    * access, no job). None when there is no such snapshot or no file
    * recorded stats (no statsCol, or no rows).
    */
  def statsRange(name: String): Option[(Long, Long)] = {
    val ranges = manifestOf(name).toSeq.flatMap(_.files).flatMap(f => f.min.zip(f.max))
    if (ranges.isEmpty) None else Some((ranges.map(_._1).min, ranges.map(_._2).max))
  }

  /** Read `name` restricted to rows whose zone-map column lies in
    * [lo, hi]: manifest min/max stats select only the OVERLAPPING
    * data files (files committed without stats are conservatively
    * included), and the residual exact filter still applies — so the
    * result equals `read(name).filter(col between lo and hi)` while
    * scanning a subset of the files. [[prunedFiles]] exposes the
    * selection for plan/IO assertions.
    */
  def readPruned(name: String, lo: Long, hi: Long): DataFrame =
    readPrunedBy(name, (mn, mx) => mn <= hi && mx >= lo)(_.between(lo, hi))

  /** Read `name` restricted to rows whose zone-map column is one of
    * `values` — the AOI/disc-cover consumer shape (a cover at the
    * tile level is a SET of cell ids, not one range). Files are kept
    * when at least one value lands inside their [min, max]; the exact
    * `isin` filter still applies, so the result equals
    * `read(name).filter(col isin values)` over a subset of the files.
    */
  def readPrunedIn(name: String, values: Seq[Long]): DataFrame = {
    require(values.nonEmpty, "values must be non-empty")
    val sorted = values.distinct.sorted.toArray
    def anyIn(lo: Long, hi: Long): Boolean = {
      // binary search: first value >= lo, then check it is <= hi
      var a = 0; var b = sorted.length
      while (a < b) { val m = (a + b) >>> 1; if (sorted(m) < lo) a = m + 1 else b = m }
      a < sorted.length && sorted(a) <= hi
    }
    readPrunedBy(name, anyIn)(_.isin(values: _*))
  }

  /** The latest `name` over only the files `overlap` keeps, with the
    * exact `residual` filter on its zone-map column; the manifest's
    * schema keeps an all-pruned read typed.
    */
  private def readPrunedBy(name: String, overlap: (Long, Long) => Boolean)(
      residual: Column => Column): DataFrame = {
    val m = latest(name)
    val statsCol = m.statsCol.getOrElse(throw new IllegalArgumentException(
      s"snapshot '$name' v${m.version} was committed without a statsCol"))
    val schema = m.structType
    val keep = filesWhere(m, overlap)
    val base =
      if (keep.isEmpty) spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
      else spark.read.schema(schema).parquet(keep: _*)
    base.filter(residual(col(statsCol)))
  }

  /** Data files of `m` kept by a zone-map predicate over their
    * (min, max); files without recorded stats are always kept.
    */
  private def filesWhere(m: Manifest, overlap: (Long, Long) => Boolean): Seq[String] =
    m.files.filter(f => (f.min, f.max) match {
      case (Some(lo), Some(hi)) => overlap(lo, hi)
      case _ => true
    }).map(_.path)

  /** Data files of version `v` whose zone-map range intersects
    * [lo, hi]; files without recorded stats are always kept.
    */
  def prunedFiles(v: Int, lo: Long, hi: Long): Seq[String] =
    filesWhere(manifestAt(v), (mn, mx) => mn <= hi && mx >= lo)

  /** Per-partition metrics of a committed snapshot, read back from
    * its manifest (no data access): (partition_id, rows, file).
    */
  def fileMetrics(v: Int): Seq[(Int, Long, String)] = metricsOf(manifestAt(v))

  private def metricsOf(m: Manifest): Seq[(Int, Long, String)] =
    m.files.map(f => (f.partition, f.rows, f.path))

  /** Resumable checkpoint: if a committed snapshot named `name`
    * exists, read it back; otherwise compute, commit, and read back
    * (so downstream stages always consume the materialized files).
    * The read-back is typed by the manifest, so a hit runs no Spark
    * job.
    */
  def getOrCompute(name: String)(compute: => DataFrame): DataFrame =
    getOrCompute(name, None)(compute)

  /** [[getOrCompute]] that, on the compute path, records zone-map
    * stats of `statsCol` in the manifest (see the stats-bearing
    * [[commit]]); the caller is expected to have clustered `compute`'s
    * output on that column so the per-file ranges are tight.
    */
  def getOrCompute(name: String, statsCol: Option[String])(compute: => DataFrame): DataFrame =
    versionOf(name) match {
      case Some(_) => read(name)
      case None => commit(name, compute, statsCol); read(name)
    }

  /** Copy-on-write MERGE (Iceberg `MERGE INTO ... WHEN MATCHED THEN
    * UPDATE WHEN NOT MATCHED THEN INSERT` semantics): rows of
    * `updates` replace current rows sharing their `keyCols` and new
    * keys append; every other current row carries over unchanged. The
    * result commits as a NEW version of `name` (one write job, like
    * every commit), so time travel still reads the pre-merge state.
    * Copy-on-write is the honest 100 TB default here: the carry-over
    * is one anti-join + union (shuffle on the key), with no delete
    * files or read-side merge machinery to mis-implement; use
    * partition-scoped names (or zone-map-pruned inputs) when only a
    * slice changes. Schemas must match by name.
    */
  def merge(name: String, updates: DataFrame, keyCols: Seq[String],
            statsCol: Option[String] = None): Int = {
    require(keyCols.nonEmpty, "keyCols must be non-empty")
    val m = latest(name)
    val cur0 = scan(m)
    // SCHEMA EVOLUTION (Iceberg's add-column): updates may carry NEW
    // columns — existing rows take typed nulls for them (CoW rewrite,
    // so the new version's files all hold the full schema, while time
    // travel to older versions reads the old schema from their own
    // data). Updates may NOT omit existing columns: silently nulling
    // a replaced key's old values is a data-loss footgun, not
    // evolution. Shared columns must keep their type (add a NEW
    // column for a type change).
    val curCols = cur0.columns.toSet
    val dropped = cur0.columns.filterNot(updates.columns.toSet)
    require(dropped.isEmpty,
      s"merge updates omit existing columns ${dropped.mkString(",")} — " +
        "evolution may only ADD columns")
    val added = updates.columns.filterNot(curCols)
    cur0.schema.foreach { f =>
      val u = updates.schema(f.name)
      require(u.dataType == f.dataType,
        s"merge column '${f.name}' changes type ${f.dataType} -> " +
          s"${u.dataType}; add a new column instead")
    }
    val cur = added.foldLeft(cur0)((d, c) =>
      d.withColumn(c, lit(null).cast(updates.schema(c).dataType)))
    // Iceberg MERGE rejects a source with several rows per key (the
    // result would depend on row order / silently hold duplicate
    // keys); one cheap agg over the small updates side enforces that
    val dup = updates.groupBy(keyCols.map(col): _*).count()
      .filter(col("count") > 1).limit(1).collect()
    require(dup.isEmpty,
      s"merge source has multiple rows for key ${dup.headOption.mkString} — " +
        "deduplicate updates before merging")
    // zone-map continuity (same contract as compact): unless the
    // caller overrides, inherit the table's statsCol from the current
    // manifest and keep the output range-clustered on it — otherwise
    // a routine merge would silently strip pruning from the table
    val effStats = statsCol.orElse(m.statsCol)
    val kept = cur.join(updates.select(keyCols.map(col): _*).distinct(),
      keyCols, "left_anti")
    val merged = kept.unionByName(updates)
    val out = effStats match {
      case Some(c) => merged.repartitionByRange(col(c))
      case None => merged
    }
    commit(name, out, effStats)
  }

  /** Expire all but the newest `keepLast` versions of every name
    * (Iceberg's expire-snapshots): each expired version's manifest
    * AND its version-scoped data directory are deleted — data dirs
    * are written fresh per commit, so an expired version's files are
    * referenced by no retained manifest (nothing orphaned, nothing
    * shared). Long-running ingest needs this: without retention the
    * store accretes every superseded version's data forever. The
    * newest version of every name is always retained, and [[readAt]]
    * time travel keeps working across the RETAINED versions; reads at
    * expired versions fail loudly. It also sweeps the residue of
    * crashed commits at versions up to the current one: data
    * directories no manifest of their version names, and temporary
    * manifests (later versions may belong to a commit in flight).
    * Returns the expired version numbers.
    */
  def expireSnapshots(keepLast: Int = 1): Seq[Int] = {
    require(keepLast >= 1, s"keepLast must be >= 1 (got $keepLast)")
    val ms = manifests
    val expired = ms.groupBy(_.name).toSeq.flatMap { case (name, vs) =>
      vs.map(_.version).dropRight(keepLast).map { v => dropVersion(v, name); v }
    }.sorted
    val top = ms.lastOption.fold(0)(_.version)
    val named = ms.map(m => (m.version, m.name)).toSet
    for ((v, s) <- numbered(Paths.get(root, "data"), SnapshotStore.DataDir) if v <= top;
         d <- list(s.toPath) if !named((v, d.getName)))
      deleteDir(d.toString)
    for ((v, f) <- numbered(snapDir, SnapshotStore.TempFile) if v <= top) f.delete()
    expired
  }

  /** Compact the latest snapshot of `name` into ~`targetBytes` data
    * files (Iceberg's rewrite-data-files action): long-running ingest
    * at 100 TB accretes small files per micro-batch/commit, and scan
    * task count — hence driver scheduling and footer-reading load —
    * grows with file count, not byte count. The data is rewritten in
    * ONE pass, committed as a NEW version of the same name, so
    * history and [[readAt]] time travel keep working against the old
    * files. The new manifest's footer-derived rowCount is checked
    * against the source manifest BEFORE it is published: on a
    * mismatch the rewritten data is deleted and it throws, and no
    * version was ever created.
    *
    * A zone-map snapshot (committed with a statsCol) keeps its
    * pruning guarantees: the rewrite RANGE-partitions on the stats
    * column (round-robin would smear every file's min/max across the
    * whole keyspace) and the new manifest records fresh stats.
    */
  def compact(name: String, targetBytes: Long = 128L << 20): Int = {
    val m = latest(name)
    val dir = dataPath(m.version, name)
    val totalBytes = parquetFiles(dir).map(_.getLen).sum
    val nFiles = math.max(1L, (totalBytes + targetBytes - 1) / targetBytes).toInt
    val src = scan(m)
    val rewritten = m.statsCol match {
      case Some(c) => src.repartitionByRange(nFiles, col(c))
      case None => src.repartition(nFiles)
    }
    publish(name, rewritten, m.statsCol) { n =>
      if (n.rowCount != m.rowCount) throw new IllegalStateException(
        s"compaction of '$name' rewrote ${n.rowCount} rows, expected ${m.rowCount}; nothing was published")
    }
  }

  /** Files added/removed between two snapshot versions of a name. */
  def diff(v1: Int, v2: Int): (Seq[String], Seq[String]) = {
    def files(v: Int): Set[String] = manifestAt(v).files.map(_.path).toSet
    val (a, b) = (files(v1), files(v2))
    ((b -- a).toSeq.sorted, (a -- b).toSeq.sorted)
  }
}

object SnapshotStore {
  private val ManifestFile = "v(\\d{1,9})\\.json".r
  /** `.v<N>-<uuid>.json.tmp`, and `.v<N>.json.tmp` of older stores. */
  private val TempFile = "\\.v(\\d{1,9})\\D.*\\.tmp".r
  private val DataDir = "s(\\d{1,9})".r
  private val Scheme = "[A-Za-z][A-Za-z0-9+.-]*:".r

  private val MetricsSuffix = "__metrics"
  private val MetricsSchema = new StructType()
    .add("partition_id", IntegerType).add("rows", LongType).add("file", StringType)

  /** One data file of a snapshot: its path, the write partition the
    * committer encoded in its name (-1 if none), its row count, and
    * the min/max of the snapshot's `statsCol` when the footer had them.
    */
  private[sources] final case class FileEntry(path: String, partition: Int, rows: Long,
                                              min: Option[Long], max: Option[Long])

  /** The `_snapshots/v<N>.json` record of snapshot N: its parent
    * version, name, total rows, zone-map column, Spark schema (as
    * `DataType.json`), data files, and the input files of the
    * committed DataFrame. Paths under the store root are relative to
    * it. Keys the decoder does not read (older stores also wrote a
    * writer id) are ignored.
    */
  private[sources] final case class Manifest(version: Int, parent: Int, name: String,
                                             rowCount: Long, statsCol: Option[String],
                                             schema: String, files: Seq[FileEntry],
                                             lineage: Seq[String]) {
    def structType: StructType = DataType.fromJson(schema).asInstanceOf[StructType]
  }

  private[sources] object Manifest {
    // `"key": value` spacing, as manifests have always been written
    private val writer = JsonMethods.mapper.writer(new DefaultPrettyPrinter(
      Separators.createDefaultInstance().withObjectFieldValueSpacing(Separators.Spacing.AFTER)))

    /** Absent options are left out of the object (JNothing fields are not written). */
    def encode(m: Manifest): String = {
      val files = m.files.map(f => ("path" -> f.path) ~ ("partition" -> f.partition) ~
        ("rows" -> f.rows) ~ ("min" -> f.min) ~ ("max" -> f.max))
      writer.writeValueAsString(("version" -> m.version) ~ ("parent" -> m.parent) ~
        ("name" -> m.name) ~ ("rowCount" -> m.rowCount) ~
        ("statsCol" -> m.statsCol) ~ ("schema" -> m.schema) ~ ("files" -> files) ~
        ("lineage" -> m.lineage)) + "\n"
    }

    /** Field-by-field mapping of the parsed JSON (no reflection); a
      * missing or mistyped field throws, naming the file.
      */
    def decode(json: String, file: String): Manifest = {
      def bad(what: String) = new IllegalStateException(s"manifest $file: $what")
      def opt[A](j: JValue, key: String)(f: PartialFunction[JValue, A]): Option[A] = j match {
        case JObject(fs) => fs.collectFirst { case (`key`, x) if x != JNull =>
          f.applyOrElse(x, (_: JValue) => throw bad(s"\"$key\" has the wrong type: $x"))
        }
        case _ => throw bad(s"expected an object holding \"$key\"")
      }
      def req[A](j: JValue, key: String)(f: PartialFunction[JValue, A]): A =
        opt(j, key)(f).getOrElse(throw bad(s"no \"$key\""))
      val str: PartialFunction[JValue, String] = { case JString(s) => s }
      val long: PartialFunction[JValue, Long] = { case JInt(n) if n.isValidLong => n.toLong }
      val int: PartialFunction[JValue, Int] = { case JInt(n) if n.isValidInt => n.toInt }
      val arr: PartialFunction[JValue, List[JValue]] = { case JArray(a) => a }
      val o = try JsonMethods.parse(json)
        catch { case e: Exception => throw new IllegalStateException(s"manifest $file is not valid JSON", e) }
      Manifest(req(o, "version")(int), req(o, "parent")(int), req(o, "name")(str),
        req(o, "rowCount")(long), opt(o, "statsCol")(str),
        req(o, "schema")(str),
        req(o, "files")(arr).map(f => FileEntry(req(f, "path")(str), req(f, "partition")(int),
          req(f, "rows")(long), opt(f, "min")(long), opt(f, "max")(long))),
        req(o, "lineage")(arr).map(str.applyOrElse(_, (x: JValue) => throw bad(s"lineage entry $x"))))
    }
  }
}
